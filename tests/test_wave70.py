"""Wave 70: BLEU components + condensation DAG."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bleu_components_match_pure_python(spark):
    """Every pair's clipped overlaps recomputed from raw texts."""
    import re

    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.operators.eval_metrics import eval_bleu_components

    out = eval_bleu_components(spark, SF).collect()
    assert out, "candidate frame is empty — fixture drift"
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").collect()
    }

    def toks(s):
        return re.findall(r"[a-z0-9]+", s.lower())

    for r in out:
        ta, tb = toks(texts[r.doc_id_a]), toks(texts[r.doc_id_b])
        c1a, c1b = Counter(ta), Counter(tb)
        ov1 = sum(min(c1a[g], c1b[g]) for g in c1a)
        b2a = Counter(zip(ta, ta[1:]))
        b2b = Counter(zip(tb, tb[1:]))
        ov2 = sum(min(b2a[g], b2b[g]) for g in b2a)
        assert (r.cand_len, r.ref_len) == (len(ta), len(tb))
        assert (r.overlap_1, r.overlap_2) == (ov1, ov2), (
            r.doc_id_a, r.doc_id_b,
        )
        assert r.no_brevity_penalty == (len(ta) >= len(tb))


def test_condensation_degrees_on_fixture(spark):
    from vector_ai_npm_spark.operators.graph_scc import graph_condensation

    rows = {r.scc_id: r for r in graph_condensation(spark, SF).collect()}
    # sf0.001: 150 customers = 15 full groups, no tail
    assert len(rows) == 15
    assert all(r.scc_size == 10 for r in rows.values())
    # interior group: out to g+1, g+2; in from g-1, g-2
    assert (rows[50].out_deg, rows[50].in_deg) == (2, 2)
    # first/last groups
    assert (rows[0].out_deg, rows[0].in_deg) == (2, 0)
    assert (rows[10].in_deg, rows[140].out_deg) == (1, 0)
    assert rows[130].out_deg == 1  # only g+1 exists


def test_wave70_parity(spark, sf_smoke):
    from tests.oracle_harness import compare
    from vector_ai_npm_spark.registry import all_oracles

    o = all_oracles()
    for name in ("eval_bleu_components", "graph_condensation"):
        problems = compare(spark, name, o[name], sf_smoke)
        assert not problems, (name, problems)
