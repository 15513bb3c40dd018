"""Wave-20 operators: decile gains/lift, HHI concentration, Fano
burstiness, lag features, lang-ID confusion, per-domain caps."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from vector_ai_npm_spark import registry
from vector_ai_npm_spark.io.sources import load_table


def test_lift_gain_matches_sequential_ntile(spark, sf_oracle):
    """Re-derive the decile table from a driver-side sorted scan with
    the SQL-ntile closed form; lift fractions must match exactly and
    the top decile must out-capture the bottom (informative model)."""
    from vector_ai_npm_spark.operators.eval_metrics import (
        _N_TILES,
        _cal_scored_id,
    )

    rows = _cal_scored_id(load_table(spark, sf_oracle, "embeddings")).collect()
    rows.sort(key=lambda r: (-r.s_milli, r.vec_id))
    n = len(rows)
    per = {d: [0, 0] for d in range(1, _N_TILES + 1)}
    big, small = n % _N_TILES, _N_TILES - n % _N_TILES
    sizes = [n // _N_TILES + 1] * big + [n // _N_TILES] * small
    i = 0
    for d, size in enumerate(sizes, start=1):
        for r in rows[i : i + size]:
            per[d][0] += 1
            per[d][1] += r.pos
        i += size
    got = {r.decile: r for r in registry.run(
        "eval_lift_gain", spark, sf_oracle
    ).collect()}
    assert set(got) == set(range(1, _N_TILES + 1))
    tot_n = sum(v[0] for v in per.values())
    tot_pos = sum(v[1] for v in per.values())
    cum_n = cum_pos = 0
    for d in range(1, _N_TILES + 1):
        cum_n += per[d][0]
        cum_pos += per[d][1]
        r = got[d]
        assert (r.n, r.n_pos, r.cum_n, r.cum_pos) == (
            per[d][0], per[d][1], cum_n, cum_pos,
        )
        assert Fraction(r.lift_num, r.lift_den) == Fraction(
            cum_pos * tot_n, cum_n * tot_pos
        )
    assert got[1].lift > 1.0 > got[_N_TILES].n_pos / got[_N_TILES].n / (
        tot_pos / tot_n
    )
    assert got[_N_TILES].lift == 1.0  # full-population lift is 1 exactly


def test_hhi_matches_fraction_reference(spark, sf_oracle):
    ev = load_table(spark, sf_oracle, "events")
    counts = [
        r.c
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    total = sum(counts)
    hhi = Fraction(sum(c * c for c in counts), total * total)
    got = registry.run("events_concentration_hhi", spark, sf_oracle).collect()[0]
    assert (got.n_users, got.n_events) == (len(counts), total)
    assert Fraction(got.hhi_num, got.hhi_den) == hhi
    assert got.top1_count == max(counts)
    # HHI bounds: 1/n (uniform) <= HHI <= 1 (monopoly)
    assert Fraction(1, len(counts)) <= hhi <= 1
    assert abs(got.effective_n - 1.0 / got.hhi) < 1e-9


def test_fano_matches_fraction_reference(spark, sf_oracle):
    ev = load_table(spark, sf_oracle, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append(r.x)
    got = {r.event_type: r for r in registry.run(
        "events_burstiness_fano", spark, sf_oracle
    ).collect()}
    assert set(got) == {t for t, xs in by_type.items() if len(xs) > 1}
    for t, xs in by_type.items():
        if len(xs) <= 1:
            continue
        n, s = len(xs), sum(xs)
        want = Fraction(n * sum(x * x for x in xs) - s * s, (n - 1) * s)
        r = got[t]
        assert (r.n_days, r.total) == (n, s)
        assert Fraction(r.fano_num, r.fano_den) == want
        assert r.fano > 0


def test_lag_features_match_python(spark, sf_oracle):
    ev = load_table(spark, sf_oracle, "events").select(
        "event_id", "user_id", "ts", "value", "event_type"
    ).collect()
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    want = {}
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(rs):
            prev = rs[i - 1] if i else None
            nxt = rs[i + 1] if i + 1 < len(rs) else None
            gap = None
            if prev is not None:
                delta = r.ts - prev.ts
                gap = (
                    delta.days * 86_400_000_000
                    + delta.seconds * 1_000_000
                    + delta.microseconds
                )
            want[r.event_id] = (
                prev.value if prev else None,
                r.value - prev.value if prev else None,
                gap,
                nxt.event_type if nxt else None,
            )
    got = registry.run("window_lag_features", spark, sf_oracle).collect()
    assert len(got) == len(want)
    for r in got:
        pv, vd, gap, nt = want[r.event_id]
        assert r.prev_value == pv and r.next_type == nt
        if vd is None:
            assert r.value_delta is None and r.gap_us is None
        else:
            assert r.value_delta == vd
            assert r.gap_us == gap


def test_langid_confusion_consistent_with_langid(spark, sf_oracle):
    preds = registry.run("text_langid", spark, sf_oracle).collect()
    from collections import Counter

    want = Counter((r.labeled_lang, r.predicted_lang) for r in preds)
    got = registry.run("text_langid_confusion", spark, sf_oracle).collect()
    assert {
        (r.labeled_lang, r.predicted_lang): r.n for r in got
    } == dict(want)
    n_docs = len(preds)
    for r in got:
        assert r.is_correct == (r.labeled_lang == r.predicted_lang)
        assert r.share == r.n / n_docs
    assert sum(r.n for r in got) == n_docs


def test_domain_cap_contract(spark, sf_oracle):
    """<= cap per source, deterministic pick set, capped flag honest."""
    from vector_ai_npm_spark.text.curation import _DOMAIN_CAP

    docs = load_table(spark, sf_oracle, "documents")
    totals = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = registry.run("curate_domain_cap", spark, sf_oracle).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
        assert r.source_total == totals[r.source]
        assert r.was_capped == (totals[r.source] > _DOMAIN_CAP)
    assert set(by_src) == set(totals)
    for s, rs in by_src.items():
        assert len(rs) == min(_DOMAIN_CAP, totals[s])
        assert sorted(r.pick_rank for r in rs) == list(range(1, len(rs) + 1))
    again = registry.run("curate_domain_cap", spark, sf_oracle).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)
