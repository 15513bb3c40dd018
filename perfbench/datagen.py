"""Seeded fixture generator for the benchmark.

Writes the ten parquet tables the package's registry faces read
(``region nation customer supplier part orders lineitem events documents
embeddings``) into one directory, with the schemas and value domains of
the package's own test fixtures: TPC-H-shaped relational tables, a
word-salad document corpus with a few planted near-duplicates, unit-norm
64-dim float embeddings, and an event stream.  The same (seed, scale)
always gives byte-identical tables.

Scale is the fixtures' scale factor: ``orders = 1_500_000 * scale``,
``documents = max(500, 50_000 * scale)`` and
``embeddings = max(500, 20_000 * scale)``, matching the fixtures at
sf0.001, sf0.01 and sf0.1.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ADJ = ("blue", "cold", "hot", "large", "small", "red", "green", "old")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.44, 0.14, 0.14, 0.14)
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "word",
)
EMBED_DIM = 64


def table_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1500, int(1_500_000 * scale)),
        "events": max(1000, int(1_000_000 * scale)),
        "users": max(15, int(15_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _relational(rng: np.random.Generator, sz: dict[str, int]) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, np_ = sz["customer"], sz["supplier"], sz["part"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGS[i] for i in rng.integers(0, 5, nc)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(np.arange(ns) % 25, pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, np_) / 10.0, 1),
    })
    no = sz["orders"]
    odate = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(dt.date(1995, 1, 1), odate),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, no)],
    })
    # 0..12 lines per order, mean ~4 (the fixtures' basket shape)
    lines = np.minimum(rng.poisson(4.0, no), 12)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(dt.date(1995, 1, 1), odate[okey] + rng.integers(1, 96, nl)),
    })
    return out


def _events(rng: np.random.Generator, sz: dict[str, int]) -> pa.Table:
    n = sz["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, sz["users"], n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def make_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad corpus; about 5% of documents are a one-word edit of an
    earlier document with its lang and source, so the dedup faces, which
    block on (lang, source), find real near-duplicate pairs."""
    lang = rng.choice(5, n, p=LANG_P)
    source = rng.integers(0, 20, n)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            orig = int(rng.integers(0, i))
            words = texts[orig].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            lang[i], source[i] = lang[orig], source[orig]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 97)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in lang],
        "source": [f"src{i}" for i in source],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def mdx_corpus(docs: pa.Table) -> pa.Table:
    """(doc_id, mdx) ingest input: the fixtures' word-salad text laid out
    as an MDX document with a '## Context' first section (every 7th
    document opens with '## Intro' instead and is rejected by ingest)."""
    out = []
    for doc_id, text, lang, source in zip(
        docs["doc_id"].to_pylist(), docs["text"].to_pylist(),
        docs["lang"].to_pylist(), docs["source"].to_pylist(),
    ):
        first = "## Intro" if doc_id % 7 == 0 else "## Context"
        out.append(
            f"{first}\n{text[:100]}\n## Details {lang}\n{text[100:250]}\n"
            f"### Notes {source}\n{text[250:]}"
        )
    return pa.table({"doc_id": docs["doc_id"], "mdx": out})


def make_embeddings(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """Unit-norm float32 vectors with a 0..9 label."""
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sz = table_sizes(scale)
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    tables = _relational(np.random.default_rng(streams["lineitem"]), sz)
    tables["events"] = _events(np.random.default_rng(streams["events"]), sz)
    tables["documents"] = make_documents(
        np.random.default_rng(streams["documents"]), sz["documents"])
    tables["embeddings"] = make_embeddings(
        np.random.default_rng(streams["embeddings"]), sz["embeddings"])
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in TABLES}
