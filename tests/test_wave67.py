"""Wave 67: .npy tensor-shard sink/source roundtrip."""

from __future__ import annotations

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F


def _frame(spark, n=25, dim=8):
    rows = [
        (i, i % 5, [float(np.float32((i * 31 + j) % 17) / 17.0)
                    for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )


def test_npy_roundtrip_bit_exact(spark, tmp_path):
    from vector_ai_npm_spark.io.queries import (
        read_npy_shards,
        write_npy_shards,
    )

    df = _frame(spark)
    out = str(tmp_path / "shards")
    assert write_npy_shards(df.repartition(3), out, dim=8) == 25
    parsed = read_npy_shards(spark, out)
    got = {r.vec_id: (r.label, tuple(r.embedding)) for r in parsed.collect()}
    want = {r.vec_id: (r.label, tuple(r.embedding)) for r in df.collect()}
    assert got == want


def test_npy_shards_are_spec_conformant(spark, tmp_path):
    """Every shard must load with plain numpy (allow_pickle=False) and
    carry the structured dtype — the public-format contract."""
    from vector_ai_npm_spark.io.queries import write_npy_shards

    out = str(tmp_path / "shards")
    write_npy_shards(_frame(spark).repartition(2), out, dim=8)
    files = glob.glob(f"{out}/*.npy")
    assert len(files) >= 2  # one per non-empty batch/partition
    total = 0
    for f in files:
        rec = np.load(f, allow_pickle=False)
        assert rec.dtype.names == ("vec_id", "label", "embedding")
        assert rec["embedding"].dtype == np.float32
        assert rec["embedding"].shape[1] == 8
        total += len(rec)
    assert total == 25


def test_npy_corrupt_shard_fails_loudly(spark, tmp_path):
    from vector_ai_npm_spark.io.queries import (
        read_npy_shards,
        write_npy_shards,
    )

    out = str(tmp_path / "shards")
    write_npy_shards(_frame(spark).coalesce(1), out, dim=8)
    bad = f"{out}/shard-corrupt.npy"
    with open(bad, "wb") as fh:
        fh.write(b"\x93NUMPY\x01\x00garbage-header")
    with pytest.raises(Exception):
        read_npy_shards(spark, out).collect()


def test_scan_npy_embeddings_parity(spark, sf_smoke):
    from tests.oracle_harness import compare
    from vector_ai_npm_spark.registry import all_oracles

    problems = compare(
        spark, "scan_npy_embeddings",
        all_oracles()["scan_npy_embeddings"], sf_smoke,
    )
    assert not problems, problems


def test_scan_npy_all_roundtrip_flags_true(spark, sf_smoke):
    from vector_ai_npm_spark.io.queries import scan_npy_embeddings

    out = scan_npy_embeddings(spark, sf_smoke)
    assert out.where(~F.col("roundtrip_ok")).count() == 0
