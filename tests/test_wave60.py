"""Wave 60: versioned-store time travel invariants."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table

SF = "/root/testdata/sf0.001"
_DEC = "decimal(30,8)"


def test_asof_reads_reproduce_each_committed_state(spark):
    """Every intermediate version must be reproducible: read_store
    (before=k) for each k replays history state-by-state, and each
    state equals the one-shot aggregate over the files batches < k
    consumed (maxFilesPerTrigger=1 → batch i ↔ file i in commit
    order, recovered from the checkpoint's offsets)."""
    import glob
    import json

    from vector_ai_npm_spark.streaming.sinks import (
        _store_versions,
        read_store,
        run_upsert_stream,
    )

    ev = load_table(spark, SF, "events").select("user_id", "value")
    base = tempfile.mkdtemp(prefix="tt_states_")
    ind, store, ckpt = f"{base}/in", f"{base}/store", f"{base}/ckpt"
    ev.repartition(3).write.parquet(ind)
    run_upsert_stream(spark, ind, store, ckpt)
    versions = _store_versions(store)
    assert versions == [0, 1, 2]
    # recover which file each batch consumed from the source offsets
    batch_files = {}
    for off in glob.glob(f"{ckpt}/sources/0/*"):
        name = off.rsplit("/", 1)[1]
        if not name.isdigit():
            continue
        with open(off) as fh:
            entries = [
                json.loads(ln) for ln in fh if ln.strip().startswith("{")
            ]
        batch_files[int(name)] = {
            e["path"].split("/")[-1] for e in entries
        }
    seen = set()
    for k in versions:
        seen |= batch_files[k]
        state = read_store(spark, store, before=k + 1)
        paths = [f"{ind}/{p}" for p in sorted(seen)]
        want = (
            spark.read.parquet(*paths)
            .groupBy("user_id")
            .agg(
                F.sum(F.col("value").cast(_DEC)).cast(_DEC).alias("tv"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        bad = state.join(want, "user_id", "full_outer").where(
            (F.col("total_value_dec") != F.col("tv"))
            | (F.col("n_events") != F.col("n"))
            | F.col("total_value_dec").isNull()
            | F.col("tv").isNull()
        )
        assert bad.count() == 0, f"as-of v{k} diverges"


def test_diff_rows_are_exactly_touched_users(spark):
    from vector_ai_npm_spark.retrieval.lifecycle import store_time_travel_diff

    rows = store_time_travel_diff(spark, SF).collect()
    assert rows and all(r.asof_ok for r in rows)
    assert all(r.delta_events > 0 for r in rows)
