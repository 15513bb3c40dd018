"""Vector-store lifecycle faces.

A store is built once and then lives: batches append through frozen
centroids, appends compact, ids are tombstoned, old versions are read
back, and the manifest table log commits by compare-and-swap and folds
checkpoints.  Each face drives the store verbs of ``retrieval.store``
and ``io.tablelog`` end to end and pins their contract as
oracle-checked rows; its notes sit in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query


# `vector_store_ivf_append` — incremental index maintenance (the
# missing half of the at-rest IVF story: real stores grow batch by
# batch, and a full rebuild per batch prices a sample-sized problem
# at corpus scale): build the cell-partitioned store from the base
# two-thirds of the corpus, APPEND the remaining third through the
# frozen centroids (retrieval.store.append_ivf_store — cell
# boundaries never move, new files land in existing cell dirs), then
# pin the contract: store row count = base + appended EXACTLY, an
# APPENDED vector's self-search surfaces at rank 1 with sim ≈ 1, and
# its top-k overlap vs the exact ranking clears the same ≥3/5 floor
# as `ivf_store_recall`.
#
# Scale shape: the append path is one Arrow-batched assignment over the
# new batch only (base store untouched).

@query(
    "vector_store_ivf_append",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE vec_id % 3 <> 0) AS BIGINT)
             AS n_base,
           CAST(COUNT(*) FILTER (WHERE vec_id % 3 = 0) AS BIGINT)
             AS n_appended,
           CAST(COUNT(*) AS BIGINT) AS n_store,
           CAST(8 AS BIGINT) AS n_cells,
           TRUE AS self_rank1_ok,
           TRUE AS recall_ok
    FROM embeddings
    """,
)
def vector_store_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append contract — see the notes above.  The query vector is an
    APPENDED row (vec_id = 42, 42 % 3 = 0), so rank-1 self-match
    proves appended files are visible to the pruned search path."""
    import tempfile

    from vector_ai_npm_spark.functions.vectors import cosine_similarity
    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store,
        persist_ivf_store,
        search_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    store_dir = tempfile.mkdtemp(prefix="ivf_append_")
    persist_ivf_store(base, store_dir, nlist=8)
    append_ivf_store(batch, store_dir)
    stored = spark.read.parquet(f"{store_dir}/cells")
    qvec = list(
        emb.where(F.col("vec_id") == 42).select("embedding").first()[0]
    )
    # corpus-scaled probe budget (r11 sf1 catch — see store.scaled_nprobe)
    from vector_ai_npm_spark.retrieval.store import scaled_nprobe

    hits = search_ivf_store(
        spark, store_dir, qvec, k=5,
        nprobe=scaled_nprobe(emb.count(), nlist=8),
    )
    # exact top-5 over the FULL corpus (base + appended)
    q = F.lit(qvec).cast("array<float>")
    exact = (
        emb.select(
            "vec_id", cosine_similarity(F.col("embedding"), q).alias("sim")
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(5)
        .select(F.col("vec_id").alias("e_vec_id"))
    )
    overlap = hits.join(
        exact, hits.vec_id == F.col("e_vec_id")
    ).agg(F.count(F.lit(1)).alias("n_overlap"))
    self_ok = hits.where(
        (F.col("rank") == 1)
        & (F.col("vec_id") == 42)
        & (F.col("similarity") >= 0.999999)
    ).agg(F.count(F.lit(1)).alias("n_self"))
    counts = (
        base.agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
        .crossJoin(
            F.broadcast(
                batch.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_appended")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                stored.agg(F.count(F.lit(1)).cast("bigint").alias("n_store"))
            )
        )
        .crossJoin(
            F.broadcast(
                spark.read.parquet(f"{store_dir}/centroids").agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_cells")
                )
            )
        )
    )
    return (
        counts.crossJoin(F.broadcast(self_ok))
        .crossJoin(F.broadcast(overlap))
        .select(
            "n_base", "n_appended", "n_store", "n_cells",
            (F.col("n_self") == 1).alias("self_rank1_ok"),
            (F.col("n_overlap") >= 3).alias("recall_ok"),
        )
    )


# `vector_store_ivf_compact` — the maintenance close of the
# append lifecycle (wave 28 batch append → wave 29 streaming append →
# THIS: fold the accumulated `appends/batch=*` subtrees back into the
# base cell layout).  Small per-batch files are how streaming appends
# keep write cost bounded, but read cost grows with file COUNT even
# though partition pruning bounds bytes — compaction is the standard
# remedy (every table format ships one; this is the hand-rolled-layout
# equivalent with a dir-existence crash protocol,
# retrieval/store.py::compact_ivf_appends).
#
# Contract pinned: row-count conservation through build → 2 streaming-
# style batch appends → compact (store = base + appended EXACTLY, no
# row lost or doubled), the appends subtree GONE after compaction, the
# file count not larger than before, an APPENDED vector's rank-1
# self-search through the partition-pruned path surviving compaction,
# and the compaction no-op on a second run.
#
# Scale shape: compaction reads base ∪ appends once, dedups on the id
# key, and rewrites cell-partitioned — one shuffle, amortized over
# every read after it; crash windows converge (crash-simulation tests
# in tests/test_wave29.py).

@query(
    "vector_store_ivf_compact",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE vec_id % 3 <> 0) AS BIGINT)
             AS n_base,
           CAST(COUNT(*) FILTER (WHERE vec_id % 3 = 0) AS BIGINT)
             AS n_appended,
           CAST(COUNT(*) AS BIGINT) AS n_store,
           TRUE AS appends_cleared,
           TRUE AS self_rank1_ok,
           TRUE AS second_compact_noop
    FROM embeddings
    """,
)
def vector_store_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction contract — see the notes above."""
    import glob
    import os
    import tempfile

    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store_batch,
        compact_ivf_appends,
        persist_ivf_store,
        read_ivf_cells,
        search_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    b0 = emb.where(F.col("vec_id") % 6 == 0)
    b1 = emb.where(F.col("vec_id") % 6 == 3)
    store_dir = tempfile.mkdtemp(prefix="ivf_compact_") + "/store"
    persist_ivf_store(base, store_dir, nlist=8)
    append_ivf_store_batch(b0, store_dir, 0)
    append_ivf_store_batch(b1, store_dir, 1)
    n_files_before = len(
        glob.glob(f"{store_dir}/cells/cell_id=*/*.parquet")
        + glob.glob(f"{store_dir}/appends/batch=*/cell_id=*/*.parquet")
    )
    n_folded = compact_ivf_appends(spark, store_dir)
    n_files_after = len(
        glob.glob(f"{store_dir}/cells/cell_id=*/*.parquet")
    )
    appends_cleared = (
        not os.path.isdir(f"{store_dir}/appends")
        and n_files_after <= n_files_before
        and n_folded > 0
    )
    second_noop = compact_ivf_appends(spark, store_dir) == 0
    stored = read_ivf_cells(spark, store_dir)
    qvec = list(
        emb.where(F.col("vec_id") == 42).select("embedding").first()[0]
    )
    hits = search_ivf_store(spark, store_dir, qvec, k=5, nprobe=4)
    self_ok = hits.where(
        (F.col("rank") == 1)
        & (F.col("vec_id") == 42)
        & (F.col("similarity") >= 0.999999)
    ).agg((F.count(F.lit(1)) == 1).alias("ok"))
    counts = (
        base.agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
        .crossJoin(
            F.broadcast(
                b0.unionByName(b1).agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_appended")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                stored.agg(F.count(F.lit(1)).cast("bigint").alias("n_store"))
            )
        )
    )
    return counts.crossJoin(F.broadcast(self_ok)).select(
        "n_base",
        "n_appended",
        "n_store",
        F.lit(bool(appends_cleared)).alias("appends_cleared"),
        F.col("ok").alias("self_rank1_ok"),
        F.lit(bool(second_noop)).alias("second_compact_noop"),
    )


# `store_time_travel_diff` — the hand-rolled versioned parquet store
# (streaming/sinks.py: one `v{batch_id}` dir per committed micro-batch,
# publish-by-rename, `_SUCCESS`-gated) has been written and compacted
# by earlier faces; this face pins the READ side that makes versions
# useful: reproducing a PAST state (`read_store(before=k)` — the
# AS OF k semantics Delta/Iceberg sell) and computing an incremental
# diff between two states without replaying inputs.
#
# The contract: stream the events in two eras through the upsert merge
# (the wave-57 split), then
#
# * the AS-OF read at the era boundary must equal the one-shot SQL
#     aggregate over era 1 ONLY — byte-exact history, not an
#     approximation of it;
# * latest-minus-as-of per-user deltas must equal the era-2-only
#     aggregate — the incremental-consumer pattern (downstream jobs
#     reading "what changed since version k" instead of the world);
# * users untouched in era 2 appear in NO diff row (the sparsity
#     that makes incremental consumption cheaper than the world).
#
# Scale shape: versions are parquet dirs; AS-OF and diff reads are
# plain scans + one keyed join — no replay, no state reconstruction.

_RUN1_FILES = 4
_RUN2_FILES = 2
_DEC = "decimal(30,8)"


@query(
    "store_time_travel_diff",
    oracle="""
    WITH cut AS (
      SELECT percentile_cont(0.5) WITHIN GROUP
               (ORDER BY epoch_us(ts)) AS c
      FROM events
    )
    SELECT e.user_id,
           CAST(CAST(CAST(SUM(CAST(e.value AS DECIMAL(30,8)))
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS delta_value,
           CAST(COUNT(*) AS BIGINT) AS delta_events,
           TRUE AS asof_ok
    FROM events e, cut
    WHERE epoch_us(e.ts) > cut.c
    GROUP BY e.user_id
    """,
)
def store_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF + incremental diff — see the notes above.  Output rows
    are exactly the era-2-touched users with their deltas; `asof_ok`
    carries the byte-exact history check (as-of state ≡ era-1 one-shot
    aggregate) so a versioning defect flips every row."""
    import tempfile

    from vector_ai_npm_spark.streaming.sinks import (
        _store_versions,
        read_store,
        run_upsert_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    cut = ev.agg(
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")
    ).first()[0]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = tempfile.mkdtemp(prefix="timetravel_")
    ind, store, ckpt = f"{base}/in", f"{base}/store", f"{base}/ckpt"
    era1 = ev.where(us <= cut).select("user_id", "value")
    ev.where(us <= cut).select("user_id", "value").repartition(
        _RUN1_FILES
    ).write.parquet(ind)
    run_upsert_stream(spark, ind, store, ckpt)
    boundary = max(_store_versions(store)) + 1
    ev.where(us > cut).select("user_id", "value").repartition(
        _RUN2_FILES
    ).write.mode("append").parquet(ind)
    run_upsert_stream(spark, ind, store, ckpt)

    asof = read_store(spark, store, before=boundary)
    latest = read_store(spark, store)
    # byte-exact history: the as-of state equals era-1's one-shot agg
    era1_agg = era1.groupBy("user_id").agg(
        F.sum(F.col("value").cast(_DEC)).cast(_DEC).alias("tv"),
        F.count(F.lit(1)).alias("n"),
    )
    mismatches = (
        asof.join(era1_agg, "user_id", "full_outer")
        .where(
            (F.col("total_value_dec") != F.col("tv"))
            | (F.col("n_events") != F.col("n"))
            | F.col("total_value_dec").isNull()
            | F.col("tv").isNull()
        )
        .count()
    )
    asof_ok = mismatches == 0
    a = asof.select(
        "user_id",
        F.col("total_value_dec").alias("v0"),
        F.col("n_events").alias("n0"),
    )
    diff = (
        latest.join(a, "user_id", "left")
        .select(
            "user_id",
            (
                F.col("total_value_dec")
                - F.coalesce(F.col("v0"), F.lit(0).cast(_DEC))
            ).cast(_DEC).alias("delta_dec"),
            (F.col("n_events") - F.coalesce(F.col("n0"), F.lit(0))).alias(
                "delta_events"
            ),
        )
        .where(F.col("delta_events") > 0)
    )
    return diff.select(
        "user_id",
        F.col("delta_dec").cast("decimal(38,8)").cast("string")
        .cast("double").alias("delta_value"),
        F.col("delta_events").cast("bigint").alias("delta_events"),
        F.lit(bool(asof_ok)).alias("asof_ok"),
    )


# `vector_store_ivf_delete` — the missing third verb of the at-rest
# IVF lifecycle (build r4 / append r8 / compact r9-r10 / DELETE r11).
# A delete at 100 TB must not rewrite the store: retrieval.store.
# delete_ivf_vectors appends an ids-sized tombstone parquet, the read
# face (read_ivf_cells) anti-joins it out via broadcast, pruned search
# stops returning the ids immediately, and the next compaction
# PHYSICALLY purges the rows and retires exactly the tombstone files
# it pinned at entry (a delete landing mid-compaction survives to the
# next run — the wave-44 pin-at-entry discipline extended to deletes).
# The face pins: visible counts before and after compaction both equal
# total − deleted, the post-compact layout physically dropped the rows
# (raw cells scan = visible count, tombstone dir empty), and a deleted
# vector's own-embedding search no longer surfaces it.
#
# Scale shape: ids-sized writes + broadcast anti-joins over the
# partition-pruned store.

@query(
    "vector_store_ivf_delete",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE vec_id % 7 = 0) AS BIGINT)
             AS n_deleted,
           CAST(COUNT(*) FILTER (WHERE vec_id % 7 <> 0) AS BIGINT)
             AS n_visible_pre,
           CAST(COUNT(*) FILTER (WHERE vec_id % 7 <> 0) AS BIGINT)
             AS n_visible_post,
           TRUE AS purge_physical,
           TRUE AS tombstones_cleared,
           TRUE AS search_excludes_deleted
    FROM embeddings
    """,
)
def vector_store_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-delete lifecycle contract — see the notes above.
    vec_id 42 is both APPENDED (42 % 3 = 0) and DELETED (42 % 7 = 0),
    so the search check proves tombstones shadow appended rows too."""
    import glob
    import tempfile

    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store,
        compact_ivf_appends,
        delete_ivf_vectors,
        persist_ivf_store,
        read_ivf_cells,
        search_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    store_dir = tempfile.mkdtemp(prefix="ivf_delete_")
    persist_ivf_store(base, store_dir, nlist=8)
    append_ivf_store(batch, store_dir)

    # r12 (verdict item 6): the corpus-derived delete set goes to the
    # store as a DataFrame — no .collect() through the driver; the
    # request-sized list path stays covered by tests/test_wave66.py
    doomed = emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    qvec = list(
        emb.where(F.col("vec_id") == 42).select("embedding").first()[0]
    )
    n_deleted = delete_ivf_vectors(spark, store_dir, doomed)

    n_visible_pre = read_ivf_cells(spark, store_dir).count()
    hits = search_ivf_store(spark, store_dir, qvec, k=5, nprobe=8)
    search_ok = hits.where(F.col("vec_id") == 42).count() == 0

    compact_ivf_appends(spark, store_dir)
    n_visible_post = read_ivf_cells(spark, store_dir).count()
    # physical purge: the RAW cells layout (no anti-join) already
    # excludes the deleted rows, and the pinned tombstone files are gone
    n_raw = spark.read.parquet(f"{store_dir}/cells").count()
    tombs_left = glob.glob(f"{store_dir}/tombstones/*.parquet")

    n_total = emb.count()
    return spark.createDataFrame(
        [(
            n_total, n_deleted, n_visible_pre, n_visible_post,
            n_raw == n_visible_post, not tombs_left, search_ok,
        )],
        "n_total long, n_deleted long, n_visible_pre long, "
        "n_visible_post long, purge_physical boolean, "
        "tombstones_cleared boolean, search_excludes_deleted boolean",
    )


# `store_manifest_acid` drives the full lifecycle the log exists for:
# three append commits (thirds of events), a compacting REPLACE computed
# against the then-current version, then a post-compaction append — and
# reads back both the latest snapshot and an AS-OF read of the second
# append, proving (a) replace preserved the exact pre-compaction
# content, (b) the later append is invisible to the as-of read, and
# (c) row counts and exact-decimal totals match a pure-SQL recompute of
# each prefix.  Version numbers are protocol-deterministic (0,1,2
# appends → 3 replace → 4 append), so the oracle can pin them.
#
# Scale shape: every commit is one tiny JSON CAS; reads list exactly the
# snapshot's files (no directory scans of dead data); the replace
# rewrites live data once — the compaction cost, paid when chosen.

_DSUM = (
    lambda col: F.sum(F.col(col).cast("decimal(30,8)"))
    .cast("decimal(38,8)")
    .cast("double")
)


@query(
    "store_manifest_acid",
    oracle="""
    WITH b AS (
      SELECT event_id, user_id, value,
             CAST(event_id % 3 AS INTEGER) AS third
      FROM events
    )
    SELECT 'as_of_appends' AS tag, CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS total_value
    FROM b WHERE third <= 1
    UNION ALL
    SELECT 'post_compact', CAST(3 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE)
    FROM b
    UNION ALL
    SELECT 'latest', CAST(4 AS BIGINT),
           CAST(COUNT(*) AS BIGINT) * 2,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) * 2
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE)
    FROM b
    """,
)
def store_manifest_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-table lifecycle — see the notes above.  The final
    append doubles the table (the same events again with shifted ids),
    so 'latest' must see 2× rows while 'post_compact' and the as-of
    read are unaffected."""
    import tempfile

    from vector_ai_npm_spark.io.tablelog import (
        append_table,
        read_table,
        replace_table,
        snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    tdir = tempfile.mkdtemp(prefix="tablelog_")
    for third in (0, 1, 2):
        v = append_table(ev.where(F.col("event_id") % 3 == third), tdir)
    assert v == 2, f"append versions drifted: {v}"

    # compaction: same rows, coalesced files, CAS'd against version 2
    current, _files = snapshot(tdir)
    replace_table(read_table(spark, tdir).coalesce(2), tdir, current)

    # post-compaction append: the whole corpus again with shifted ids
    append_table(
        ev.select(
            (F.col("event_id") + 10**12).alias("event_id"),
            "user_id",
            "value",
        ),
        tdir,
    )

    def stats(tag: str, version: int) -> DataFrame:
        df = read_table(spark, tdir, version)
        return df.agg(
            F.lit(tag).alias("tag"),
            F.lit(version).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            _DSUM("value").alias("total_value"),
        )

    return (
        stats("as_of_appends", 1)
        .unionByName(stats("post_compact", 3))
        .unionByName(stats("latest", 4))
    )


# `store_manifest_checkpoint` — drives io/tablelog.py across a
# checkpoint boundary: 20 appends (a folded checkpoint record lands at
# version 16, CHECKPOINT_EVERY), then reads latest + two as-of
# versions, one below and one above the checkpoint.  The as-of reads
# prove checkpointed snapshot resolution is byte-equivalent to the
# full fold (time travel must not see the checkpoint as a commit), and
# the face also pins that the checkpoint file actually exists — a
# regression to always-full-fold would silently reintroduce the
# O(versions) snapshot cost this exists to kill.
#
# Reference scope: §2B B2 (sinks/table format);
# the reference delegates storage to Postgres (vector-client.ts:141).

_N_APPENDS = 20  # crosses the CHECKPOINT_EVERY=16 boundary


@query(
    "store_manifest_checkpoint",
    oracle=f"""
    WITH b AS (
      SELECT event_id, value,
             CAST(event_id % {_N_APPENDS} AS INTEGER) AS slice
      FROM events
    )
    SELECT 'asof_pre_ckpt' AS tag, CAST(9 AS BIGINT) AS version,
           CAST(COUNT(*) FILTER (WHERE slice <= 9) AS BIGINT) AS n_rows,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
                FILTER (WHERE slice <= 9)
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS total_value,
           TRUE AS checkpoint_exists
    FROM b
    UNION ALL
    SELECT 'asof_post_ckpt', CAST(18 AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE slice <= 18) AS BIGINT),
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
                FILTER (WHERE slice <= 18)
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE),
           TRUE
    FROM b
    UNION ALL
    SELECT 'latest', CAST({_N_APPENDS - 1} AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE),
           TRUE
    FROM b
    """,
)
def store_manifest_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed-log lifecycle — see the notes above."""
    import os
    import tempfile

    from vector_ai_npm_spark.io import tablelog
    from vector_ai_npm_spark.io.tablelog import append_table, read_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    tdir = tempfile.mkdtemp(prefix="tablelog_ckpt_")
    for s in range(_N_APPENDS):
        v = append_table(ev.where(F.col("event_id") % _N_APPENDS == s), tdir)
    assert v == _N_APPENDS - 1, f"append versions drifted: {v}"

    has_ckpt = os.path.exists(tablelog._checkpoint_path(tdir, 16))

    def stats(tag: str, version: int) -> DataFrame:
        df = read_table(spark, tdir, version)
        return df.agg(
            F.lit(tag).alias("tag"),
            F.lit(version).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            _DSUM("value").alias("total_value"),
            F.lit(bool(has_ckpt)).alias("checkpoint_exists"),
        )

    return (
        stats("asof_pre_ckpt", 9)
        .unionByName(stats("asof_post_ckpt", 18))
        .unionByName(stats("latest", _N_APPENDS - 1))
    )
