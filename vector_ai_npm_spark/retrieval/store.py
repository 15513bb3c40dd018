"""Persisted vector-store layouts (the at-rest half of B9's scale path).

Reference context: the reference's store is a Postgres+pgvector table
behind `ingestData`/`queryEmbeddings` (vector-client.ts:310-341, :362-
421) — one machine, one index. At 100 TB the store must be an object-
store layout whose QUERY cost scales with the slice you read, not the
corpus. Two layouts, each optimizing a different access path:

1. IVF-partitioned (``partitionBy(cell_id)``): vectors land in the
   directory of their k-means cell. An nprobe search reads ONLY the
   probed cell directories — Spark's partition pruning turns the
   centroid decision into a file-listing decision, so scan cost is
   ~nprobe/nlist of the corpus regardless of corpus size.
   tests/test_retrieval.py pins PartitionFilters in the plan.

2. Bucketed-by-id (``bucketBy(vec_id)``): point fetches / batch joins
   by vector id (the "hydrate these 10k doc vectors" path) sort-merge
   against another bucketed side with ZERO exchanges.

Both builds are one extra shuffle at write time — paid once, amortized
over every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.vectors import cosine_similarity
from vector_ai_npm_spark.retrieval.ivf import build_ivf_index


def persist_ivf_store(
    store: DataFrame,
    store_dir: str,
    vec_col: str = "embedding",
    nlist: int = 8,
    seed: int = 42,
) -> None:
    """Write the store as cell-partitioned parquet + a centroids side file."""
    assigned, centroids = build_ivf_index(store, vec_col, nlist=nlist, seed=seed)
    # one directory per cell; repartition by cell so each task writes one
    # file into its own partition dir (avoids nlist small files per task)
    (
        assigned.repartition("cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{store_dir}/cells")
    )
    # The centroids side file is nlist rows of metadata: writing it
    # through a Spark job priced an 8-row file at a full job + commit
    # protocol per store build (r14).  Write it driver-side via
    # pyarrow — same parquet bytes semantics, same spark.read.parquet
    # read face — and fall back to the Spark writer if the matrix tag
    # is missing (externally built centroids frames).
    matrix = getattr(centroids, "_ivf_centroid_matrix", None)
    if matrix is not None:
        _write_centroids_file(store_dir, matrix)
        # seed the frozen-matrix memo with what was just written
        # (doubles round-trip parquet exactly), so the first
        # append/search against this store skips the read-back job —
        # the stream face paid that listing + collect per micro-batch
        _centroid_cache_put(_centroid_cache_key(store_dir), matrix)
    else:
        centroids.write.mode("overwrite").parquet(f"{store_dir}/centroids")


def _write_centroids_file(store_dir: str, matrix: list) -> None:
    """Driver-side overwrite of {store_dir}/centroids with the dense
    positional matrix — schema-identical to the Spark writer's output
    (cell_id long, centroid array<double>)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = f"{store_dir}/centroids"
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest, exist_ok=True)
    table = pa.table(
        {
            "cell_id": pa.array(range(len(matrix)), pa.int64()),
            "centroid": pa.array(
                [[float(x) for x in c] for c in matrix],
                pa.list_(pa.float64()),
            ),
        }
    )
    pq.write_table(table, f"{dest}/part-00000.parquet")


def scaled_nprobe(n_rows: int, nlist: int, base: int = 4) -> int:
    """Corpus-scaled probe budget: +1 probed cell per decade of corpus
    beyond the 2k-row tuning scale, capped at nlist.

    The r11 sf1 sweep caught the fixed nprobe=4 (of nlist=8) searches
    under their ≥3/5 recall floor on 20k fresh-draw vectors — true
    top-5 neighbors spread over more cells as per-cell occupancy grows
    — while every ≤2k-row fixture returns ``base`` exactly (sf0.01 /
    sf0.1 hashes and pins unchanged).  The §4t probed-scaled-budget
    discipline applied to the store lifecycle faces; scan cost stays
    ~nprobe/nlist of the corpus."""
    from vector_ai_npm_spark.retrieval.scaling import corpus_decades

    return min(nlist, base + corpus_decades(n_rows))


def _py_rank_cells(
    matrix: list, query_vec: list[float], nprobe: int
) -> list[int] | None:
    """Driver-side replica of the Spark centroid ranking: bit-identical
    IEEE-754 arithmetic in the SAME fold order as
    functions.vectors.cosine_similarity over `lit(q).cast(array<float>)`
    — per-element double multiply after a float32 narrowing of the
    query, strict left-fold adds, sqrt, norm-product divide, then sort
    by (sim DESC, cell_id ASC).  Python floats and JVM doubles are both
    IEEE binary64 with correctly-rounded ops, so identical op order ⇒
    identical bits ⇒ identical ranking (pinned against the Spark path
    in tests/test_retrieval.py).  Returns None when the replica cannot
    guarantee equivalence (zero norms, length mismatch, NaN) — callers
    fall back to the Spark ranking."""
    import math
    import struct

    qf = [struct.unpack("f", struct.pack("f", float(v)))[0] for v in query_vec]
    nq = 0.0
    for y in qf:
        nq = nq + y * y
    nq = math.sqrt(nq)
    if nq == 0.0:
        return None
    sims: list[tuple[float, int]] = []
    for cell_id, c in enumerate(matrix):
        if len(c) != len(qf):
            return None
        s = 0.0
        for x, y in zip(c, qf):
            s = s + x * y
        nc = 0.0
        for x in c:
            nc = nc + x * x
        nc = math.sqrt(nc)
        if nc == 0.0:
            return None
        sim = s / (nc * nq)
        if sim != sim:  # NaN: Spark's sort order would differ
            return None
        sims.append((sim, cell_id))
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [cid for _, cid in sims[:nprobe]]


def probe_cells_for(
    spark: SparkSession, store_dir: str, query_vec: list[float], nprobe: int
) -> list[int]:
    """Rank the (tiny: nlist rows) centroid table against one query
    vector. Driver-side by design: the output IS the partition filter,
    and partition pruning needs a literal predicate at plan time.

    r14: the ranking itself also runs driver-side (an nlist × dim
    problem — 8×64 here — that cost a full Spark job per search), via
    the bit-exact _py_rank_cells replica over the memoized frozen
    matrix; any case the replica cannot prove equivalent falls back to
    the original Spark ranking."""
    try:
        matrix = _frozen_centroid_matrix(spark, store_dir)
    except ValueError:
        matrix = None  # non-dense external layout: rank in Spark
    if matrix is not None:
        ranked = _py_rank_cells(matrix, query_vec, nprobe)
        if ranked is not None:
            return ranked
    centroids = spark.read.parquet(f"{store_dir}/centroids")
    q = F.lit(query_vec).cast("array<float>")
    ranked = centroids.select(
        "cell_id", cosine_similarity(F.col("centroid"), q).alias("sim")
    ).orderBy(F.col("sim").desc(), "cell_id")
    return [r.cell_id for r in ranked.take(nprobe)]


def search_ivf_store(
    spark: SparkSession,
    store_dir: str,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine search reading ONLY the probed cell partitions.

    The `.where(cell_id IN ...)` lands in the scan's PartitionFilters —
    unprobed directories are never listed, so this is an O(corpus *
    nprobe/nlist) scan at any corpus size."""
    cells = probe_cells_for(spark, store_dir, query_vec, nprobe)
    store = read_ivf_cells(spark, store_dir).where(
        F.col("cell_id").isin(*cells)
    )
    q = F.lit(query_vec).cast("array<float>")
    scored = store.select(
        "vec_id",
        "cell_id",
        cosine_similarity(F.col("embedding"), q).alias("similarity"),
    )
    # top-k FIRST via orderBy+limit → TakeOrderedAndProject (each probed
    # partition keeps its local k, driver merges k·parts rows); the rank
    # window then runs over ≤k rows. Ranking the probed scan directly
    # with an unpartitioned window would funnel O(corpus·nprobe/nlist)
    # rows through one task — the thing this layout exists to avoid.
    topk = scored.orderBy(F.col("similarity").desc(), F.col("vec_id")).limit(k)
    return topk.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("similarity").desc(), F.col("vec_id"))
        ),
    )


def persist_bucketed_store(
    store: DataFrame, table_name: str, n_buckets: int = 8
) -> None:
    """Id-lookup layout: bucketed + sorted by vec_id (saveAsTable — bucket
    metadata lives in the catalog, which is what lets the planner elide
    the exchange on the read side)."""
    (
        store.write.mode("overwrite")
        .bucketBy(n_buckets, "vec_id")
        .sortBy("vec_id")
        .saveAsTable(table_name)
    )


def fetch_by_ids_bucketed(
    spark: SparkSession, table_name: str, ids: DataFrame
) -> DataFrame:
    """Hydrate vectors for an id set. If `ids` is also bucketed on the
    same key/count, this join plans with zero Exchange nodes; otherwise
    only the (small) id side shuffles."""
    store = spark.table(table_name)
    return store.join(ids, "vec_id")


# Frozen-centroid matrix memo (r14): the centroids side file is
# immutable between writes by the layout contract ("frozen centroids"),
# yet every append / micro-batch trigger / probe re-listed and re-read
# it as its own Spark job (~0.25 s apiece at any scale — it is driver
# round-trip cost, not data cost).  Key = (realpath, sorted (name,
# size, mtime_ns) of the parquet files), so any rewrite of the side
# file (new part names under overwrite mode) misses the cache; entries
# are values (plain float lists), never DataFrames, and the dict is
# bounded LRU.  This never caches across bench runs: every invocation
# builds its store under a fresh tempdir, so keys are invocation-local.
_CENTROID_CACHE: dict = {}
_CENTROID_CACHE_LOCK = __import__("threading").Lock()
_CENTROID_CACHE_MAX = 16


def _centroid_cache_key(store_dir: str):
    import glob as _glob
    import os as _os

    root = _os.path.realpath(store_dir)
    try:
        files = tuple(sorted(
            (
                _os.path.basename(f),
                _os.path.getsize(f),
                _os.stat(f).st_mtime_ns,
            )
            for f in _glob.glob(f"{root}/centroids/*.parquet")
        ))
    except OSError:
        return None  # racing a rewrite: treat as uncacheable
    return (root, files) if files else None


def _centroid_cache_put(key, matrix: list) -> None:
    """Memoize ``matrix`` under ``key`` (None = uncacheable), evicting
    the oldest entries past the bound."""
    if key is None:
        return
    with _CENTROID_CACHE_LOCK:
        _CENTROID_CACHE[key] = [list(c) for c in matrix]
        while len(_CENTROID_CACHE) > _CENTROID_CACHE_MAX:
            _CENTROID_CACHE.pop(next(iter(_CENTROID_CACHE)))


def _frozen_centroid_matrix(spark: SparkSession, store_dir: str) -> list:
    """Load the centroids side file as a positional matrix for
    assign_to_cells (which returns the positional argmin into this
    ordered list).  The layout contract is that cell_id values are
    exactly the dense positions 0..n-1 — assert it so any future gap
    or renumbering in cell_id fails loudly instead of silently
    misfiling appended vectors into wrong cell directories.

    Served from the in-process memo when the side file is byte-unchanged
    since the last read/write (see _CENTROID_CACHE above)."""
    key = _centroid_cache_key(store_dir)
    if key is not None:
        with _CENTROID_CACHE_LOCK:
            hit = _CENTROID_CACHE.get(key)
        if hit is not None:
            return [list(c) for c in hit]
    rows = (
        spark.read.parquet(f"{store_dir}/centroids")
        .orderBy("cell_id")
        .collect()
    )
    for pos, r in enumerate(rows):
        if r.cell_id != pos:
            raise ValueError(
                f"IVF centroids file is not densely numbered: position "
                f"{pos} has cell_id={r.cell_id}; appends would misfile"
            )
    matrix = [list(r.centroid) for r in rows]
    _centroid_cache_put(key, matrix)
    return matrix


def append_ivf_store(
    new_rows: DataFrame, store_dir: str, vec_col: str = "embedding"
) -> None:
    """Incremental index maintenance: route a new batch into the
    EXISTING cell layout (frozen centroids — ivf.assign_to_cells) and
    append its parquet under the matching cell directories.  This is
    the embed_incremental companion: re-embedded/new vectors join the
    store without a rebuild, searches see them immediately (partition
    listing picks up the new files), and cell boundaries never move.
    Centroid drift from many appends is a MONITORED condition, not a
    silent one — embedding_centroid_drift is the audit; rebuild when
    it alarms.

    This append-mode write is for ONE-SHOT batch maintenance (the
    caller owns retries).  Streaming foreachBatch replays must use
    :func:`append_ivf_store_batch` instead — append mode has no
    idempotence of its own, so an at-least-once re-delivery here would
    duplicate rows."""
    from vector_ai_npm_spark.retrieval.ivf import assign_to_cells

    spark = new_rows.sparkSession
    C = _frozen_centroid_matrix(spark, store_dir)
    assigned = assign_to_cells(new_rows, C, vec_col=vec_col)
    (
        assigned.repartition("cell_id")
        .write.mode("append")
        .partitionBy("cell_id")
        .parquet(f"{store_dir}/cells")
    )


def append_ivf_store_batch(
    new_rows: DataFrame,
    store_dir: str,
    batch_id: int,
    vec_col: str = "embedding",
) -> None:
    """Replay-idempotent streaming append: write micro-batch
    ``batch_id`` under its OWN batch-keyed subtree
    (``appends/batch=<epochId>/cell_id=*``) in overwrite mode.

    foreachBatch is at-least-once — a crash after an append but before
    the checkpoint commit re-delivers the same epochId.  With a
    batch-keyed overwrite, the replay overwrites its own subtree and
    the store converges to the same rows (the TUNING round-8 remedy,
    now code).  Readers union base cells + appends via
    :func:`read_ivf_cells`; both sides stay cell_id-partitioned so
    nprobe partition pruning is unchanged."""
    from vector_ai_npm_spark.retrieval.ivf import assign_to_cells

    spark = new_rows.sparkSession
    C = _frozen_centroid_matrix(spark, store_dir)
    assigned = assign_to_cells(new_rows, C, vec_col=vec_col)
    (
        assigned.repartition("cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{store_dir}/appends/batch={int(batch_id)}")
    )


# Test-only interleaving hook: called after the staging write and
# before the publish swap.  Lets tests land a concurrent streaming
# append inside compaction's stage→publish window (the interleaving
# the round-9 crash protocol left untested).  Never set in production.
_test_after_staging = None


def _restore_pre_compact(store_dir: str) -> None:
    """Mid-swap crash recovery: if a compaction died between renaming
    cells away and publishing the merged layout, restore the
    pre-compact cells (rename is the atomic arbiter — racers lose the
    OSError, same idiom as engine.delete's reader-side recovery)."""
    import os

    pre = f"{store_dir}/cells__pre_compact"
    if not os.path.isdir(f"{store_dir}/cells") and os.path.isdir(pre):
        try:
            os.rename(pre, f"{store_dir}/cells")
        except OSError:
            pass


def _clear_stale_markers(store_dir: str) -> None:
    """Clear leftovers of a compaction that crashed AFTER publishing:
    a lingering cells__pre_compact (cells already contains the merged
    rows — safe to drop) and/or a retired appends__folded subtree.
    Only called when cells exists, so the pre marker cannot be the
    mid-swap state (that is restored first)."""
    import os
    import shutil

    pre = f"{store_dir}/cells__pre_compact"
    if os.path.isdir(f"{store_dir}/cells") and os.path.isdir(pre):
        shutil.rmtree(pre)
    folded = f"{store_dir}/appends__folded"
    if os.path.isdir(folded):
        shutil.rmtree(folded)


def compact_ivf_appends(spark: SparkSession, store_dir: str) -> int:
    """Fold accumulated batch-keyed appends back into the base cell
    layout — the maintenance half of the streaming-append lifecycle
    (append_ivf_store_batch accumulates small per-batch files; read
    cost grows with file COUNT even though partition pruning bounds
    bytes).  Returns the number of appended rows folded (0 = no-op).

    Concurrency + crash protocol (round 10 — closes the
    append-during-compact interleaving):

      * The fold set is PINNED at entry: only the ``appends/batch=*``
        directories listed now are merged and retired, each by its own
        rename into ``appends__folded/``.  A streaming append landing
        mid-compaction keeps its subtree untouched and is picked up by
        the next read/compaction — never swept into the retirement
        rmtree (the data-loss window the whole-dir rename had).
      * Mid-swap crash (cells missing + cells__pre_compact present) is
        self-recovered at entry — compaction no longer needs a read to
        happen first.
      * Post-publish crash leftovers (stale pre marker, retired
        __folded subtree) are cleared on EVERY run, including the
        no-appends early exit — a stale marker can no longer persist
        and silently shadow future appends.
      * The merge dedups on the full row, then ASSERTS one row per
        vec_id: the layout's precondition is that appends are exact
        replays or new vectors (frozen-centroid assignment is
        deterministic).  A vec_id re-ingested with a DIFFERENT
        embedding is an update this layout does not arbitrate — raise
        loudly instead of keeping an arbitrary version.

    Pinned by the crash/interleaving tests in tests/test_wave29.py and
    tests/test_wave44.py."""
    import contextlib as _contextlib
    import glob as _glob
    import os
    import re as _re
    import shutil

    _restore_pre_compact(store_dir)
    batch_dirs = sorted(
        d
        for d in _glob.glob(f"{store_dir}/appends/batch=*")
        if _glob.glob(f"{d}/cell_id=*/*.parquet")
    )
    # tombstones are pinned at entry exactly like the batch fold set:
    # only the files listed NOW are applied and retired — a delete
    # landing mid-compaction keeps its file and is honored by the read
    # face immediately and purged by the next compaction
    tomb_files = _tombstone_files(store_dir)
    if not batch_dirs and not tomb_files:
        _clear_stale_markers(store_dir)
        return 0
    base = spark.read.parquet(f"{store_dir}/cells")
    if batch_dirs:
        batch_ids = [
            int(_re.search(r"batch=(\d+)$", d).group(1)) for d in batch_dirs
        ]
        apps = (
            spark.read.parquet(f"{store_dir}/appends")
            .where(F.col("batch").isin(batch_ids))
            .drop("batch")
            .select(*base.columns)
        )
        n_appended = apps.count()
        merged = base.unionByName(apps)
    else:
        n_appended = 0
        merged = base
    # physical purge: tombstoned vec_ids leave the layout here (the
    # read face already hid them); this also runs BEFORE the conflict
    # assert so a delete+conflicting-replay converges to "deleted"
    merged = _subtract_tombstones(spark, merged, tomb_files)
    # full-row dedup first (replayed/crash-double-counted rows are
    # bit-exact), then the update-conflict assert: any vec_id still
    # carrying >1 distinct row is a real update, not a replay
    merged = merged.dropDuplicates()
    staging = f"{store_dir}/cells__compact_staging"
    (
        merged.repartition("cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(staging)
    )
    # The update-conflict assert runs against the layout JUST staged:
    # one scan of the freshly written files instead of a second full
    # recompute of `merged` (base scan + tombstone anti-join + dedup +
    # shuffle — the pre-r14 shape computed all of it twice).  On
    # conflict the staging dir is dropped and the live store is left
    # untouched, exactly as when the assert ran pre-write.
    conflicts = (
        spark.read.parquet(staging)
        .groupBy("vec_id")
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if conflicts:
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"IVF append for vec_id={conflicts[0]['vec_id']} carries a "
            "different row than the store: this layout assumes appends "
            "are exact replays or new vectors (frozen centroids); "
            "updates need a delete+rebuild or a real table format"
        )
    if _test_after_staging is not None:
        _test_after_staging()
    pre = f"{store_dir}/cells__pre_compact"
    if os.path.isdir(pre):
        shutil.rmtree(pre)
    os.rename(f"{store_dir}/cells", pre)
    os.rename(staging, f"{store_dir}/cells")
    # retire ONLY the folded batch subtrees, each atomically (rename,
    # not rmtree) — concurrently-landed batches stay in appends/
    folded = f"{store_dir}/appends__folded"
    os.makedirs(folded, exist_ok=True)
    for d in batch_dirs:
        dest = f"{folded}/{os.path.basename(d)}"
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        if os.path.isdir(d):  # a replay may have overwritten mid-fold
            os.rename(d, dest)
    shutil.rmtree(pre)
    shutil.rmtree(folded)
    # retire exactly the PINNED tombstone files (now physically applied);
    # tombstones written mid-compaction stay for the next run
    for f in tomb_files:
        with _contextlib.suppress(OSError):
            os.remove(f)
    # drop the appends dir only if nothing new landed meanwhile
    appends_dir = f"{store_dir}/appends"
    if os.path.isdir(appends_dir) and not _glob.glob(
        f"{appends_dir}/batch=*"
    ):
        shutil.rmtree(appends_dir)
    return n_appended


def delete_ivf_vectors(
    spark: SparkSession, store_dir: str, vec_ids: list[int] | DataFrame
) -> int:
    """Tombstone delete — the missing third verb of the IVF lifecycle
    (build / append / DELETE, round 11).

    A delete at 100 TB must not rewrite the store: this appends the ids
    as a tombstone parquet under ``{store_dir}/tombstones/`` (an
    ids-sized write, O(|vec_ids|)), the read face anti-joins them out
    (broadcast — the set is request-sized), and the next compaction
    PHYSICALLY purges the rows and retires exactly the tombstone files
    it pinned at entry (same pin-at-entry discipline as the append
    fold, so a delete landing mid-compaction survives to the next one).

    Semantics pin: a tombstone hides EVERY row of that vec_id — base,
    already-appended, and any append that lands before the tombstone is
    folded.  Re-ingesting a deleted vec_id therefore requires a
    compaction first (which clears the tombstone); this keeps the
    lifecycle free of last-writer-wins arbitration the layout cannot
    provide (same reasoning as compact's update-conflict assert).
    Returns the number of tombstones written.

    ``vec_ids`` may be a ``list[int]`` (request-sized deletes — the
    serving path) or a DataFrame with a ``vec_id`` column (corpus-
    derived delete sets, e.g. "delete every near-dup loser": the ids
    stay distributed end-to-end — written straight to the tombstone
    parquet with no driver materialization, r12 verdict item 6).
    Read-side handling is size-aware: `_subtract_tombstones` broadcasts
    only when the tombstone files are small enough to broadcast."""
    if isinstance(vec_ids, DataFrame):
        ids = vec_ids.select(F.col("vec_id").cast("long")).distinct()
        counted = ids.localCheckpoint(eager=True)
        n = counted.count()
        if n == 0:
            return 0
        counted.write.mode("append").parquet(f"{store_dir}/tombstones")
        return n
    if not vec_ids:
        return 0
    ids = spark.createDataFrame(
        [(int(i),) for i in vec_ids], "vec_id long"
    )
    (
        ids.coalesce(1)
        .write.mode("append")
        .parquet(f"{store_dir}/tombstones")
    )
    return len(vec_ids)


def _tombstone_files(store_dir: str) -> list[str]:
    import glob as _glob

    return sorted(_glob.glob(f"{store_dir}/tombstones/*.parquet"))


def _subtract_tombstones(
    spark: SparkSession, df: DataFrame, files: list[str]
) -> DataFrame:
    """Anti-join the given tombstone files out of a store frame.
    Size-aware: request-sized tombstone sets broadcast (the serving
    path); a corpus-derived delete set past the broadcast budget runs
    as a plain shuffled anti-join instead of OOMing every executor.
    Either way the anti-join sits ABOVE the scan so cell_id partition
    pruning still reaches the parquet source."""
    import os as _os

    if not files:
        return df
    tomb = spark.read.parquet(*files).select("vec_id").distinct()
    total_bytes = sum(_os.path.getsize(f) for f in files)
    if total_bytes <= 64 * 1024 * 1024:  # Spark's default broadcast ceiling
        tomb = F.broadcast(tomb)
    return df.join(tomb, "vec_id", "left_anti")


def read_ivf_cells(spark: SparkSession, store_dir: str) -> DataFrame:
    """The store's read face: base cells ∪ batch-keyed appends.

    Both legs are parquet scans partitioned on cell_id, and Spark
    pushes a ``cell_id IN (...)`` filter through the Union into BOTH
    scans' PartitionFilters, so probe cost stays ~nprobe/nlist of the
    corpus regardless of how many appends accumulated.  (Local-FS
    existence probe for the appends subtree — on an object store this
    is one LIST call; compaction of old appends back into base cells
    is the io.compaction pattern.)"""
    import glob as _glob

    # mid-swap crash recovery (cells missing + pre marker → restore);
    # all OTHER crash/replay interleavings are converged by the
    # dedup below rather than by trusting markers: a post-publish
    # crash leaves appends whose rows are ALREADY in cells, and a
    # stream replay can recreate an already-folded batch subtree — in
    # both cases the duplicate rows are bit-exact (frozen-centroid
    # assignment is deterministic, replays overwrite their own batch
    # subtree), so (cell_id, vec_id) dedup restores exactness without
    # ever shadowing FRESH batches the way the old
    # ignore-appends-while-marked rule did.
    _restore_pre_compact(store_dir)
    base = spark.read.parquet(f"{store_dir}/cells")
    has_appends = bool(
        _glob.glob(f"{store_dir}/appends/batch=*/cell_id=*/*.parquet")
    )
    tombs = _tombstone_files(store_dir)
    if not has_appends:
        return _subtract_tombstones(spark, base, tombs)
    appends = spark.read.parquet(f"{store_dir}/appends").drop("batch")
    # dedup keys include cell_id (same vec_id ⇒ same cell under frozen
    # centroids) so a cell_id predicate above still pushes through the
    # Deduplicate into BOTH scans' PartitionFilters — nprobe pruning
    # survives the dedup (pinned in tests/test_retrieval.py).
    merged = (
        base.unionByName(appends.select(*base.columns))
        .dropDuplicates(["cell_id", "vec_id"])
    )
    return _subtract_tombstones(spark, merged, tombs)
