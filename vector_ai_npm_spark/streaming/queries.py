"""Registry entries for streaming-shaped operators (B25–B28), run in
batch mode for the oracle; tests/test_streaming.py re-runs the same
transforms under readStream and asserts equality.

Also here: `stream_join_left_outer`, `stream_checkpoint_restart`,
`join_temporal_validity`, `stream_dedup_within_watermark`,
`ivm_incremental_agg`, each with its notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.streaming.windows import (
    dedup_within_watermark,
    late_events,
    segment_windowed_totals,
    session_windows,
    sliding_counts,
    tumbling_counts,
)


@query(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS window_start,
           time_bucket(INTERVAL 1 MINUTE, ts) + INTERVAL 1 MINUTE AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25: 1-minute tumbling counts per event type."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding",
    oracle="""
    WITH w AS (
      SELECT event_type, ts,
             unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                     time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
               AS window_start
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 10 MINUTE AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY 1, 2, 3
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26a: 10-minute windows sliding every 5 — every event belongs to
    exactly two windows (floor5(ts) and floor5(ts)−5min), which is what
    the oracle unnests."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_session",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_last,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_no
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26b: 5-minute-gap session windows per user; the oracle is the
    classic gap-and-island SQL (lag → new-session flag → running sum)."""
    return session_windows(load_table(spark, sf_dir, "events"))


@query(
    "stream_watermark",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM (
      SELECT event_id, ts, user_id, event_type,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS high_water
      FROM events
    )
    WHERE ts < high_water - INTERVAL 10 MINUTE
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27: late-data rule (>10 min behind the running max event time in
    arrival order) — the batch-checkable core of withWatermark."""
    return late_events(load_table(spark, sf_dir, "events"))


@query(
    "stream_dedup",
    oracle="""
    SELECT CAST(MIN(event_id) AS BIGINT) AS event_id,
           user_id, event_type,
           date_trunc('minute', ts) AS minute,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM events
    GROUP BY user_id, event_type, date_trunc('minute', ts)
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28: stateful dedup on (user_id, event_type, minute) — batch
    equivalent keeps the deterministic first arrival (min event_id)."""
    return dedup_within_watermark(load_table(spark, sf_dir, "events"))


@query(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DECIMAL(38,8))
                AS VARCHAR) AS DOUBLE) AS total_value,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28+/custom-stateful: per-user running totals. Batch face here
    (exact-decimal sum for the oracle hash); the applyInPandasWithState
    streaming face is exercised in tests/test_streaming.py and must
    converge to these same totals."""

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,8)"))
        .cast("decimal(38,8)")
        .cast("double")
        .alias("total_value"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "stream_join_interval",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS amount
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26+: stream-stream interval join (click→purchase attribution
    within 4 h). Batch face of streaming.joins.attribute_purchases; the
    double-watermarked readStream face runs in tests/test_streaming.py
    (inner joins emit on match, so batch ≡ stream)."""
    from vector_ai_npm_spark.streaming.joins import (
        attribute_purchases,
        split_clicks_purchases,
    )

    clicks, purchases = split_clicks_purchases(load_table(spark, sf_dir, "events"))
    return attribute_purchases(clicks, purchases)


@query(
    "stream_foreach_upsert",
    oracle="""
    SELECT user_id,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DECIMAL(38,8))
                AS VARCHAR) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def stream_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28+: a REAL end-to-end Structured Streaming run inside the
    query — events tailed one file per trigger through a foreachBatch
    incremental merge into a versioned parquet store — whose final store
    content hash-matches the one-shot SQL aggregate. Exact-decimal state
    (streaming.sinks) is what makes a 4-micro-batch accumulation
    bit-identical to the single-pass oracle."""
    import tempfile

    from vector_ai_npm_spark.streaming.sinks import final_totals, run_upsert_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    base = tempfile.mkdtemp(prefix="upsert_store_")
    input_dir, store_dir, ckpt = (f"{base}/in", f"{base}/store", f"{base}/ckpt")
    ev.repartition(4).write.parquet(input_dir)
    run_upsert_stream(spark, input_dir, store_dir, ckpt)
    # final select matches the oracle's column set exactly
    return final_totals(spark, store_dir).select("user_id", "total_value", "n_events")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT time_bucket(INTERVAL 1 MINUTE, e.ts) AS window_start,
           time_bucket(INTERVAL 1 MINUTE, e.ts) + INTERVAL 1 MINUTE
             AS window_end,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CAST(e.value AS DECIMAL(30,8)))
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2, 3
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26+: stream-static enrichment join — events attached to the
    static customer dimension (market segment), then 1-minute tumbling
    totals per segment. The stream-static inner join is STATELESS in
    Structured Streaming (static side broadcast per micro-batch, no
    watermark, no join state) — the canonical reference-data-attach
    shape; batch face here for the oracle, readStream convergence in
    tests/test_streaming.py."""
    return segment_windowed_totals(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@query(
    "stream_tws_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DECIMAL(38,8))
                AS VARCHAR) AS DOUBLE) AS total_value,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events
    GROUP BY user_id
    """,
)
def stream_tws_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28+/custom-stateful, driver-checkable END-TO-END: events tailed
    one file per trigger through the CAPABILITY-ROUTED stateful face —
    transformWithStateInPandas where the protobuf wheel is installed,
    applyInPandasWithState otherwise (streaming.stateful.
    user_totals_stream_exact; the round-5 verdict's documented gate with
    a driver-checkable fallback) — then the last emission per user
    hash-matched against the one-shot SQL aggregate.

    What makes a multi-micro-batch stream hash-match SQL: state is
    EXACT integers (count, 1e-8 value units quantized per row exactly
    like both engines' double→DECIMAL(30,8) cast, max event-time
    micros), so accumulation order across batches cannot move a bit;
    the final select renders units to a decimal string and casts to
    double — the same varchar route the oracle takes."""
    import tempfile

    from vector_ai_npm_spark.streaming.stateful import user_totals_stream_exact

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    base = tempfile.mkdtemp(prefix="tws_totals_")
    ev.repartition(4).write.parquet(f"{base}/in")
    schema = spark.read.parquet(f"{base}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    qname = f"tws_totals_{abs(hash(base)) % 10**9}"
    q = (
        user_totals_stream_exact(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()

    final = (
        spark.table(qname)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_units", "n_events").alias("total_units"),
            F.max("last_us").alias("last_us"),
        )
    )
    # exact units -> decimal string -> double: bit-identical to the
    # oracle's DECIMAL(38,8) -> VARCHAR -> DOUBLE rendering
    return final.select(
        "user_id",
        "n_events",
        F.expr(
            "CAST(concat(CASE WHEN total_units < 0 THEN '-' ELSE '' END, "
            "CAST(abs(total_units) DIV 100000000 AS STRING), '.', "
            "lpad(CAST(abs(total_units) % 100000000 AS STRING), 8, '0')) "
            "AS DOUBLE)"
        ).alias("total_value"),
        "last_us",
    )


def _crawl_dedup_oracle() -> str:
    from vector_ai_npm_spark.dedup.queries import (
        _BAND_KEYS_DUCK,
        _DUCK_SHINGLES,
        _duck_minhash,
        N_MINHASH,
    )

    return (
        "WITH sh AS (SELECT doc_id, " + _DUCK_SHINGLES + """ AS shingles
      FROM documents),
    sig AS (SELECT doc_id, """
        + ", ".join(f"{_duck_minhash(i)} AS mh{i}" for i in range(N_MINHASH))
        + """ FROM sh),
    bands AS (
      SELECT doc_id, unnest(["""
        + ", ".join(_BAND_KEYS_DUCK)
        + """]) AS band_key FROM sig),
    rej AS (
      SELECT DISTINCT b.doc_id
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT d.doc_id,
           d.doc_id NOT IN (SELECT doc_id FROM rej) AS accepted
    FROM documents d
    """
    )


@query("stream_dedup_incremental", oracle=_crawl_dedup_oracle())
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18+B28 flagship composite: the STREAMING crawl-ingest dedup
    loop, end-to-end and driver-checked. Documents tail in one file per
    trigger; each foreachBatch merge LSH-checks the batch against the
    versioned band store built so far and publishes accept/reject
    decisions (streaming.crawl_dedup — first-id-canonical rule, with
    late-arriving smaller ids DEMOTING previously-accepted docs, so the
    final store is identical for any micro-batch arrival order). The
    oracle recomputes the same rule in one shot: a doc is accepted iff
    no smaller-doc_id document shares an LSH band — same shingles, same
    minhash folds, same band keys as the whole batch dedup family."""
    import tempfile

    from vector_ai_npm_spark.streaming.crawl_dedup import (
        final_decisions,
        run_crawl_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="crawl_dedup_")
    docs.repartition(4).write.parquet(f"{base}/in")
    run_crawl_dedup_stream(
        spark, f"{base}/in", f"{base}/bands", f"{base}/decisions",
        f"{base}/ckpt",
    )
    return final_decisions(spark, f"{base}/decisions")


@query(
    "stream_topk",
    oracle="""
    WITH c AS (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, event_type, n_events,
             row_number() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type ASC
             ) AS rnk
      FROM c
    )
    SELECT window_start, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25+: top-3 event types per 5-minute tumbling window — the
    trending-items dashboard shape. The windowed count is the
    streaming-legal aggregation (readStream ≡ batch pinned in
    tests/test_streaming.py); the rank is the documented
    post-aggregation (windows.topk_event_types) over the bounded
    (window, type) state, per-window frames ≤ #event types."""
    from vector_ai_npm_spark.streaming.windows import topk_event_types

    counts = tumbling_counts(
        load_table(spark, sf_dir, "events"), width="5 minutes"
    ).select("window_start", "event_type", "n_events")
    return topk_event_types(counts, k=3)


# `stream_join_left_outer` — the outer half of the B26 interval-join
# pair: every click with its within-window purchase OR a NULL verdict.
# Inner joins emit on match; outer joins are a STATE-EVICTION
# contract (a row's null verdict exists only because the watermark
# proved no match can arrive), which is why the face is worth its own
# oracle.  Batch face here; the real double-watermarked stream with a
# watermark-flush sentinel runs in tests/test_streaming.py.

@query(
    "stream_join_left_outer",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS amount
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer click→purchase attribution — see the notes above and
    streaming.joins.attribute_clicks_left_outer."""
    from vector_ai_npm_spark.streaming.joins import (
        attribute_clicks_left_outer,
        split_clicks_purchases,
    )

    clicks, purchases = split_clicks_purchases(
        load_table(spark, sf_dir, "events")
    )
    return attribute_clicks_left_outer(clicks, purchases)


# Every streaming face so far ran inside one query lifetime; the
# operational contract that matters in production is the RESTART: a new
# query object pointed at the SAME checkpoint must resume from the
# source offsets the previous run committed — new input processes, old
# input does not, and the store converges to the one-shot batch answer
# bit-for-bit.  This face runs the versioned upsert merge
# (streaming/sinks.py — the at-least-once-idempotent foreachBatch
# design) through TWO availableNow query lifetimes with an input append
# between them, then pins:
#
# * run 1 published exactly one store version per input file (4);
# * the restarted run published exactly the NEW files' versions (2),
#     ids CONTINUING the committed batch sequence — i.e. zero
#     reprocessing: the checkpoint, not the input listing, decided what
#     to read;
# * final per-user totals hash-equal the one-shot SQL aggregate over
#     ALL events (the exact-decimal state discipline).

_RUN1_FILES = 4
_RUN2_FILES = 2


@query(
    "stream_checkpoint_restart",
    oracle=f"""
    SELECT user_id,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DECIMAL(38,8))
                AS VARCHAR) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST({_RUN1_FILES} AS BIGINT) AS run1_batches,
           CAST({_RUN2_FILES} AS BIGINT) AS resumed_batches,
           TRUE AS no_reprocess
    FROM events
    GROUP BY user_id
    """,
)
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-lifetime restart face — see the notes above.  Events split
    at the median timestamp: era 1 streams first (4 files → versions
    0-3), the query TERMINATES, era 2 lands in the input dir, and a
    brand-new query on the same checkpoint resumes (2 files → versions
    4-5 exactly).  no_reprocess derives from the published version ids
    themselves — any re-read of era-1 files would mint extra versions
    or shift the resumed ids and flip the booleans/hash."""
    import tempfile

    from vector_ai_npm_spark.streaming.sinks import (
        _store_versions,
        final_totals,
        run_upsert_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    cut = ev.agg(
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")
    ).first()[0]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = tempfile.mkdtemp(prefix="ckpt_restart_")
    ind, store, ckpt = f"{base}/in", f"{base}/store", f"{base}/ckpt"
    ev.where(us <= cut).select("user_id", "value").repartition(
        _RUN1_FILES
    ).write.parquet(ind)
    run_upsert_stream(spark, ind, store, ckpt)
    v1 = _store_versions(store)
    ev.where(us > cut).select("user_id", "value").repartition(
        _RUN2_FILES
    ).write.mode("append").parquet(ind)
    run_upsert_stream(spark, ind, store, ckpt)
    v2 = _store_versions(store)
    resumed = [v for v in v2 if v not in v1]
    no_reprocess = (
        len(v1) == _RUN1_FILES
        and len(resumed) == _RUN2_FILES
        and min(resumed) == max(v1) + 1
    )
    return final_totals(spark, store).select(
        "user_id",
        "total_value",
        "n_events",
        F.lit(len(v1)).cast("bigint").alias("run1_batches"),
        F.lit(len(resumed)).cast("bigint").alias("resumed_batches"),
        F.lit(bool(no_reprocess)).alias("no_reprocess"),
    )


# `join_temporal_validity` — the warehouse pattern CDC produces and
# every fact query consumes: join facts to the dimension VERSION that
# was valid at the fact's event time (`key equal AND valid_from <= ts
# < valid_to`, open versions NULL-terminated).  The dimension here is
# a two-version SCD2 built from customer (v1 from epoch, v2 from
# 2024-01-15 with shifted balance), so every event before/after the
# cut must pick the right balance — an off-by-one on either interval
# edge moves rows between versions and flips the hash.  Plan shape:
# equi-join on the key with the validity predicate as a post-filter
# (versions per key are few — bounded fan-out, no range explosion).
#
# Scale shapes: validity join = one equi-join; the stream face is
# bounded-state by construction; IVM = delta-sized agg + keyed merge.

_CUT = "TIMESTAMP '2024-01-15 00:00:00'"


@query(
    "join_temporal_validity",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, c_acctbal, c_mktsegment,
             TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
             {_CUT} AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal + 100.0, c_mktsegment,
             {_CUT}, CAST(NULL AS TIMESTAMP)
      FROM customer
    )
    SELECT e.event_id, e.user_id, e.ts,
           d.c_acctbal AS bal_at_event,
           d.c_mktsegment AS segment,
           e.ts >= {_CUT} AS after_cut
    FROM events e
    JOIN dim d
      ON e.user_id = d.c_custkey
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
)
def join_temporal_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 join — see the notes above."""
    cut = F.expr(_CUT)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    v1 = cust.select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        F.expr("TIMESTAMP '2020-01-01 00:00:00'").alias("valid_from"),
        cut.alias("valid_to"),
    )
    v2 = cust.select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        "c_mktsegment",
        cut.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    return (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .where(
            (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select(
            "event_id", "user_id", "ts",
            F.col("c_acctbal").alias("bal_at_event"),
            F.col("c_mktsegment").alias("segment"),
            (F.col("ts") >= cut).alias("after_cut"),
        )
    )


# `stream_dedup_within_watermark` — the Spark 3.5+
# dropDuplicatesWithinWatermark operator end-to-end: events are
# DOUBLED (every event_id delivered twice) and tailed through a real
# availableNow stream; state for an id is dropped once the watermark
# passes its event time, which is exactly the bounded-state contract
# an unbounded-key dedup needs at 100 TB (plain dropDuplicates state
# grows forever).  The planted duplicates share their original's
# timestamp, so all fall inside the watermark and the survivors must
# equal the events table exactly.

@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id,
           CAST(value AS DOUBLE) AS value
    FROM events
    """,
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark over doubled events — see the notes
    above.  A real availableNow stream (one file per trigger);
    survivors append to parquet via foreachBatch and must equal the
    events table row-for-row."""
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        # watermarks require TIMESTAMP (with local tz); the fixture's
        # ns-precision column loads as TIMESTAMP_NTZ
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )
    doubled = ev.unionByName(ev)
    base = tempfile.mkdtemp(prefix="ddww_")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    # One file per ts WEEK, written SEQUENTIALLY in ascending order:
    # (a) both copies of an event share its timestamp, so week files
    #     co-locate them in one trigger batch — the duplicate can never
    #     arrive after the watermark expired its state;
    # (b) FileStreamSource orders files by MODIFICATION TIME, so the
    #     sequential writes guarantee ascending event-time arrival —
    #     a single range-partitioned parallel write can finish its
    #     part files out of order, and a whole older-ts file arriving
    #     after a newer one would be dropped as late data (observed:
    #     240 events silently vanished that way).
    #     Arrival order is made STRUCTURAL, not timing-based: after
    #     each week file lands, its parts' mtimes are bumped with
    #     os.utime until they strictly exceed every prior file's —
    #     immune to coarse fs mtime granularity and clock jitter
    #     (a fixed sleep is not: a 1s-granularity fs can tie or
    #     invert two files written 50ms apart).
    import os as _os

    seen: set[str] = set()

    def _bump_past(dir_path: str, floor_ns: int) -> int:
        """Ensure every NEW data file under dir_path (not bumped by a
        prior call) has mtime > floor_ns; returns the new max mtime_ns."""
        hi = floor_ns
        for name in sorted(_os.listdir(dir_path)):
            if name.startswith((".", "_")) or name in seen:
                continue
            seen.add(name)
            p = _os.path.join(dir_path, name)
            st = _os.stat(p)
            m = st.st_mtime_ns
            if m <= floor_ns:
                m = floor_ns + 1_000_000  # +1ms, strictly later
                _os.utime(p, ns=(st.st_atime_ns, m))
            hi = max(hi, m)
        return hi

    cuts = [
        "2023-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2026-01-01",
    ]
    last_mtime_ns = 0
    for lo, hi in zip(cuts, cuts[1:]):
        (
            doubled.where(
                (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )
        last_mtime_ns = _bump_past(in_dir, last_mtime_ns)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: b.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )


# `ivm_incremental_agg` — incremental view maintenance: a per-user
# (count, exact-decimal sum) view maintained under a change batch
# (inserts + deletes) WITHOUT rescanning the base: deltas carry signed
# weights (+1 insert, −1 delete), aggregate alone, and full-outer
# merge into the view (groups whose count reaches 0 drop out).  The
# oracle recomputes the view from scratch on (base ∪ inserts −
# deletes), so any signed-merge slip — double-counting, wrong NULL
# handling on new/vanished groups, float drift in the retraction —
# is a hash mismatch.  This is the Flink/Materialize retraction
# pattern on Spark frames; at 100 TB the delta pass touches only the
# change batch.

@query(
    "ivm_incremental_agg",
    oracle="""
    WITH effective AS (
      SELECT user_id, value FROM events WHERE event_id % 13 <> 0
      UNION ALL
      SELECT user_id, value + 1.0 FROM events WHERE event_id % 5 = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
                AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS total_value
    FROM effective
    GROUP BY user_id
    """,
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-delta view maintenance — see the notes above.  The
    maintained view (base view ⊕ delta aggregate) must hash-equal the
    oracle's from-scratch recompute; exact-decimal state makes the
    retraction arithmetic order-independent."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    dec = F.col("value").cast("decimal(30,8)")

    # the standing view over the base corpus (computed once, reused)
    view = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).cast("decimal(38,8)").alias("s"),
    )

    # change batch: retract event_id % 13 == 0, insert value+1 rows for
    # event_id % 5 == 0 — signed weights, aggregated ALONE (delta-sized)
    deletes = ev.where(F.col("event_id") % 13 == 0).select(
        "user_id", F.lit(-1).alias("w"), (-dec).alias("v")
    )
    inserts = ev.where(F.col("event_id") % 5 == 0).select(
        "user_id",
        F.lit(1).alias("w"),
        (F.col("value") + 1.0).cast("decimal(30,8)").alias("v"),
    )
    delta = (
        deletes.unionByName(inserts)
        .groupBy("user_id")
        .agg(
            F.sum("w").cast("bigint").alias("dn"),
            F.sum("v").cast("decimal(38,8)").alias("ds"),
        )
    )

    merged = view.join(delta, "user_id", "full_outer").select(
        "user_id",
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
        (
            F.coalesce(F.col("s"), F.lit(0).cast("decimal(38,8)"))
            + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(38,8)"))
        ).alias("s"),
    )
    return merged.where(F.col("n") > 0).select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("s").cast("decimal(38,8)").cast("double").alias("total_value"),
    )
