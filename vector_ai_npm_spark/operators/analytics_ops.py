"""Event-analytics operators: cohorts, paths, modes, anomalies, histograms.

Reference context: the reference ships no event analytics (its only table
is the vector store, vector-client.ts:306-308); these are the
product/ops-analytics shapes a training-data platform runs beside its
curation jobs (which user cohorts produce data, where the anomalous
feeds are), so they live in the north-star extension surface alongside
`sessionize` and `funnel_steps`.

Every operator is one or two keyed shuffles over the events feed — no
driver-side loops, no cross products — and each docstring states the
100 TB plan shape explicitly.

Also here: `basket_itemsets_apriori`, with its notes in a comment above
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.numeric import _DEC, _PREC, _SCALE, dsum, o_dsum
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query


def _ntile_two_level(
    frame: DataFrame,
    out_col: str,
    metric: str,
    descending: bool,
    tiebreak: str,
    n_tiles: int = 5,
    n_bins: int = 1024,
) -> DataFrame:
    """Exact ``ntile(n_tiles) OVER (ORDER BY metric, tiebreak)`` without
    a single-partition sort — the two-level rank decomposition shared
    with `concurrency_sweep` / `skyline_2d`, applied to global ranking:

      1. a 1-row (min, max, count) stats aggregate is broadcast and each
         row is binned into one of ``n_bins`` value-range buckets (the
         bin expression is monotone in the sort direction, so bucket
         order refines the global order);
      2. ``row_number`` runs per BUCKET (bounded partitions, no global
         sort) over (metric, tiebreak);
      3. per-bucket counts — at most ``n_bins`` rows — get a prefix sum
         and broadcast back: global_rank = carry + local_rank;
      4. the tile is the closed form of SQL ntile: the first N % n
         tiles take ceil(N/n) rows, the rest floor(N/n).

    Exactness: (metric, tiebreak) is a total order (tiebreak unique), so
    the global rank — and therefore the tile — is bit-identical to the
    unpartitioned-window formulation the DuckDB oracle runs; only the
    physical shape changes (3 bounded shuffles instead of one
    all-rows-to-one-task sort)."""
    m = F.col(metric).cast("double")
    stats = F.broadcast(
        frame.agg(
            F.min(m).alias("_lo"),
            F.max(m).alias("_hi"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    f = frame.crossJoin(stats)
    width = F.greatest(
        (F.col("_hi") - F.col("_lo")) / F.lit(n_bins), F.lit(1e-12)
    )
    offset = (F.col("_hi") - m) if descending else (m - F.col("_lo"))
    f = f.withColumn(
        "_bucket",
        F.least(F.floor(offset / width), F.lit(n_bins - 1)).cast("long"),
    )
    order = [
        F.col(metric).desc() if descending else F.col(metric).asc(),
        F.col(tiebreak).asc(),
    ]
    wloc = Window.partitionBy("_bucket").orderBy(*order)
    loc = f.withColumn("_lrank", F.row_number().over(wloc).cast("long"))
    per = f.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_bn"))
    wcarry = Window.orderBy(F.col("_bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = per.select(
        "_bucket",
        F.coalesce(F.sum("_bn").over(wcarry), F.lit(0)).alias("_carry"),
    )
    ranked = loc.join(F.broadcast(carry), "_bucket").withColumn(
        "_grank", F.col("_carry") + F.col("_lrank")
    )
    big = F.col("_n") % n_tiles               # tiles that get one extra row
    size_big = F.floor(F.col("_n") / n_tiles) + 1
    size_small = F.floor(F.col("_n") / n_tiles)
    in_big = F.col("_grank") <= big * size_big
    tile = F.when(
        in_big, F.floor((F.col("_grank") - 1) / size_big) + 1
    ).otherwise(
        big + 1 + F.floor((F.col("_grank") - 1 - big * size_big) / size_small)
    )
    return ranked.withColumn(out_col, tile.cast("long")).drop(
        "_lo", "_hi", "_n", "_bucket", "_lrank", "_bn", "_carry", "_grank"
    )


def _wdsum(col: str, w: Window) -> F.Column:
    """Windowed mirror of functions.numeric.dsum: exact decimal sum over
    a frame, finished as DOUBLE (order-independent, engine-stable)."""
    return F.sum(F.col(col).cast(_DEC)).over(w).cast(_DEC).cast("double")


def _o_wdsum(expr: str) -> str:
    """DuckDB mirror of :func:`_wdsum` (OVER w appended by the caller
    via the ``{over}`` placeholder)."""
    return (
        f"CAST(CAST(CAST(SUM(CAST(({expr}) AS DECIMAL({_PREC},{_SCALE}))) "
        f"OVER w AS DECIMAL({_PREC},{_SCALE})) AS VARCHAR) AS DOUBLE)"
    )


@query(
    "cohort_retention",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS event_week,
             CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
               AS DATE) AS cohort_week
      FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, event_week) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e
    GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    FIRST event; each later week they appear in increments that
    cohort's count at the corresponding offset — the classic retention
    triangle.

    Plan: the per-user first-event timestamp is a window MIN over the
    user partition (shuffle 1), then a hash aggregate on
    (cohort_week, week_offset) with a distinct-user count (shuffle 2,
    on a key space of weeks² — tiny). At 100 TB the events feed is
    shuffled once by user_id (the same exchange sessionize/funnel use —
    a shared clustering layout amortizes all three) and the retention
    matrix is O(weeks²) rows regardless of input size. COUNT(DISTINCT)
    inside the second agg is safe because user_id within a
    (cohort, offset) cell is already co-partitioned by the first
    shuffle's key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("event_week"),
        F.date_trunc("week", F.min("ts").over(w)).cast("date").alias("cohort_week"),
    )
    return (
        e.groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("event_week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


@query(
    "events_path_ngrams",
    oracle="""
    WITH t AS (
      SELECT event_type AS step_from,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS step_to
      FROM events
    )
    SELECT step_from, step_to, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM t WHERE step_to IS NOT NULL
    GROUP BY step_from, step_to
    """,
)
def events_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bigrams: counts of consecutive event-type transitions
    per user (the Markov-chain / user-path building block — "what do
    users do right after an error?").

    Plan: ONE shuffle on user_id for the lead() window (deterministic
    (ts, event_id) order so ties are stable), then a hash aggregate on
    the 25-cell transition matrix — the second "shuffle" moves at most
    |event_types|² rows per partition after map-side combine. At 100 TB
    this is the same single-exchange shape as sessionize; extending to
    trigrams is one more lead() over the SAME window (no extra
    shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    t = ev.select(
        F.col("event_type").alias("step_from"),
        F.lead("event_type").over(w).alias("step_to"),
    )
    return (
        t.where(F.col("step_to").isNotNull())
        .groupBy("step_from", "step_to")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "agg_mode_per_key",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type ASC
             ) AS rn
      FROM c
    )
    SELECT user_id, event_type AS mode_event_type, n AS n_occurrences
    FROM r WHERE rn = 1
    """,
)
def agg_mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key MODE (most frequent value) with a deterministic
    tiebreak: each user's most common event type, ties resolved
    alphabetically — engines disagree on bare mode() tiebreaks, so the
    count+row_number spelling is the portable (and distributed) form.

    Plan: hash aggregate on (user_id, event_type) — map-side combine
    collapses the feed to |users|×|types| rows BEFORE the shuffle —
    then a window top-1 per user over that already-small frame.
    Catalyst plans the rn=1 filter as WindowGroupLimit (running top-1,
    no full sort materialization). At 100 TB the post-agg frame is
    O(users × 5), so the second exchange is negligible; this beats
    any collect_list/UDF mode by never holding a user's raw events."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("n_occurrences"),
        )
    )


_Z_ORACLE = f"""
    WITH t AS (
      SELECT event_id, user_id, value,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             {_o_wdsum('value')} AS sx,
             {_o_wdsum('value * value')} AS sxx
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, value,
           CASE WHEN n >= 5 AND (sxx - sx * sx / n) / (n - 1) > 0
                THEN (value - sx / n)
                     / sqrt((sxx - sx * sx / n) / (n - 1))
           END AS zscore,
           COALESCE(
             CASE WHEN n >= 5 AND (sxx - sx * sx / n) / (n - 1) > 0
                  THEN abs((value - sx / n)
                       / sqrt((sxx - sx * sx / n) / (n - 1))) > 3.0
             END, FALSE) AS is_anomaly
    FROM t
"""


@query("window_anomaly_zscore", oracle=_Z_ORACLE)
def window_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flag per user: each event scored
    against the mean/stddev of its own last 20 events (bounded ROWS
    frame). The robust-median complement lives in
    `window_moving_median`; this is the parametric fast path.

    Engine-stable numerics: built-in stddev over a window is a
    streaming Welford update whose low bits depend on evaluation
    order, so the moments come from EXACT decimal power sums over the
    frame (the agg_stats recipe applied to windows) and are finished
    in IEEE doubles — bit-identical in both engines. Frame state is
    two decimals + a count regardless of history length.

    Plan: ONE shuffle on user_id; both power sums and the count share
    the single window frame. Warm-up (< 5 points) and zero-variance
    frames yield NULL score / FALSE flag rather than ±inf."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-19, Window.currentRow)
    )
    t = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        _wdsum("value", w).alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast(_DEC))
        .over(w)
        .cast(_DEC)
        .cast("double")
        .alias("sxx"),
    )
    n = F.col("n").cast("double")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    z = (F.col("value") - F.col("sx") / n) / F.sqrt(var)
    defined = (F.col("n") >= 5) & (var > 0)
    return t.select(
        "event_id",
        "user_id",
        "value",
        F.when(defined, z).alias("zscore"),
        F.coalesce(
            F.when(defined, F.abs(z) > 3.0), F.lit(False)
        ).alias("is_anomaly"),
    )


@query(
    "timeseries_gapfill",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             {_o_wdsum('value').replace('OVER w ', '')} AS day_value
      FROM events GROUP BY user_id, day
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY user_id
    ), cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    )
    SELECT c.user_id, c.day, d.day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY c.user_id ORDER BY c.day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           d.day_value IS NULL AS is_gap
    FROM cal c LEFT JOIN daily d USING (user_id, day)
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill (the hypertable
    `time_bucket_gapfill` / `locf` pattern): each user's daily value
    series is densified to a complete calendar between their first and
    last active day, and missing days carry the last observed value
    forward (`is_gap` marks the synthesized rows).

    Plan: the 100 TB trick is that EVERYTHING after the first daily
    aggregate operates on the reduced (user × day) frame, never the raw
    feed — the event scan collapses via map-side combine into one keyed
    shuffle; span min/max, the per-user `sequence()` explode (calendar
    synthesis WITHOUT a driver loop or a numbers table), the
    equi-join, and the forward-fill window all move O(users × days)
    rows. Fill values use the exact-decimal sum so gap-filled copies
    are bit-identical to their source row in both engines; the LOCF
    itself is `last(col, ignorenulls)` over a running frame — state is
    one value per user regardless of gap length."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            F.sum(F.col("value").cast(_DEC))
            .cast(_DEC)
            .cast("double")
            .alias("day_value")
        )
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cal.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "day_value",
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("day_value").isNull().alias("is_gap"),
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # fixture-sized thresholds so the rewrite triggers at sf0.01 the way
    # it would on real stats at 100 TB
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuned join itself (no conf scoping) — callers own the confs;
    tests/test_plans.py pins `bloom_filter_might_contain` in its plan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(F.col("l_quantity").cast(_DEC)).cast(_DEC).cast("double")
            .alias("total_qty"),
        )
    )


@query(
    "join_bloom_filtered",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL({_PREC},{_SCALE})))
                AS DECIMAL({_PREC},{_SCALE})) AS VARCHAR) AS DOUBLE)
             AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter pruned join — DPP's sibling for NON-partition
    keys: the selective dim side (URGENT orders) builds a Bloom filter
    aggregate at runtime that is pushed into the fact scan as a
    `might_contain` predicate, so ~80% of lineitem rows die AT THE SCAN
    instead of traveling through the shuffle to be dropped by the join.
    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling the ~match set (Spark's runtime-filter rewrite;
    broadcast disabled here to exercise the shuffle-join case it
    targets).

    Conf scoping: the rewrite is driven by session confs, so the tuned
    plan is EXECUTED inside this function (sink + re-read, the
    `vector_insert` discipline) and every conf restored before return —
    the registry contract is that queries never leak session state."""
    import tempfile

    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    path = tempfile.mkdtemp(prefix="bloom_join_") + "/out"
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        bloom_filtered_join(spark, sf_dir).write.mode("overwrite").parquet(path)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.read.parquet(path)


@query(
    "concurrency_sweep",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), s AS (
      SELECT user_id, ts, event_id,
             SUM(is_start) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
      FROM x
    ), sess AS (
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             MIN(ts) AS s, MAX(ts) AS e
      FROM s GROUP BY user_id, session_seq
    ), pts AS (
      SELECT s AS t, CAST(1 AS BIGINT) AS delta, user_id, session_seq,
             CAST(date_trunc('day', s) AS DATE) AS day
      FROM sess
      UNION ALL
      SELECT e, CAST(-1 AS BIGINT), user_id, session_seq,
             CAST(date_trunc('day', e) AS DATE)
      FROM sess
    ), loc AS (
      SELECT t, delta, user_id, session_seq, day,
             SUM(delta) OVER (PARTITION BY day
               ORDER BY t ASC, delta DESC, user_id ASC, session_seq ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS local_sum
      FROM pts
    ), dt AS (
      SELECT day, SUM(delta) AS dsum FROM pts GROUP BY day
    ), carry AS (
      SELECT day, COALESCE(SUM(dsum) OVER (ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM dt
    )
    SELECT loc.t, loc.user_id, loc.session_seq, loc.delta,
           CAST(loc.local_sum + carry.c AS BIGINT) AS concurrent
    FROM loc JOIN carry USING (day)
    """,
)
def concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval concurrency via a DISTRIBUTED sweep line: how many user
    sessions are open at every session boundary (the 'concurrent
    users/transfers/calls over time' analytics staple).

    A naive sweep is a single global ORDER BY + running sum — one
    partition, the textbook scale-breaker. This is the two-level
    prefix-sum fix (the scan/prefix-sum pattern from GPU computing,
    applied to shuffles):

      1. ±1 boundary points, bucketed by DAY;
      2. running sum WITHIN each day partition (parallel across days);
      3. per-day totals (tiny aggregate) get their own prefix sum —
         a window over O(days) rows, not O(events);
      4. concurrent = local running sum + broadcast-joined carry-in.

    Ordering convention: at equal timestamps, starts (+1) sort before
    ends (−1) — touching intervals count as overlapping — with
    (user_id, session_seq) as the final total-order tiebreak so both
    engines fold the same sequence. Sessions reuse `sessionize`'s
    30-minute-gap islands (same single user-keyed shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    is_start = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 minutes")),
            1,
        ).otherwise(0)
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.sum(is_start).over(wrun).cast("long").alias("session_seq"),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    # both boundary points from ONE pass over sess (explode of a 2-array,
    # not a union that would re-derive the session frame per leg)
    pts = sess.select(
        "user_id",
        "session_seq",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).cast("long").alias("delta")),
                F.struct(F.col("e").alias("t"), F.lit(-1).cast("long").alias("delta")),
            )
        ).alias("p"),
    ).select(
        F.col("p.t").alias("t"),
        F.col("p.delta").alias("delta"),
        "user_id",
        "session_seq",
        F.date_trunc("day", "p.t").cast("date").alias("day"),
    )
    wday = (
        Window.partitionBy("day")
        .orderBy(
            F.col("t").asc(), F.col("delta").desc(),
            F.col("user_id").asc(), F.col("session_seq").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = pts.withColumn("local_sum", F.sum("delta").over(wday))
    dt = pts.groupBy("day").agg(F.sum("delta").alias("dsum"))
    wcarry = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = dt.select(
        "day", F.coalesce(F.sum("dsum").over(wcarry), F.lit(0)).alias("c")
    )
    return loc.join(F.broadcast(carry), "day").select(
        "t",
        "user_id",
        "session_seq",
        "delta",
        (F.col("local_sum") + F.col("c")).cast("long").alias("concurrent"),
    )


@query(
    "join_partition_pruned",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL({_PREC},{_SCALE})))
                AS DECIMAL({_PREC},{_SCALE})) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP), end-to-end: the fact feed is
    laid out PARTITIONED BY its join key (event_type directories), the
    dim side carries a selective filter, and Spark derives the fact
    scan's partition list AT RUNTIME from the dim join's broadcast —
    the star-schema pattern that turns a 100 TB fact scan into reading
    only the matching partition directories, with no literal IN-list in
    user code (the filter lives on the DIM, exactly like a date-dim
    prune). The plan gate pins `dynamicpruning` in PartitionFilters.

    The partitioned layout is (re)written to a temp dir per run — at
    scale this is the at-rest table layout, written once (see
    `layout_cluster_range` for the within-partition complement)."""
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="events_by_type_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.select("event_type")
        .distinct()
        .where(F.col("event_type").isin("click", "purchase"))
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC))
            .cast(_DEC)
            .cast("double")
            .alias("total_value"),
        )
    )


_PROFILE_COLS = (
    ("o_orderkey", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}"),
    ("o_orderpriority", "{c}"),
    ("o_orderdate", "CAST({c} AS VARCHAR)"),
    ("o_totalprice", "CAST(CAST({c} AS DECIMAL(15,2)) AS VARCHAR)"),
)


@query(
    "profile_table",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {tpl.format(c=f'MIN({c})')} AS min_val,
           {tpl.format(c=f'MAX({c})')} AS max_val
    FROM orders
    """
        for c, tpl in _PROFILE_COLS
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler (the ANALYZE TABLE / data-quality-report shape):
    one row per column with row/null/distinct counts and min/max,
    rendered to strings via type-stable paths (ints/dates exact;
    doubles through DECIMAL(15,2) so both engines print identical
    digits — raw double→string formatting is NOT engine-portable).

    Plan: ONE scan; the multi-column exact COUNT(DISTINCT) makes
    Catalyst plan a single Expand (one replica per distinct column)
    into one aggregate — the standard exact shape. At 100 TB you trade
    exactness for a single no-Expand pass by swapping in
    approx_count_distinct (HLL, mergeable state) — same operator,
    one-line change; exact is kept here because the oracle pins it.
    Output is O(columns) rows from any input size."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, _ in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    a = o.agg(*aggs)

    def _render(c: str, tpl: str, side: str) -> F.Column:
        if "DECIMAL" in tpl:
            return F.col(f"{c}__{side}").cast("decimal(15,2)").cast("string")
        return F.col(f"{c}__{side}").cast("string")

    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            _render(c, tpl, "min").alias("min_val"),
            _render(c, tpl, "max").alias("max_val"),
        )
        for c, tpl in _PROFILE_COLS
    ]
    return a.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


_N_BUCKETS = 20


@query(
    "agg_histogram",
    oracle=f"""
    WITH s AS (
      SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      FROM lineitem
    ), b AS (
      SELECT CAST(least(floor((l_extendedprice - s.mn)
                              / ((s.mx - s.mn) / {_N_BUCKETS})),
                        {_N_BUCKETS - 1}) AS BIGINT) AS bucket,
             s.mn AS mn, s.mx AS mx
      FROM lineitem, s
    )
    SELECT bucket,
           mn + bucket * ((mx - mn) / {_N_BUCKETS}) AS bucket_lo,
           mn + (bucket + 1) * ((mx - mn) / {_N_BUCKETS}) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM b GROUP BY bucket, mn, mx
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with DATA-DERIVED bounds: 20 buckets over
    [min, max] of l_extendedprice — the two-pass scan-stats-then-bin
    pattern every profiler/optimizer statistics job uses.

    Plan: pass 1 is a 1-row global min/max aggregate (map-side partial,
    ~nothing shuffled); Catalyst broadcasts that single row into pass
    2's bucket expression (BroadcastNestedLoopJoin of a 1-row side —
    the cheap, correct way to use a scalar statistic cluster-wide, vs
    collect()-ing it to the driver and baking it into the plan, which
    would break plan reuse/caching at 100 TB). Pass 2 is one hash
    aggregate on ≤ 20 keys after map-side combine. The top bucket is
    closed (least(…, 19)) so x = max lands in bucket 19 in both
    engines; all bin arithmetic is IEEE double on identical inputs."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / _N_BUCKETS
    bucket = F.least(
        F.floor((F.col("l_extendedprice") - F.col("mn")) / width),
        F.lit(_N_BUCKETS - 1),
    ).cast("long")
    return (
        li.crossJoin(F.broadcast(s))
        .select(bucket.alias("bucket"), "mn", "mx")
        .groupBy("bucket", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .select(
            "bucket",
            (F.col("mn") + F.col("bucket") * width).alias("bucket_lo"),
            (F.col("mn") + (F.col("bucket") + 1) * width).alias("bucket_hi"),
            "n_items",
        )
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH t AS (
      SELECT l_extendedprice AS v,
             ntile(8) OVER (
               ORDER BY l_extendedprice ASC,
                        l_orderkey * 10 + l_linenumber ASC
             ) AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           MIN(v) AS bucket_lo,
           MAX(v) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM t GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (8 quantile buckets of l_extendedprice) —
    the optimizer-statistics sibling of :func:`agg_histogram`'s
    equi-width bins: every bucket holds the same row count (±1), so
    bucket boundaries ARE the octiles.

    The oracle says ``ntile(8)`` over the whole table — a
    single-partition sort of every lineitem row if executed literally.
    The Spark side instead runs :func:`_ntile_two_level` (value-binned
    buckets from a broadcast min/max row, per-bucket row_number, tiny
    prefix-sum carry), then one ≤8-key aggregate for the bucket
    min/max/count. Ties on price are broken by the unique
    (l_orderkey, l_linenumber) key — encoded as orderkey·10+linenumber
    (linenumber ≤ 7) — identically in both engines, so the bucket
    assignment, and therefore the boundaries, are bit-equal."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )
    binned = _ntile_two_level(
        li, "bucket", "v", descending=False, tiebreak="tb", n_tiles=8
    )
    return binned.groupBy("bucket").agg(
        F.min("v").alias("bucket_lo"),
        F.max("v").alias("bucket_hi"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "recursive_cte_closure",
    oracle="""
    WITH RECURSIVE anc(node, depth) AS (
      SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
      UNION ALL
      SELECT d.doc_id, a.depth + 1
      FROM documents d JOIN anc a ON d.doc_id // 2 = a.node
      WHERE d.doc_id > 1
    )
    SELECT node, depth FROM anc
    """,
)
def recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal with a FIRST-CLASS recursive CTE (Spark 4's
    WITH RECURSIVE): the implicit binary tree over doc_ids
    (parent = id DIV 2) walked from the root, emitting every node's
    depth — the org-chart / BOM / folder-tree query shape, in pure SQL
    on BOTH engines (DuckDB mirrors the identical recursion).

    Versus dedup_components' hand-rolled label propagation (which
    solves arbitrary-graph closure with pointer jumping), the
    recursive CTE is the declarative path for DAG/tree-shaped data:
    each iteration is one distributed join of the frontier against the
    edge relation, state = the accumulated result, rounds = tree depth
    (log n here, ~9 at sf0.01 — far under the engine's recursion
    limit). Frontier-vs-edges joins plan like any equi-join, so
    broadcast/AQE apply per level."""
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id").createOrReplaceTempView("rec_docs")
    return spark.sql(
        """
        WITH RECURSIVE anc(node, depth) AS (
          SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
          UNION ALL
          SELECT d.doc_id, a.depth + 1
          FROM rec_docs d JOIN anc a ON d.doc_id DIV 2 = a.node
          WHERE d.doc_id > 1
        )
        SELECT node, depth FROM anc
        """
    )


@query(
    "events_rfm",
    oracle=f"""
    WITH g AS (SELECT MAX(ts) AS now FROM events),
    u AS (
      SELECT user_id,
             CAST(date_diff('day', MAX(ts), g.now) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(CAST(CAST(SUM(CAST(value AS DECIMAL({_PREC},{_SCALE})))
                  AS DECIMAL({_PREC},{_SCALE})) AS VARCHAR) AS DOUBLE)
               AS monetary
      FROM events, g GROUP BY user_id, g.now
    ), s AS (
      SELECT user_id, recency_days, frequency, monetary,
             CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC)
               AS BIGINT) AS r_quintile,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
               AS BIGINT) AS f_quintile,
             CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id ASC)
               AS BIGINT) AS m_quintile
      FROM u
    )
    SELECT *,
           CASE WHEN r_quintile = 1 AND f_quintile <= 2 THEN 'champion'
                WHEN r_quintile <= 2 AND f_quintile <= 3 THEN 'loyal'
                WHEN r_quintile >= 4 AND f_quintile >= 4 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM s
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles +
    segment label) — the workhorse customer-analytics rollup.

    Plan: ONE corpus-scale aggregate reduces events to the per-user
    frame (map-side combined); the anchor timestamp is a 1-row MAX
    broadcast (the agg_histogram stats pattern); the three ntile
    computations then run over USERS, not events — and each quintile is
    the exact two-level ntile (:func:`_ntile_two_level`): value-binned
    buckets, per-bucket row_number, tiny prefix-sum carry — so no user
    frame ever funnels through a single-partition sort even at extreme
    user counts. Every ordering carries a user_id tiebreak so quintile
    boundaries are deterministic under metric ties; monetary uses the
    exact-decimal fold."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("now"))
    u = (
        ev.crossJoin(F.broadcast(g))
        .groupBy("user_id", "now")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast(_DEC)).cast(_DEC).cast("double")
            .alias("monetary"),
        )
        .select(
            "user_id",
            F.datediff(F.col("now"), F.col("last_ts")).cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # three INDEPENDENT quintile branches joined back on user_id, not a
    # chain: chaining threads each metric's stats/bucket/carry stages
    # through the next metric's lineage, so pass 3 re-plans passes 1-2
    # (measured 4.1 s vs 2.0 s at sf0.1); independent branches share
    # the user-aggregate exchange via ReuseExchange instead
    s = u
    for out, metric, desc in (
        ("r_quintile", "recency_days", False),
        ("f_quintile", "frequency", True),
        ("m_quintile", "monetary", True),
    ):
        q = _ntile_two_level(
            u.select("user_id", metric), out, metric, desc, tiebreak="user_id"
        ).select("user_id", out)
        s = s.join(q, "user_id")
    s = s.select(
        "user_id", "recency_days", "frequency", "monetary",
        "r_quintile", "f_quintile", "m_quintile",
    )
    return s.withColumn(
        "segment",
        F.when((F.col("r_quintile") == 1) & (F.col("f_quintile") <= 2), "champion")
        .when((F.col("r_quintile") <= 2) & (F.col("f_quintile") <= 3), "loyal")
        .when((F.col("r_quintile") >= 4) & (F.col("f_quintile") >= 4), "at_risk")
        .otherwise("regular"),
    )


@query(
    "attribution_first_touch",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS rn
      FROM events WHERE event_type IN ('view', 'click')
    ), ft AS (
      SELECT user_id, event_id AS touch_event_id, ts AS touch_ts,
             event_type AS touch_type
      FROM t WHERE rn = 1
    )
    SELECT p.event_id AS purchase_event_id, p.user_id, p.ts AS purchase_ts,
           ft.touch_event_id, ft.touch_type,
           CASE WHEN ft.touch_ts <= p.ts
                THEN CAST(date_diff('day', ft.touch_ts, p.ts) AS BIGINT)
           END AS days_to_convert,
           COALESCE(ft.touch_ts <= p.ts, FALSE) AS attributed
    FROM events p LEFT JOIN ft ON p.user_id = ft.user_id
    WHERE p.event_type = 'purchase'
    """,
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase credited to its user's
    FIRST view/click ever (the marketing-analytics workhorse; last-touch
    is the same plan with the window order reversed). Purchases that
    precede any touch (or users with no touch) stay unattributed —
    pinned by the `attributed` flag rather than silently dropped.

    Plan: the touch relation reduces to ONE row per user (row_number
    over the user-keyed window, WindowGroupLimit keeps top-1 per task),
    so the purchase join is fact ⋈ user-sized-dim — broadcastable at
    any event volume where users ≪ events, and the same user-keyed
    exchange sessionize/funnel/cohort already cluster by. Deterministic
    (ts, event_id) tiebreak fixes same-timestamp touches."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ft = (
        ev.where(F.col("event_type").isin("view", "click"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("touch_event_id"),
            F.col("ts").alias("touch_ts"),
            F.col("event_type").alias("touch_type"),
        )
    )
    p = ev.where(F.col("event_type") == "purchase")
    return p.join(ft, "user_id", "left").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "touch_event_id",
        "touch_type",
        F.when(
            F.col("touch_ts") <= F.col("ts"),
            F.datediff(F.col("ts"), F.col("touch_ts")).cast("long"),
        ).alias("days_to_convert"),
        F.coalesce(F.col("touch_ts") <= F.col("ts"), F.lit(False)).alias(
            "attributed"
        ),
    )


@query(
    "rolling_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), span AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud
    ), cover AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
               AS DATE) AS as_of_day
      FROM ud
    )
    SELECT c.as_of_day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM cover c, span s
    WHERE c.as_of_day BETWEEN s.d0 AND s.d1
    GROUP BY c.as_of_day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (the WAU curve) — THE growth metric —
    via the explode-instead-of-range-join trick: a user active on day d
    counts as active "as of" days d..d+6, so each distinct (user, day)
    row fans out to the ≤7 as-of days it covers and the rolling
    distinct count becomes a plain hash aggregate. No range join, no
    per-day window with set state, no day×events self-join.

    Plan: (1) events collapse to DISTINCT (user, day) — one shuffle,
    map-side combined, output |users|×|days| at most; (2) a 7× map-side
    fan-out via sequence/explode (JVM Generate, no Python); (3) one
    countDistinct aggregate on (as_of_day). At 100 TB stage 1 is the
    only event-scale pass; everything after is user×day scale. Days
    past the observed span are trimmed so both engines see the same
    calendar."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    span = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("as_of_day"),
    )
    return (
        cover.crossJoin(F.broadcast(span))
        .where(F.col("as_of_day").between(F.col("d0"), F.col("d1")))
        .groupBy("as_of_day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


_FUZZY_K = 4    # rarest grams kept per name (the prefix-filter budget)
_FUZZY_DF_CAP = 50  # a gram may BLOCK only if <= this many names carry it


@query(
    "join_fuzzy_string",
    oracle=f"""
    WITH q AS (
      SELECT GREATEST(3, CAST(CEIL(LOG10(COUNT(*) + 1)) AS INTEGER) - 1) AS q
      FROM customer
    ), clean AS (
      SELECT c_custkey AS c_key, c_name FROM customer
    ), dirty AS (
      SELECT c_custkey AS d_key,
             substring(c_name, 1, CAST(c_custkey % (length(c_name) - 1) AS INTEGER))
             || substring(c_name, CAST(c_custkey % (length(c_name) - 1) AS INTEGER) + 2)
               AS d_name
      FROM customer
    ), cg AS (
      SELECT DISTINCT c_key, unnest(list_transform(
               range(1, length(c_name) - q.q + 2),
               i -> substring(c_name, CAST(i AS INTEGER), q.q))) AS gram
      FROM clean, q
    ), df AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM cg GROUP BY gram
    ), crare AS (
      SELECT c_key, gram FROM (
        SELECT c_key, cg.gram,
               row_number() OVER (PARTITION BY c_key
                 ORDER BY df.df ASC, cg.gram ASC) AS rn
        FROM cg JOIN df ON cg.gram = df.gram
        WHERE df.df <= {_FUZZY_DF_CAP}
      ) WHERE rn <= {_FUZZY_K}
    ), dg AS (
      SELECT DISTINCT d_key, unnest(list_transform(
               range(1, length(d_name) - q.q + 2),
               i -> substring(d_name, CAST(i AS INTEGER), q.q))) AS gram
      FROM dirty, q
    ), drare AS (
      SELECT d_key, gram FROM (
        SELECT d_key, dg.gram,
               row_number() OVER (PARTITION BY d_key
                 ORDER BY df.df ASC, dg.gram ASC) AS rn
        FROM dg JOIN df ON dg.gram = df.gram
        WHERE df.df <= {_FUZZY_DF_CAP}
      ) WHERE rn <= {_FUZZY_K}
    ), cand AS (
      SELECT DISTINCT d.d_key, c.c_key
      FROM drare d JOIN crare c ON d.gram = c.gram
    ), scored AS (
      SELECT cand.d_key, cand.c_key,
             CAST(levenshtein(di.d_name, cl.c_name) AS BIGINT) AS lev
      FROM cand
      JOIN dirty di ON cand.d_key = di.d_key
      JOIN clean cl ON cand.c_key = cl.c_key
      WHERE levenshtein(di.d_name, cl.c_name) <= 2
    )
    SELECT d_key, c_key AS matched_key, lev FROM (
      SELECT *, row_number() OVER (PARTITION BY d_key
                ORDER BY lev ASC, c_key ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def join_fuzzy_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: match corrupted names (one
    char deterministically dropped) back to the clean customer table
    with a q-gram PREFIX-FILTER block + edit-distance re-rank — the
    set-similarity-join recipe (PPJoin family): joining on every 3-gram
    would pair all rows through common grams ('Cus', '000'), so each
    name keeps only its k=4 RAREST grams (ranked by exact corpus
    document frequency) and only those block — candidate count tracks
    gram selectivity, not n². Survivors pay levenshtein ≤ 2; best match
    per dirty row with a (distance, key) tiebreak.

    Scale shape: gram df is one hash agg; rare-gram selection a
    per-name window over ≤16 grams; the block join moves (key, gram)
    pairs only — names hydrate AFTER candidates. Recall is the
    prefix-filter trade: a corruption that destroys all k shared rare
    grams drops that pair (raise k for recall, both engines agree
    exactly either way). Corrupted grams absent from the clean vocab
    are excluded from ranking — they can never block."""
    import math

    cust = load_table(spark, sf_dir, "customer")
    n_names = cust.count()
    q = max(3, math.ceil(math.log10(n_names + 1)) - 1)
    clean = cust.select(F.col("c_custkey").alias("c_key"), "c_name")
    dirty = cust.select(
        F.col("c_custkey").alias("d_key"),
        F.concat(
            F.expr("substring(c_name, 1, CAST(c_custkey % (length(c_name) - 1) AS INT))"),
            F.expr("substring(c_name, CAST(c_custkey % (length(c_name) - 1) AS INT) + 2)"),
        ).alias("d_name"),
    )

    def grams(df: DataFrame, key: str, name: str) -> DataFrame:
        return df.select(
            key,
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({name}) - {q} + 1),"
                    f" i -> substring({name}, i, {q}))"
                )
            ).alias("gram"),
        ).distinct()

    cg = grams(clean, "c_key", "c_name")
    dfreq = cg.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))

    def rare(g: DataFrame, key: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.col("df").asc(), F.col("gram").asc())
        return (
            g.join(dfreq.where(F.col("df") <= _FUZZY_DF_CAP), "gram")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _FUZZY_K)
            .select(key, "gram")
        )

    cand = (
        rare(grams(dirty, "d_key", "d_name"), "d_key")
        .join(rare(cg, "c_key"), "gram")
        .select("d_key", "c_key")
        .distinct()
    )
    scored = (
        cand.join(dirty, "d_key")
        .join(clean, "c_key")
        .select(
            "d_key", "c_key",
            F.levenshtein("d_name", "c_name").cast("long").alias("lev"),
        )
        .where(F.col("lev") <= 2)
    )
    wbest = Window.partitionBy("d_key").orderBy(
        F.col("lev").asc(), F.col("c_key").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select("d_key", F.col("c_key").alias("matched_key"), "lev")
    )


@query(
    "agg_skyline",
    oracle="""
    WITH s AS (
      SELECT MIN(p_retailprice) AS mn, MAX(p_retailprice) AS mx FROM part
    ), b AS (
      SELECT p_partkey, p_retailprice, p_size,
             CAST(least(floor((p_retailprice - s.mn)
                              / ((s.mx - s.mn) / 20)), 19) AS BIGINT)
               AS bucket
      FROM part, s
    ), loc AS (
      SELECT *,
             MAX(p_size) OVER (PARTITION BY bucket
               ORDER BY p_retailprice ASC, p_size DESC, p_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_local
      FROM b
    ), bmax AS (
      SELECT bucket, MAX(p_size) AS bucket_max FROM b GROUP BY bucket
    ), carry AS (
      SELECT bucket,
             MAX(bucket_max) OVER (ORDER BY bucket ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS carry_max
      FROM bmax
    )
    SELECT loc.p_partkey, loc.p_retailprice,
           CAST(loc.p_size AS BIGINT) AS p_size
    FROM loc JOIN carry USING (bucket)
    WHERE loc.p_size > COALESCE(
            greatest(COALESCE(loc.prev_max_local, -1),
                     COALESCE(carry.carry_max, -1)), -1)
    """,
)
def agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts no other part beats on
    BOTH price (lower-better) and size (higher-better) — the classic
    multi-criteria shortlist operator (hotel cheap-AND-close). Exact
    dominance with deterministic ties: at equal price, larger size
    (then smaller key) wins; duplicates keep the first key.

    The textbook sweep is a global sort + running max — one partition.
    This is the SAME two-level prefix decomposition as
    `concurrency_sweep`, applied to running MAX: price-range buckets
    from a broadcast 1-row min/max (the agg_histogram stats pattern),
    running max-size within each bucket (parallel across buckets), an
    O(buckets) carry prefix, and a row survives iff its size exceeds
    both its local prefix max and the carry — bitwise the global sweep
    answer, without the global sort. Plan cost: one stats pass + one
    bucket-keyed window + a broadcast of 20 carry rows."""
    part = load_table(spark, sf_dir, "part")
    s = part.agg(
        F.min("p_retailprice").alias("mn"), F.max("p_retailprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / 20
    b = part.crossJoin(F.broadcast(s)).select(
        "p_partkey", "p_retailprice", "p_size",
        F.least(
            F.floor((F.col("p_retailprice") - F.col("mn")) / width), F.lit(19)
        ).cast("long").alias("bucket"),
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy(
            F.col("p_retailprice").asc(), F.col("p_size").desc(),
            F.col("p_partkey").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = b.withColumn("prev_max_local", F.max("p_size").over(wloc))
    bmax = b.groupBy("bucket").agg(F.max("p_size").alias("bucket_max"))
    wcarry = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.select(
        "bucket", F.max("bucket_max").over(wcarry).alias("carry_max")
    )
    return (
        loc.join(F.broadcast(carry), "bucket")
        .where(
            F.col("p_size")
            > F.greatest(
                F.coalesce(F.col("prev_max_local"), F.lit(-1)),
                F.coalesce(F.col("carry_max"), F.lit(-1)),
            )
        )
        .select(
            "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
        )
    )


@query(
    "agg_gini",
    oracle=f"""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value ASC, event_id ASC) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CAST((2 * i - n - 1) * value
                  AS DECIMAL({_PREC},{_SCALE})))
                AS DECIMAL({_PREC},{_SCALE})) AS VARCHAR) AS DOUBLE)
           / NULLIF(CAST(MAX(n) AS DOUBLE)
              * CAST(CAST(CAST(SUM(CAST(value AS DECIMAL({_PREC},{_SCALE})))
                    AS DECIMAL({_PREC},{_SCALE})) AS VARCHAR) AS DOUBLE), 0.0)
             AS gini
    FROM r GROUP BY event_type
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the value distribution per event type — the
    inequality/imbalance diagnostic (for training corpora: how skewed
    is the token/domain mass; 0 = uniform, →1 = one giant). Computed
    by the rank formula G = Σ(2i − n − 1)·x᎐i / (n·Σx) over
    ascending-sorted values.

    Engine-stable numerics: both Σ terms fold in exact decimals (the
    dsum discipline) and finish in IEEE doubles; rank ties (equal
    values) don't move the sum — coefficient mass over a tied block is
    order-invariant — but the (value, event_id) tiebreak makes the
    intermediate frame deterministic anyway. Plan: ONE shuffle on
    event_type serves both window functions (row_number + count share
    the partition) and the final per-group aggregate is map-side
    combined. Per-group state: two decimal accumulators."""
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")
    wr = wp.orderBy(F.col("value").asc(), F.col("event_id").asc())
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    num = (
        F.sum(
            ((2 * F.col("i") - F.col("n") - 1) * F.col("value")).cast(_DEC)
        )
        .cast(_DEC)
        .cast("double")
    )
    den = F.max("n").cast("double") * (
        F.sum(F.col("value").cast(_DEC)).cast(_DEC).cast("double")
    )
    # a zero-mass group (Σvalue = 0 — the sf1 sweep found event types
    # whose every value is 0) makes Gini 0/0: undefined → NULL in both
    # engines rather than an ANSI divide-by-zero crash
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.when(den != 0.0, num / den).alias("gini"),
    )


@query(
    "agg_corr_matrix",
    oracle=f"""
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {{s1}} AS s1, {{s2}} AS s2, {{s3}} AS s3,
             {{s11}} AS s11, {{s22}} AS s22, {{s33}} AS s33,
             {{s12}} AS s12, {{s13}} AS s13, {{s23}} AS s23
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           (s12 - s1 * s2 / n) /
             (sqrt(s11 - s1 * s1 / n) * sqrt(s22 - s2 * s2 / n)) AS corr
    FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           (s13 - s1 * s3 / n) /
             (sqrt(s11 - s1 * s1 / n) * sqrt(s33 - s3 * s3 / n))
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           (s23 - s2 * s3 / n) /
             (sqrt(s22 - s2 * s2 / n) * sqrt(s33 - s3 * s3 / n))
    FROM s
    """.format(
        s1=o_dsum("l_quantity"),
        s2=o_dsum("l_extendedprice"),
        s3=o_dsum("l_discount"),
        s11=o_dsum("l_quantity * l_quantity"),
        s22=o_dsum("l_extendedprice * l_extendedprice"),
        s33=o_dsum("l_discount * l_discount"),
        s12=o_dsum("l_quantity * l_extendedprice"),
        s13=o_dsum("l_quantity * l_discount"),
        s23=o_dsum("l_extendedprice * l_discount"),
    ),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX over (quantity, price,
    discount) — the feature-redundancy screen a training pipeline runs
    before model-based filters — from ONE aggregate over one scan:
    all 9 power sums in a single partial-agg pass (the agg_stats
    recipe widened), then the 3 pair correlations unpivot via stack().
    Wide-matrix note: p columns need p(p+3)/2 sums — still one pass,
    state O(p²), the right trade until p ~ thousands. Sums are exact
    decimal (order-independent), finishing arithmetic is IEEE double
    with operation order mirrored in the oracle."""

    li = load_table(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q, "s1"), dsum(p, "s2"), dsum(d, "s3"),
        dsum(q * q, "s11"), dsum(p * p, "s22"), dsum(d * d, "s33"),
        dsum(q * p, "s12"), dsum(q * d, "s13"), dsum(p * d, "s23"),
    )
    n = F.col("n").cast("double")

    def _corr(si, sj, sii, sjj, sij):
        return (F.col(sij) - F.col(si) * F.col(sj) / n) / (
            F.sqrt(F.col(sii) - F.col(si) * F.col(si) / n)
            * F.sqrt(F.col(sjj) - F.col(sj) * F.col(sj) / n)
        )

    corrs = s.select(
        _corr("s1", "s2", "s11", "s22", "s12").alias("c12"),
        _corr("s1", "s3", "s11", "s33", "s13").alias("c13"),
        _corr("s2", "s3", "s22", "s33", "s23").alias("c23"),
    )
    return corrs.select(
        F.expr(
            "stack(3, 'l_quantity', 'l_extendedprice', c12, "
            "'l_quantity', 'l_discount', c13, "
            "'l_extendedprice', 'l_discount', c23) AS (col_a, col_b, corr)"
        )
    )


@query(
    "diagnose_skew",
    oracle="""
    WITH li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS mx FROM lineitem
      GROUP BY l_orderkey
    ),
    ord AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS mx FROM orders
      GROUP BY o_custkey
    ),
    ev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS mx FROM events
      GROUP BY user_id
    )
    SELECT 'lineitem.l_orderkey' AS join_key,
           CAST(SUM(mx) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(mx) AS BIGINT) AS max_key_rows,
           CAST(MAX(mx) AS DOUBLE) /
             (CAST(SUM(mx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             AS skew_ratio,
           CAST(MAX(mx) AS DOUBLE) / CAST(SUM(mx) AS DOUBLE) AS top1_share
    FROM li
    UNION ALL
    SELECT 'orders.o_custkey', CAST(SUM(mx) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(MAX(mx) AS BIGINT),
           CAST(MAX(mx) AS DOUBLE) /
             (CAST(SUM(mx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
           CAST(MAX(mx) AS DOUBLE) / CAST(SUM(mx) AS DOUBLE)
    FROM ord
    UNION ALL
    SELECT 'events.user_id', CAST(SUM(mx) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(MAX(mx) AS BIGINT),
           CAST(MAX(mx) AS DOUBLE) /
             (CAST(SUM(mx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
           CAST(MAX(mx) AS DOUBLE) / CAST(SUM(mx) AS DOUBLE)
    FROM ev
    """,
)
def diagnose_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the measurement that DECIDES the
    skew playbook (TUNING §3: AQE skew join → salting → broadcast):
    per candidate join key, the row count, key cardinality, heaviest
    key, skew ratio (max/mean rows-per-key) and the top key's share.

    Plan per key: one map-side-combined count aggregate keyed on the
    join key (the identical shuffle the real join would do — so the
    diagnostic costs one aggregate pass, not a join), reduced to a
    1-row summary. No per-key output leaves the cluster: the heavy
    lifting is (key → count) which stays distributed; only the 3
    summary rows materialize."""
    def _one(label: str, tbl: str, key: str) -> DataFrame:
        per = (
            load_table(spark, sf_dir, tbl)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("mx"))
        )
        return per.agg(
            F.sum("mx").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("mx").alias("mx"),
        ).select(
            F.lit(label).alias("join_key"),
            F.col("n_rows").cast("long"),
            F.col("n_keys").cast("long"),
            F.col("mx").cast("long").alias("max_key_rows"),
            (
                F.col("mx").cast("double")
                / (F.col("n_rows").cast("double") / F.col("n_keys").cast("double"))
            ).alias("skew_ratio"),
            (F.col("mx").cast("double") / F.col("n_rows").cast("double")).alias(
                "top1_share"
            ),
        )

    return (
        _one("lineitem.l_orderkey", "lineitem", "l_orderkey")
        .unionByName(_one("orders.o_custkey", "orders", "o_custkey"))
        .unionByName(_one("events.user_id", "events", "user_id"))
    )


@query(
    "orders_pareto_abc",
    oracle=f"""
    WITH r AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL({_PREC},{_SCALE})))
               AS DECIMAL(38,{_SCALE})) AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    t AS (
      SELECT CAST(CAST(CAST(SUM(rev) AS DECIMAL(38,{_SCALE})) AS VARCHAR)
               AS DOUBLE) AS total
      FROM r
    ),
    c AS (
      SELECT l_partkey,
             CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
             CAST(CAST(CAST(SUM(rev) OVER (
                 ORDER BY rev DESC, l_partkey ASC
               ) AS DECIMAL(38,{_SCALE})) AS VARCHAR) AS DOUBLE) AS cum
      FROM r
    )
    SELECT l_partkey, revenue,
           cum / t.total AS cum_share,
           CASE WHEN cum / t.total <= 0.5 THEN 'A'
                WHEN cum / t.total <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, t
    """,
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC revenue classification: parts ranked by revenue,
    classed A while cumulative share ≤ 50%, B to 80%, C after — the
    inventory-analytics workhorse.

    The oracle's global `SUM() OVER (ORDER BY …)` would be a
    single-partition sort at scale; the Spark side runs the two-level
    prefix decomposition on the EXACT-DECIMAL revenue (value-binned
    buckets from a broadcast stats row → windowed decimal cumsum per
    bucket → O(bins) decimal carry). Decimal addition is associative,
    so carry + local ≡ the oracle's sequential fold BIT-EXACTLY —
    which is precisely why the fold is decimal: the same two-level
    trick on doubles would drift in the low bits and fail the hash.
    The share division happens once per row in double on identical
    operands."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast(f"decimal(38,{_SCALE})")
        .alias("rev")
    )
    stats = F.broadcast(
        r.agg(
            F.min(F.col("rev").cast("double")).alias("_lo"),
            F.max(F.col("rev").cast("double")).alias("_hi"),
            F.sum("rev").cast(f"decimal(38,{_SCALE})").cast("double")
            .alias("total"),
        )
    )
    n_bins = 1024
    f = r.crossJoin(stats)
    width = F.greatest(
        (F.col("_hi") - F.col("_lo")) / F.lit(n_bins), F.lit(1e-12)
    )
    f = f.withColumn(
        "_bucket",
        F.least(
            F.floor((F.col("_hi") - F.col("rev").cast("double")) / width),
            F.lit(n_bins - 1),
        ).cast("long"),
    )
    wloc = (
        Window.partitionBy("_bucket")
        .orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = f.withColumn(
        "_lcum", F.sum("rev").over(wloc).cast(f"decimal(38,{_SCALE})")
    )
    per = f.groupBy("_bucket").agg(
        F.sum("rev").cast(f"decimal(38,{_SCALE})").alias("_bsum")
    )
    wcarry = Window.orderBy(F.col("_bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = per.select(
        "_bucket",
        F.coalesce(
            F.sum("_bsum").over(wcarry).cast(f"decimal(38,{_SCALE})"),
            F.lit(0).cast(f"decimal(38,{_SCALE})"),
        ).alias("_carry"),
    )
    cum = (
        loc.join(F.broadcast(carry), "_bucket")
        .withColumn(
            "cum",
            (F.col("_carry") + F.col("_lcum"))
            .cast(f"decimal(38,{_SCALE})")
            .cast("double"),
        )
    )
    share = F.col("cum") / F.col("total")
    return cum.select(
        "l_partkey",
        F.col("rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.5, "A")
        .when(share <= 0.8, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "events_anomaly_seasonal",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
             {o_dsum('value')} AS total
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, day, hour, total,
           lag(total) OVER (
             PARTITION BY event_type, hour ORDER BY day
           ) AS prev_total,
           total - lag(total) OVER (
             PARTITION BY event_type, hour ORDER BY day
           ) AS residual,
           CASE WHEN lag(total) OVER (
                  PARTITION BY event_type, hour ORDER BY day
                ) IS NULL THEN FALSE
                ELSE abs(total - lag(total) OVER (
                       PARTITION BY event_type, hour ORDER BY day
                     )) > 0.5 * abs(lag(total) OVER (
                       PARTITION BY event_type, hour ORDER BY day
                     ))
           END AS is_anomaly
    FROM h
    """,
)
def events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly detection: each (event_type, hour-of-day)
    series is compared against ITSELF one day earlier — the baseline
    that respects daily seasonality, where a plain trailing z-score
    (window_anomaly_zscore) flags every rush hour as anomalous.

    Plan: one corpus-scale aggregate reduces events to the
    (type × day × hour) frame (exact-decimal totals), then the lag
    window runs per (type, hour) key — at most types × 24 partitions
    of #days rows each, bounded at any event volume. Residual
    arithmetic is per-row double on identical engine inputs; the flag
    fires when |today − yesterday| > 50% of |yesterday|."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(dsum("value", "total"))
    w = Window.partitionBy("event_type", "hour").orderBy(F.col("day").asc())
    prev = F.lag("total").over(w)
    return h.select(
        "event_type", "day", "hour", "total",
        prev.alias("prev_total"),
        (F.col("total") - prev).alias("residual"),
        F.when(prev.isNull(), F.lit(False))
        .otherwise(F.abs(F.col("total") - prev) > 0.5 * F.abs(prev))
        .alias("is_anomaly"),
    )


@query(
    "window_ewma",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
             ) AS xs
      FROM events
    )
    SELECT user_id, event_id, ts, value,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(xs, (x, i) ->
                 x / CAST(1 << (len(xs) - CAST(i AS INTEGER)) AS DOUBLE))),
             (a, p) -> a + p)
           / (2.0 - 1.0 / CAST(1 << (len(xs) - 1) AS DOUBLE)) AS ewma
    FROM o
    """,
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average per user
    (α = 1/2, 10-row frame) — the smoother behind rate limiters and
    trend baselines.

    Cross-engine exactness is the point of this formulation: the decay
    base is 2, so every weight is a power of two and each x·2⁻ᵈ
    product is EXACT in IEEE double (pure exponent shift, no libm pow
    whose low bits differ per platform); the weighted sum is a LEFT
    FOLD over the frame array in identical order in both engines
    (Spark ``aggregate``, DuckDB ``list_reduce`` with a prepended 0
    seed) — same adds, same order, bit-identical result without any
    decimal round-trip (double→decimal conversion of arbitrary doubles
    is the one place the engines' rounding can drift); the normalizer
    2 − 2^(1−k) is computed closed-form in exact doubles. Frame state
    is bounded (10 values); one user-keyed shuffle serves the
    window."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-9, Window.currentRow)
    )
    xs = F.collect_list("value").over(w)
    num = F.expr(
        "aggregate(transform(xs, (x, i) -> "
        "x / cast(shiftleft(1L, size(xs) - 1 - i) as double)), "
        "0.0D, (a, p) -> a + p)"
    )
    den = F.expr(
        "2.0D - 1.0D / cast(shiftleft(1L, size(xs) - 1) as double)"
    )
    return (
        ev.withColumn("xs", xs)
        .withColumn("ewma", num / den)
        .select("user_id", "event_id", "ts", "value", "ewma")
    )


@query(
    "anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_disc(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.event_id, e.value, m.med,
             abs(e.value - m.med) AS d
      FROM events e JOIN med m ON m.event_type = e.event_type
    ), mad AS (
      SELECT event_type, quantile_disc(d, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_id, dev.event_type, dev.value, dev.med, mad.mad,
           dev.d > 3 * 1.4826 * mad.mad AS is_outlier
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flags per event_type — the
    ROBUST global baseline: unlike the z-score faces (whose mean and
    stddev are dragged by the very outliers being hunted), median and
    MAD have a 50% breakdown point; 1.4826·MAD estimates σ under
    normality, so the 3σ-equivalent gate is d > 3·1.4826·MAD.

    Plan: two grouped percentile_disc passes (median of values, then
    median of deviations — group state is bounded by rows-per-type;
    swap in the KLL sketch for corpus-sized groups, agg_kll_quantiles)
    with the tiny per-type statistics broadcast back into each scan.
    percentile_disc picks an actual data value, so both engines agree
    bit-for-bit with no interpolation arithmetic; the threshold
    expression evaluates left-associatively to identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id", "event_type", "value", "med", "mad",
        (F.col("d") > F.lit(3) * F.lit(1.4826) * F.col("mad")).alias("is_outlier"),
    )


# `basket_itemsets_apriori` — frequent pattern mining, the operator
# class the basket family stopped short of (`basket_lift` scores
# PAIRS; recommendations/affinity analyses need k-itemsets): baskets
# group once (collect_set per order), L1-infrequent items are pruned
# INSIDE the basket array (the a-priori monotonicity step — a k-set
# can only be frequent if every member is), then 2- and 3-subsets
# expand INLINE from each pruned basket (combinations bounded by
# basket size ≤ 13 here, and by the L1 prune generally — never a
# corpus self-join) and count per itemset with one groupBy each.
# A planted 3-item bundle rides every 50th order so the triple tier is
# structurally non-empty on organic data; min support 3 keeps the
# output analytic-sized.  Oracle reproduces the same expansion in SQL.
#
# Scale shapes: itemsets = two groupBys over inline-expanded bounded
# arrays; CMS = built-in partial-merge aggregate, constant-size state.

_MINSUP = 3
_PLANT = (9000001, 9000002, 9000003)

_O_BASKETS = f"""
    raw AS (
      SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS item
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, p.p
      FROM (SELECT DISTINCT l_orderkey FROM lineitem
            WHERE l_orderkey % 50 = 0) b
      CROSS JOIN (VALUES ({_PLANT[0]}), ({_PLANT[1]}), ({_PLANT[2]}))
        AS p(p)
    ),
    dedup AS (SELECT DISTINCT o, item FROM raw),
    l1 AS (SELECT item FROM dedup GROUP BY item
           HAVING COUNT(*) >= {_MINSUP}),
    b AS (SELECT o, list_sort(list(item)) AS ps
          FROM dedup JOIN l1 USING (item) GROUP BY o)
"""


@query(
    "basket_itemsets_apriori",
    oracle=f"""
    WITH {_O_BASKETS},
    pairs AS (
      SELECT ps[i.i] AS i1, ps[j.j] AS i2
      FROM b
      CROSS JOIN UNNEST(range(1, len(ps) + 1)) AS i(i)
      CROSS JOIN UNNEST(range(1, len(ps) + 1)) AS j(j)
      WHERE i.i < j.j),
    p2 AS (SELECT i1, i2, CAST(COUNT(*) AS BIGINT) AS support
           FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= {_MINSUP}),
    triples AS (
      SELECT ps[i.i] AS i1, ps[j.j] AS i2, ps[k.k] AS i3
      FROM b
      CROSS JOIN UNNEST(range(1, len(ps) + 1)) AS i(i)
      CROSS JOIN UNNEST(range(1, len(ps) + 1)) AS j(j)
      CROSS JOIN UNNEST(range(1, len(ps) + 1)) AS k(k)
      WHERE i.i < j.j AND j.j < k.k),
    p3 AS (SELECT i1, i2, i3, CAST(COUNT(*) AS BIGINT) AS support
           FROM triples GROUP BY 1, 2, 3 HAVING COUNT(*) >= {_MINSUP})
    SELECT CAST(2 AS INTEGER) AS k, i1, i2,
           CAST(NULL AS BIGINT) AS i3, support FROM p2
    UNION ALL
    SELECT 3, i1, i2, i3, support FROM p3
    """,
)
def basket_itemsets_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-/3-itemsets — see the notes above."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").cast("bigint").alias("item"),
    )
    planted = (
        li.select("o")
        .where(F.col("o") % 50 == 0)
        .distinct()
        .select("o", F.explode(F.array(*[F.lit(p) for p in _PLANT])).alias("item"))
    )
    dedup = li.unionByName(planted).distinct()
    l1 = (
        dedup.groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _MINSUP)
        .select("item")
    )
    baskets = (
        dedup.join(l1, "item")
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("item")).alias("ps"))
    )
    # inline k-subset expansion: bounded by (pruned basket size choose k)
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS i1, y AS i2))))"
            )
        ).alias("p")
    ).select("p.i1", "p.i2")
    p2 = (
        pairs.groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= _MINSUP)
    )
    triples = baskets.select(
        F.explode(
            F.expr(
                "flatten(flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), (y, j) -> "
                "transform(slice(ps, i + j + 3, size(ps)), "
                "z -> struct(x AS i1, y AS i2, z AS i3))))))"
            )
        ).alias("t")
    ).select("t.i1", "t.i2", "t.i3")
    p3 = (
        triples.groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= _MINSUP)
    )
    two = p2.select(
        F.lit(2).cast("int").alias("k"), "i1", "i2",
        F.lit(None).cast("bigint").alias("i3"), "support",
    )
    three = p3.select(
        F.lit(3).cast("int").alias("k"), "i1", "i2", "i3", "support"
    )
    return two.unionByName(three)
