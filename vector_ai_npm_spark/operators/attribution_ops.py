"""Linear multi-touch attribution (wave 10).

`attribution_first_touch` (analytics_ops.py) credits each conversion's
value to ONE touchpoint; linear attribution — the other standard model —
splits it EQUALLY across every touch in the lookback window, the
marketing-analytics default when no position bias is assumed.  Each
purchase's value is divided over all click/view touches by the same
user in the preceding 7 days; purchases with no touch in the window
credit a synthetic ``direct`` channel (the row every attribution report
needs so channel totals reconcile to revenue).

Scale design (100 TB):

* The touch-to-purchase pairing is a USER-equi join with a time-range
  post-filter — never a global range join: the shuffle key is user_id,
  and per-user fan-out is (purchases × touches within 7 days), bounded
  by per-user activity rate × window length, a retention-policy
  constant (the sessionize/join_asof contract).  Hot users are AQE
  skew-splittable on the purchase side.
* The per-purchase touch count is a window over the pair frame keyed
  by the purchase (same shuffle), the per-touch credit is a scalar
  division, and the report is a channel-keyed aggregate of
  channel-cardinality size with map-side partials.
* Credits fold through the exact-decimal dsum so the report is
  bit-stable under partition order; total credited + direct ==
  total purchase value by construction (pinned in tests).

Also here: `attribution_time_decay`, with its notes in a comment above
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.numeric import dsum, o_dsum
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query

_LOOKBACK = "INTERVAL 7 DAY"
_TOUCH_TYPES = ("click", "view")


@query(
    "attribution_linear",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts AS tts, event_type AS channel
      FROM events WHERE event_type IN {_TOUCH_TYPES}
    ), pair AS MATERIALIZED (
      SELECT p.pid, p.value, t.channel,
             COUNT(*) OVER (PARTITION BY p.pid) AS n_touches
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.tts < p.pts AND t.tts >= p.pts - {_LOOKBACK}
    ), credited AS (
      SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_events,
             {o_dsum('value / CAST(n_touches AS DOUBLE)')} AS credit
      FROM pair GROUP BY channel
    ), direct AS (
      SELECT 'direct' AS channel, CAST(COUNT(*) AS BIGINT) AS n_events,
             {o_dsum('value')} AS credit
      FROM p ANTI JOIN pair ON p.pid = pair.pid
    )
    SELECT * FROM credited
    UNION ALL
    SELECT * FROM direct WHERE n_events > 0
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel linear-attribution report over a 7-day lookback —
    see module docstring for the join/shuffle contract."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id",
        F.col("ts").alias("pts"), "value",
    )
    t = ev.where(F.col("event_type").isin(*_TOUCH_TYPES)).select(
        "user_id", F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    pair = (
        p.join(t, "user_id")
        .where(
            (F.col("tts") < F.col("pts"))
            & (F.col("tts") >= F.col("pts") - F.expr(_LOOKBACK))
        )
        .select(
            "pid", "value", "channel",
            F.count(F.lit(1))
            .over(Window.partitionBy("pid"))
            .alias("n_touches"),
        )
    )
    credited = pair.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(
            F.col("value") / F.col("n_touches").cast("double"), "credit"
        ),
    )
    direct = (
        p.join(pair.select("pid"), "pid", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "credit"),
        )
        .select(F.lit("direct").alias("channel"), "n_events", "credit")
        .where(F.col("n_events") > 0)
    )
    return credited.unionByName(direct)


# `attribution_time_decay` — the third classic multi-touch model next
# to `attribution_first_touch` and `attribution_linear`: each touch in
# the 7-day lookback is weighted 2^(6−d) for whole-day age d ∈ 0..6
# (newest day weight 64, oldest 1 — a 1-day half-life).  Credits are
# an exact integer MICRO-LEDGER: per-touch micro-credit =
# floor(value·w·10⁶/Σw + ½), which uses only correctly-rounded double
# ops + floor so both engines produce the identical int64 (the dsum
# scale-8 decimal rounding is NOT engine-identical here — power-of-two
# weights make credit shortest-reprs END at scale-8 half-way points
# while the binary value sits a hair below, measured: 0.557890625 →
# Spark's repr-rounding says …63, DuckDB's exact-binary says …62; the
# mechanism is pinned in tests/test_ledger_properties.py).  Channel totals
# reconcile to revenue within 0.5 µ-units per touch (documented
# ledger rounding, the currency-micro convention).

_US_PER_DAY = 86_400_000_000


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts AS tts, event_type AS channel
      FROM events WHERE event_type IN {_TOUCH_TYPES}
    ), pair AS MATERIALIZED (
      SELECT p.pid, p.value, t.channel,
             CAST(POWER(2, 6 - (epoch_us(p.pts) - epoch_us(t.tts))
                           // {_US_PER_DAY}) AS BIGINT) AS w
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.tts < p.pts AND t.tts > p.pts - {_LOOKBACK}
    ), shared AS (
      SELECT pid, value, channel, w,
             CAST(SUM(w) OVER (PARTITION BY pid) AS BIGINT) AS sw
      FROM pair
    ), credited AS (
      SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
             CAST(SUM(CAST(FLOOR(value * CAST(w * 1000000 AS DOUBLE)
                                 / CAST(sw AS DOUBLE) + 0.5) AS BIGINT))
                  AS BIGINT) AS credit_micro
      FROM shared GROUP BY channel
    ), direct AS (
      SELECT 'direct' AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS credit_micro
      FROM p ANTI JOIN pair ON p.pid = pair.pid
    )
    SELECT channel, n_touches, credit_micro,
           CAST(credit_micro AS DOUBLE) / 1000000 AS credit
    FROM (SELECT * FROM credited
          UNION ALL
          SELECT * FROM direct WHERE n_touches > 0)
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — see the notes above.
    Same user-equi pair contract as attribution_linear; the weight
    2^(6−d) is an exact power of two (d = whole-day age, 0..6 inside
    the 7-day lookback) and credits fold as the exact int64
    micro-ledger (floor(x·10⁶+½) — engine-identical by construction,
    unlike decimal scale-8 rounding where repr-vs-binary diverges at
    half-way reprs)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id",
        F.col("ts").alias("pts"), "value",
    )
    t = ev.where(F.col("event_type").isin(*_TOUCH_TYPES)).select(
        "user_id", F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    # NTZ-safe whole-day age (growth_ops epoch idiom)
    age_days = F.expr(
        f"timestampdiff(MICROSECOND, tts, pts) div {_US_PER_DAY}"
    )
    pair = (
        p.join(t, "user_id")
        .where(
            # STRICT lower bound: a touch EXACTLY 7 days old would get
            # whole-day age 7 → weight 2^-1 = 0.5, which Spark's bigint
            # cast truncates to 0 while DuckDB's CAST rounds to 1 — a
            # cross-engine divergence on the boundary (round-8 advice).
            # Strict > keeps age in 0..6 so every weight is an exact
            # integer power of two in both engines.
            (F.col("tts") < F.col("pts"))
            & (F.col("tts") > F.col("pts") - F.expr(_LOOKBACK))
        )
        .select(
            "pid", "value", "channel",
            F.pow(F.lit(2.0), F.lit(6) - age_days).cast("bigint").alias("w"),
        )
    )
    shared = pair.select(
        "pid", "value", "channel", "w",
        F.sum("w").over(Window.partitionBy("pid")).cast("bigint").alias("sw"),
    )
    micro = F.floor(
        F.col("value")
        * (F.col("w") * 1000000).cast("double")
        / F.col("sw").cast("double")
        + F.lit(0.5)
    ).cast("bigint")
    credited = shared.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(micro).cast("bigint").alias("credit_micro"),
    )
    direct = (
        p.join(pair.select("pid"), "pid", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("credit_micro"),
        )
        .select(
            F.lit("direct").alias("channel"), "n_touches", "credit_micro"
        )
        .where(F.col("n_touches") > 0)
    )
    return credited.unionByName(direct).select(
        "channel", "n_touches", "credit_micro",
        (F.col("credit_micro").cast("double") / F.lit(1000000.0)).alias(
            "credit"
        ),
    )
