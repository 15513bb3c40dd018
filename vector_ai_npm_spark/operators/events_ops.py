"""Event-stream, time-series and experiment faces.

Behavioral analytics over the ``events`` feed (concentration,
burstiness, lag features, peaks, inter-arrival gaps, stickiness,
audience overlap, lateness, activity audits), forecast QA (SES, Holt,
seasonal MASE), the experiment readouts (TVD drift, bootstrap CI, power
analysis), the per-epoch schema-drift audit and the orders
repeat-purchase cohorts.  Every face is exact and oracle-checked; its
notes sit in a comment above it.
"""

from __future__ import annotations

from decimal import Decimal as _Dec

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.prefix import cum_before
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.operators.eval_metrics import (
    _duck_hash_mod,
    _o_d2d,
    _spark_hash_mod,
)
from vector_ai_npm_spark.operators.experiment_ops import _DUCK_ARM, _SPARK_ARM
from vector_ai_npm_spark.registry import query


# `events_concentration_hhi` — Herfindahl-Hirschman concentration of
# events over users: Σ share² as an exact fraction plus top-1 share
# and effective-N (1/HHI).  The "is one crawler/user dominating the
# corpus" audit a data pipeline alarms on before training.

@query(
    "events_concentration_hhi",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) AS BIGINT) AS hhi_num,
           CAST(CAST(SUM(c) AS DECIMAL(19,0)) * SUM(c) AS BIGINT)
             AS hhi_den,
           CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) AS DOUBLE)
             / CAST(CAST(SUM(c) AS DECIMAL(19,0)) * SUM(c) AS DOUBLE)
             AS hhi,
           CAST(MAX(c) AS BIGINT) AS top1_count,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top1_share,
           CAST(CAST(SUM(c) AS DECIMAL(19,0)) * SUM(c) AS DOUBLE)
             / CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) AS DOUBLE)
             AS effective_n
    FROM per_user
    """,
)
def events_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI concentration of events over users — see the notes above.
    One user-keyed aggregate then a 1-row fold; int64 headroom:
    hhi_num ≤ n_events² needs ≤ 3e9 events (beyond: the DECIMAL(38,0)
    intermediates already used)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    d19 = "decimal(19,0)"
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c").cast(d19) * F.col("c")).cast("bigint").alias(
            "hhi_num"
        ),
        (F.sum("c").cast(d19) * F.sum("c")).cast("bigint").alias("hhi_den"),
        (
            F.sum(F.col("c").cast(d19) * F.col("c")).cast("double")
            / (F.sum("c").cast(d19) * F.sum("c")).cast("double")
        ).alias("hhi"),
        F.max("c").cast("bigint").alias("top1_count"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top1_share"
        ),
        (
            (F.sum("c").cast(d19) * F.sum("c")).cast("double")
            / F.sum(F.col("c").cast(d19) * F.col("c")).cast("double")
        ).alias("effective_n"),
    )


# `events_burstiness_fano` — Fano factor (variance-to-mean ratio) of
# daily counts per event type: (n·Σx² − S²)/((n−1)·S) — exact integer
# fraction; > 1 flags over-dispersion (bursty feeds), ~1 is Poisson.
# Completes the temporal-QA trio with `events_autocorr` and
# `events_cusum_drift`.

@query(
    "events_burstiness_fano",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(x) AS BIGINT) AS total,
           CAST(COUNT(*) * SUM(CAST(x AS DECIMAL(19,0)) * x)
                - CAST(SUM(x) AS DECIMAL(19,0)) * SUM(x) AS BIGINT)
             AS fano_num,
           CAST((COUNT(*) - 1) * SUM(x) AS BIGINT) AS fano_den,
           CAST(COUNT(*) * SUM(CAST(x AS DECIMAL(19,0)) * x)
                - CAST(SUM(x) AS DECIMAL(19,0)) * SUM(x) AS DOUBLE)
             / CAST((COUNT(*) - 1) * SUM(x) AS DOUBLE) AS fano
    FROM daily
    GROUP BY event_type
    HAVING COUNT(*) > 1
    """,
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Fano factor of daily counts — see the notes above.
    (Days with zero events of a type contribute no row in both
    engines — the index is over OBSERVED days, documented.)  Corpus →
    (type, day) aggregate → |types|-row fold."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    d19 = "decimal(19,0)"
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("total"),
        F.sum(F.col("x").cast(d19) * F.col("x")).alias("sxx"),
    )
    num = (
        F.col("n_days") * F.col("sxx")
        - F.col("total").cast(d19) * F.col("total")
    )
    den = (F.col("n_days") - 1) * F.col("total")
    return g.where(F.col("n_days") > 1).select(
        "event_type",
        "n_days",
        "total",
        num.cast("bigint").alias("fano_num"),
        den.cast("bigint").alias("fano_den"),
        (num.cast("double") / den.cast("double")).alias("fano"),
    )


# `window_lag_features` — the feature-store lag transform: previous
# value, value delta, integer-microsecond gap since the previous
# event, and next event type, per user in time order.  One user-keyed
# window; output is per-row features (corpus-sized by design).

@query(
    "window_lag_features",
    oracle="""
    SELECT event_id, user_id,
           LAG(value) OVER w AS prev_value,
           value - LAG(value) OVER w AS value_delta,
           CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS BIGINT)
             AS gap_us,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/lead features in time order — see the notes
    above.  ONE user-keyed window serves all four features; the
    microsecond gap is the NTZ-safe integer timestampdiff."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("_t"),
        F.lag(
            F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        ).over(w).alias("_t_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    ).select(
        "event_id",
        "user_id",
        "prev_value",
        "value_delta",
        (F.col("_t") - F.col("_t_prev")).cast("bigint").alias("gap_us"),
        "next_type",
    )


# `drift_tvd_bins` — total-variation distance between the A/B arms'
# purchase-value distributions over unit-value bins.  The ln-free
# member of the drift family (KS = max CDF gap, chi-square = token
# drift, TVD = half L1 over binned masses): TVD = Σ|a_i·n_b − b_i·n_a|
# / (2·n_a·n_b) is an EXACT integer fraction — no ln/erf anywhere, the
# `drift_token_chisq` decision applied to the divergence family (KL/JS
# need ln(), which is engine-divergent by 1 ulp).
#
# Cross-engine determinism follows the wave-13 contract: integer/decimal
# folds only; each final float is ONE identical double expression in
# both engines (correctly-rounded ops on identical inputs); doubles that
# must fold (time-decay credits) are quantized to an int64 micro-ledger
# first — floor-based, never decimal-rounding-based.
#
# Scale shape: every metric reduces the corpus in its FIRST aggregate
# (unit-value bins / per-(type,day) counts / per-source sums /
# per-(item,category) vote tallies) and later stages run on the reduced
# frame.  The attribution pair join is the user-equi + time-post-filter
# contract of attribution_linear (shuffle key user_id, per-user fan-out
# bounded by activity-rate × window, AQE skew-splittable).

_D19 = "decimal(19,0)"
_D38 = "decimal(38,0)"


@query(
    "drift_tvd_bins",
    oracle=f"""
    WITH p AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS bin, {_DUCK_ARM} AS arm
      FROM events WHERE event_type = 'purchase'
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) FILTER (WHERE arm = 'control') AS BIGINT) AS a,
             CAST(COUNT(*) FILTER (WHERE arm = 'treatment') AS BIGINT) AS b
      FROM p GROUP BY bin
    ),
    tot0 AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b
      FROM per_bin
    ),
    folded AS (
      SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(ABS(CAST(a AS DECIMAL(38,0)) * n_b
                          - CAST(b AS DECIMAL(38,0)) * n_a))
                  AS BIGINT) AS tvd_num
      FROM per_bin CROSS JOIN tot0
    )
    SELECT n_a, n_b, n_bins, tvd_num,
           CAST(2 * CAST(n_a AS DECIMAL(38,0)) * n_b AS BIGINT) AS tvd_den,
           CAST(tvd_num AS DOUBLE)
             / CAST(2 * CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE) AS tvd
    FROM folded
    """,
)
def drift_tvd_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation drift between the arms' binned purchase values —
    see the notes above.  One purchase-filtered aggregate to the
    unit-value bin frame (bounded by the value range), then a 1-row
    fold; cross-products ride DECIMAL(38,0) so n_a·n_b never overflows
    int64 (outputs stay BIGINT — beyond ~2e9 purchases per arm keep
    the decimal, the drift_ks_arms bound)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.floor("value").cast("bigint").alias("bin"),
        F.expr(_SPARK_ARM).alias("arm"),
    )
    per_bin = p.groupBy("bin").agg(
        F.count(F.when(F.col("arm") == "control", 1)).cast("bigint").alias("a"),
        F.count(F.when(F.col("arm") == "treatment", 1))
        .cast("bigint")
        .alias("b"),
    )
    tot0 = per_bin.agg(
        F.sum("a").cast("bigint").alias("t_a"),
        F.sum("b").cast("bigint").alias("t_b"),
    )
    gap = F.abs(
        F.col("a").cast(_D38) * F.col("t_b")
        - F.col("b").cast(_D38) * F.col("t_a")
    )
    tot = per_bin.crossJoin(F.broadcast(tot0)).agg(
        F.max("t_a").cast("bigint").alias("n_a"),
        F.max("t_b").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(gap).cast("bigint").alias("tvd_num"),
    )
    den = (F.lit(2) * F.col("n_a").cast(_D38) * F.col("n_b"))
    return tot.select(
        "n_a",
        "n_b",
        "n_bins",
        "tvd_num",
        den.cast("bigint").alias("tvd_den"),
        (F.col("tvd_num").cast("double") / den.cast("double")).alias("tvd"),
    )


# `events_peak_detect` — strict local maxima of the per-type daily
# count series over observed days (lag/lead integer comparisons):
# the "which days spiked" QA readout next to `events_cusum_drift`
# (changepoints) and `events_anomaly_seasonal` (seasonal residuals).

@query(
    "events_peak_detect",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ctx AS (
      SELECT event_type, day, x,
             LAG(x) OVER w AS prev_x, LEAD(x) OVER w AS next_x
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, x, prev_x, next_x
    FROM ctx
    WHERE prev_x IS NOT NULL AND next_x IS NOT NULL
      AND x > prev_x AND x > next_x
    """,
)
def events_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima of per-type daily counts — see the notes
    above.  Corpus → (type, day) aggregate; the lag/lead window
    runs over the tiny daily frame (|types|·|days| rows), edges
    excluded (no neighbor ⇒ not a peak), pure integer comparisons."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type", "day", "x",
        F.lag("x").over(w).alias("prev_x"),
        F.lead("x").over(w).alias("next_x"),
    )
    return ctx.where(
        F.col("prev_x").isNotNull()
        & F.col("next_x").isNotNull()
        & (F.col("x") > F.col("prev_x"))
        & (F.col("x") > F.col("next_x"))
    )


# `events_interarrival` — the inter-event gap profile (bot/crawler
# detection input: machine traffic shows impossibly tight and
# impossibly regular gaps): per-user consecutive-event gaps in EXACT
# integer microseconds, folded to one row with the exact mean
# (Σgap_us / n, both integers) and exact second-resolution
# p50/p90/p99 discrete quantiles.  The quantile pass rides the
# distinct-value + two-level-prefix shape of `agg_percentile_dist` /
# `functions.prefix` — no global sort, no unpartitioned corpus
# window, no per-task value multiset.
#
# Three behavioral-analytics operators, each exact and oracle-checked:
#
# Cross-engine determinism: integer microseconds end-to-end (NTZ-safe
# timestampdiff idiom), exact int64 fractions, each final double ONE
# identical expression in both engines.
#
# Scale shape: every operator's first move reduces the corpus —
# (user, consecutive-pair) gaps collapse to second-resolution distinct
# values; (user, day) distinct for stickiness (the only event-scale
# pass); (user, type) distinct for overlap.  Later stages run on
# value-/day-/type-bounded frames.

_US_PER_S = 1_000_000
_PREFIX_BUCKET_S = 3600  # second-resolution gaps bucket into hours


@query(
    "events_interarrival",
    oracle=f"""
    WITH g AS (
      SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    gaps AS (
      SELECT gap_us, gap_us // {_US_PER_S} AS gap_s
      FROM g WHERE gap_us IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS BIGINT)
             AS sum_gap_us,
           CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_gap_us,
           CAST(quantile_disc(gap_s, 0.5) AS BIGINT) AS p50_s,
           CAST(quantile_disc(gap_s, 0.9) AS BIGINT) AS p90_s,
           CAST(quantile_disc(gap_s, 0.99) AS BIGINT) AS p99_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps
    """,
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap profile — see the notes above.  The lag
    window is user-partitioned (distributed); gaps collapse to
    second-resolution distinct values before the quantile pass, whose
    only unpartitioned window is the hour-bucket carry frame
    (functions.prefix contract); quantiles compare in integer
    arithmetic (cum·100 ≥ p·n — the agg_percentile_dist idiom)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.select(
            "user_id", "ts", "event_id",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(F.col("prev_ts").isNotNull())
        .select(
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us")
        )
        .select("gap_us", (F.col("gap_us") / _US_PER_S).cast("long").alias(
            "gap_s"
        ))
    )
    fold = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("sum_gap_us"),
    )
    vc = gaps.groupBy("gap_s").agg(F.count(F.lit(1)).alias("cnt"))
    cum = cum_before(vc, "gap_s", "cnt", _PREFIX_BUCKET_S).select(
        "gap_s", (F.col("cum_before") + F.col("cnt")).alias("cum")
    )
    quant = cum.crossJoin(
        F.broadcast(fold.select(F.col("n_gaps").alias("n")))
    )

    def q(p100: int, alias: str):
        return F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(p100) * F.col("n"),
                F.col("gap_s"),
            )
        ).cast("bigint").alias(alias)

    qrow = quant.agg(
        q(50, "p50_s"), q(90, "p90_s"), q(99, "p99_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
    )
    return fold.crossJoin(F.broadcast(qrow)).select(
        "n_gaps",
        "sum_gap_us",
        (
            F.col("sum_gap_us").cast("double")
            / F.col("n_gaps").cast("double")
        ).alias("mean_gap_us"),
        "p50_s", "p90_s", "p99_s", "max_gap_s",
    )


# `cohort_stickiness` — the DAU/MAU curve (the "how habitual is
# usage" growth metric next to `rolling_active_users`' WAU): MAU via
# the same explode-instead-of-range-join trick (a user active on day
# d counts toward the 30 as-of days d..d+29), DAU a plain per-day
# count over the distinct (user, day) frame, stickiness = DAU/MAU an
# exact integer fraction.

_MAU_DAYS = 30


@query(
    "cohort_stickiness",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), span AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ), cover AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + {_MAU_DAYS - 1},
                                         INTERVAL 1 DAY)) AS DATE)
               AS as_of_day
      FROM ud
    ), mau AS (
      SELECT c.as_of_day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS mau
      FROM cover c, span s
      WHERE c.as_of_day BETWEEN s.d0 AND s.d1
      GROUP BY c.as_of_day
    )
    SELECT m.as_of_day AS day, COALESCE(d.dau, 0) AS dau, m.mau,
           CAST(COALESCE(d.dau, 0) AS DOUBLE) / CAST(m.mau AS DOUBLE)
             AS stickiness
    FROM mau m LEFT JOIN dau d ON d.day = m.as_of_day
    """,
)
def cohort_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness — see the notes above.  One event-scale
    pass (the DISTINCT (user, day) collapse); MAU rides a 30× map-side
    fan-out of that user×day frame (explode, JVM Generate — the
    rolling_active_users trick at window 30), DAU and the join are
    day-frame-sized.  stickiness = dau/mau is exact (both BIGINT, one
    correctly-rounded division)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    span = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode(
            F.expr(
                f"sequence(day, date_add(day, {_MAU_DAYS - 1}), "
                "interval 1 day)"
            )
        ).alias("as_of_day"),
    )
    mau = (
        cover.crossJoin(F.broadcast(span))
        .where(F.col("as_of_day").between(F.col("d0"), F.col("d1")))
        .groupBy("as_of_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        mau.join(dau, mau["as_of_day"] == dau["day"], "left")
        .select(
            F.col("as_of_day").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            "mau",
            (
                F.coalesce(F.col("dau"), F.lit(0)).cast("double")
                / F.col("mau").cast("double")
            ).alias("stickiness"),
        )
    )


# `events_audience_overlap` — pairwise audience Jaccard between event
# types (the "do clickers also purchase" audience matrix): per-user
# distinct types self-joined on user_id (fan-out ≤ C(|types|, 2) per
# user — type-domain-bounded, never a cross join), totals broadcast,
# overlap = |A∩B|/(|A|+|B|−|A∩B|) exact.

@query(
    "events_audience_overlap",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), nt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ut GROUP BY event_type
    ), common AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS common_users
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT c.type_a, c.type_b, na.n_users AS users_a,
           nb.n_users AS users_b, c.common_users,
           c.common_users AS jac_num,
           na.n_users + nb.n_users - c.common_users AS jac_den,
           CAST(c.common_users AS DOUBLE)
             / CAST(na.n_users + nb.n_users - c.common_users AS DOUBLE)
             AS jaccard
    FROM common c
    JOIN nt na ON na.event_type = c.type_a
    JOIN nt nb ON nb.event_type = c.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience Jaccard between event types — see the notes
    above.  The self-join is user-keyed with a type inequality
    post-filter (per-user fan-out ≤ C(|types|, 2), a domain constant);
    type totals broadcast onto the ≤|types|² pair matrix."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nt = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a = ut.alias("a")
    b = ut.alias("b")
    common = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_users"))
    )
    na = nt.select(
        F.col("event_type").alias("type_a"),
        F.col("n_users").alias("users_a"),
    )
    nb = nt.select(
        F.col("event_type").alias("type_b"),
        F.col("n_users").alias("users_b"),
    )
    den = F.col("users_a") + F.col("users_b") - F.col("common_users")
    return (
        common.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a", "type_b", "users_a", "users_b", "common_users",
            F.col("common_users").alias("jac_num"),
            den.alias("jac_den"),
            (F.col("common_users").cast("double") / den.cast("double")).alias(
                "jaccard"
            ),
        )
    )


# `events_lateness_profile` — per-user out-of-orderness audit over a
# synthetic DELIVERY order (event time + deterministic md5 delay of
# 0–120 s per event — the fixture's event ids are perfectly
# time-ordered, so the delay synthesis supplies the disorder the
# engine must then measure, the cal_scored convention): lateness =
# running-max(event time arrived so far) − event time, in exact
# integer seconds (0 for in-order arrivals).
# This is THE watermark-tuning input for the streaming suite (a
# `withWatermark` delay below the observed p99 lateness silently
# drops that tail — the stream_watermark face shows the effect, this
# face measures the cause).  In-order fraction is an exact integer
# fraction; the late-tail p50/p90/p99 ride the same distinct-value +
# two-level-prefix shape as `events_interarrival`.

_LATE_BUCKET_S = 3600


@query(
    "events_lateness_profile",
    oracle=f"""
    WITH delayed AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             epoch_us(ts)
               + {_duck_hash_mod("event_id", "#arr", 121)} * {_US_PER_S}
               AS arrival
      FROM events
    ),
    arr AS (
      SELECT user_id, event_id, t,
             MAX(t) OVER (
               PARTITION BY user_id ORDER BY arrival, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS peak
      FROM delayed
    ),
    late AS (
      SELECT CASE WHEN peak IS NULL OR peak <= t THEN 0
                  ELSE (peak - t) // {_US_PER_S} END AS late_s
      FROM arr
    ),
    fold AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(*) FILTER (WHERE late_s = 0) AS BIGINT) AS n_inorder
      FROM late
    ),
    lv AS (
      SELECT late_s, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM late WHERE late_s > 0 GROUP BY late_s
    ),
    cum AS (
      SELECT late_s,
             SUM(cnt) OVER (ORDER BY late_s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM lv
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_late FROM lv),
    q AS (
      SELECT MAX(n_late) AS n_late,
             CAST(MIN(CASE WHEN cum * 100 >= 50 * n_late
                           THEN late_s END) AS BIGINT) AS p50_late_s,
             CAST(MIN(CASE WHEN cum * 100 >= 90 * n_late
                           THEN late_s END) AS BIGINT) AS p90_late_s,
             CAST(MIN(CASE WHEN cum * 100 >= 99 * n_late
                           THEN late_s END) AS BIGINT) AS p99_late_s,
             CAST(MAX(late_s) AS BIGINT) AS max_late_s
      FROM cum CROSS JOIN tot
    )
    SELECT f.n_events, f.n_inorder,
           CAST(f.n_inorder AS DOUBLE) / CAST(f.n_events AS DOUBLE)
             AS inorder_frac,
           q.n_late, q.p50_late_s, q.p90_late_s, q.p99_late_s, q.max_late_s
    FROM fold f CROSS JOIN q
    """,
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit in event-id arrival order — see the notes
    above.  The running max is a user-partitioned window; late
    seconds collapse to a distinct-value frame whose quantile pass is
    the events_interarrival prefix shape (integer compares, hour
    buckets); quantiles are over LATE events only (the in-order mass
    is the separate exact fraction)."""
    ev = load_table(spark, sf_dir, "events")
    t = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    delayed = ev.select(
        "user_id",
        "event_id",
        t.alias("t"),
        (
            t
            + _spark_hash_mod(F.col("event_id"), "#arr", 121) * _US_PER_S
        ).alias("arrival"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("arrival").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = delayed.select("t", F.max("t").over(w).alias("peak"))
    late = arr.select(
        F.when(
            F.col("peak").isNull() | (F.col("peak") <= F.col("t")), F.lit(0)
        )
        .otherwise(F.expr(f"(peak - t) div {_US_PER_S}"))
        .alias("late_s")
    )
    fold = late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count(F.when(F.col("late_s") == 0, 1))
        .cast("bigint")
        .alias("n_inorder"),
    )
    lv = (
        late.where(F.col("late_s") > 0)
        .groupBy("late_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = cum_before(lv, "late_s", "cnt", _LATE_BUCKET_S).select(
        "late_s", "cnt", (F.col("cum_before") + F.col("cnt")).alias("cum")
    )
    tot = lv.agg(F.sum("cnt").cast("bigint").alias("n_late"))
    quant = cum.crossJoin(F.broadcast(tot))

    def q(p100: int, alias: str):
        return F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(p100) * F.col("n_late"),
                F.col("late_s"),
            )
        ).cast("bigint").alias(alias)

    qrow = quant.agg(
        F.max("n_late").alias("n_late"),
        q(50, "p50_late_s"), q(90, "p90_late_s"), q(99, "p99_late_s"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
    )
    return fold.crossJoin(F.broadcast(qrow)).select(
        "n_events", "n_inorder",
        (
            F.col("n_inorder").cast("double") / F.col("n_events").cast("double")
        ).alias("inorder_frac"),
        "n_late", "p50_late_s", "p90_late_s", "p99_late_s", "max_late_s",
    )


# `orders_repeat_cohorts` — repeat-purchase rate by first-order-month
# cohort (the acquisition-quality readout next to `cohort_retention`'s
# event-based matrix, computed from the ORDERS fact): per cohort the
# customer count, share with ≥2 lifetime orders, and orders per
# customer — all exact integer fractions.

@query(
    "orders_repeat_cohorts",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT cohort,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS repeat_rate,
           CAST(SUM(n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS orders_per_customer
    FROM per_cust
    GROUP BY cohort
    """,
)
def orders_repeat_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by first-order cohort — see the notes
    above.  One orders scan → per-customer aggregate (min date +
    count ride the same shuffle) → ≤|months|-row cohort fold; both
    rates are exact integer divisions."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias(
            "cohort"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    repeat = F.sum(
        F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    ).cast("bigint")
    return per_cust.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        repeat.alias("n_repeat"),
        F.sum("n_orders").cast("bigint").alias("total_orders"),
        (repeat.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "repeat_rate"
        ),
        (
            F.sum("n_orders").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("orders_per_customer"),
    )


# `events_user_activity_audit` — the bot-triage queue: the top-50
# most active users with exact integer behavior features (event and
# active-day counts, events/day as an exact fraction, night-hour
# events, peak events-per-minute).  A rule-based flag would be
# vacuous on the organic fixture (measured: ≤3.1 events/day, ≤2 per
# minute — no bot tail), so the operator emits the ranked evidence
# table a reviewer or downstream rule consumes, all hash-checkable.

_TOP_N = 50
_NIGHT_END = 6


@query(
    "events_user_activity_audit",
    oracle=f"""
    WITH per_min AS (
      SELECT user_id, date_trunc('minute', ts) AS m,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    peaks AS (
      SELECT user_id, CAST(MAX(c) AS BIGINT) AS max_per_minute
      FROM per_min GROUP BY user_id
    ),
    base AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
             CAST(COUNT(*) FILTER (
               WHERE EXTRACT(hour FROM ts) < {_NIGHT_END}) AS BIGINT)
               AS night_events
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT b.*, p.max_per_minute,
             ROW_NUMBER() OVER (ORDER BY b.n_events DESC, b.user_id)
               AS rnk
      FROM base b JOIN peaks p ON p.user_id = b.user_id
    )
    SELECT user_id, n_events, n_days, night_events, max_per_minute,
           CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)
             AS events_per_day,
           CAST(night_events AS DOUBLE) / CAST(n_events AS DOUBLE)
             AS night_share
    FROM ranked WHERE rnk <= {_TOP_N}
    """,
)
def events_user_activity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-50 (_TOP_N) activity audit — see the notes above.  One user-keyed
    aggregate + a (user, minute) sub-aggregate whose max reduces
    before joining back; the global top-50 is TakeOrderedAndProject
    over the user frame (never a full sort)."""
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    peaks = per_min.groupBy("user_id").agg(
        F.max("c").cast("bigint").alias("max_per_minute")
    )
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct(F.col("ts").cast("date"))
        .cast("bigint")
        .alias("n_days"),
        F.count(F.when(F.hour("ts") < _NIGHT_END, 1))
        .cast("bigint")
        .alias("night_events"),
    )
    joined = base.join(peaks, "user_id")
    top = joined.orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    ).limit(_TOP_N)
    return top.select(
        "user_id", "n_events", "n_days", "night_events", "max_per_minute",
        (
            F.col("n_events").cast("double") / F.col("n_days").cast("double")
        ).alias("events_per_day"),
        (
            F.col("night_events").cast("double")
            / F.col("n_events").cast("double")
        ).alias("night_share"),
    )


# `events_mase_seasonal` — MASE with a weekly season on per-type
# daily event counts: seasonal-naive absolute error (|c_t − c_{t−7}|,
# row-based over observed days) over one-step-naive absolute error,
# normalized per step — all integer sums, one exact ratio.  The
# standard "is my forecast better than the naive" yardstick, here
# auditing how periodic each event stream is.

# --------------------------------------------------------------------------
# events_mase_seasonal
# --------------------------------------------------------------------------

_SEASON = 7


@query(
    "events_mase_seasonal",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, c,
             LAG(c, 1) OVER w AS c1,
             LAG(c, {_SEASON}) OVER w AS c7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN c7 IS NOT NULL THEN ABS(c - c7) END)
                AS BIGINT) AS sae_seasonal,
           CAST(COUNT(c7) AS BIGINT) AS n_seasonal,
           CAST(SUM(CASE WHEN c1 IS NOT NULL THEN ABS(c - c1) END)
                AS BIGINT) AS sae_naive1,
           CAST(COUNT(c1) AS BIGINT) AS n_naive1,
           (CAST(SUM(CASE WHEN c7 IS NOT NULL THEN ABS(c - c7) END)
                 AS DOUBLE) * CAST(COUNT(c1) AS DOUBLE))
             / (CAST(SUM(CASE WHEN c1 IS NOT NULL THEN ABS(c - c1) END)
                     AS DOUBLE) * CAST(COUNT(c7) AS DOUBLE)) AS mase
    FROM lagged GROUP BY event_type
    """,
)
def events_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonal MASE on daily event counts — see the notes
    above.  The corpus reduces to (type, day) counts in the first
    aggregate; the lag windows run on the day-bounded frame,
    partitioned by type."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "c",
        F.lag("c", 1).over(w).alias("c1"),
        F.lag("c", _SEASON).over(w).alias("c7"),
    )
    sae7 = F.sum(
        F.when(F.col("c7").isNotNull(), F.abs(F.col("c") - F.col("c7")))
    ).cast("bigint")
    sae1 = F.sum(
        F.when(F.col("c1").isNotNull(), F.abs(F.col("c") - F.col("c1")))
    ).cast("bigint")
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        sae7.alias("sae_seasonal"),
        F.count("c7").cast("bigint").alias("n_seasonal"),
        sae1.alias("sae_naive1"),
        F.count("c1").cast("bigint").alias("n_naive1"),
        (
            (sae7.cast("double") * F.count("c1").cast("double"))
            / (sae1.cast("double") * F.count("c7").cast("double"))
        ).alias("mase"),
    )


# `ab_bootstrap_ci` — a DETERMINISTIC multiplier bootstrap for the
# mean purchase value per user: rep r weights each user by
# w = 2·(md5(user‖r) mod 2) ∈ {0, 2} (mean-one multiplier), giving
# 101 resampled means whose 5th/50th/95th order statistics are the
# CI.  Everything is exact integer cents until one final division per
# rep; the hash makes both engines draw the SAME bootstrap.  Fan-out
# is a constant 101 reps over the (already user-reduced) frame — at
# 100 TB this is 101 map-side weighted partial sums, no row-level
# resample materialization.

# --------------------------------------------------------------------------
# ab_bootstrap_ci
# --------------------------------------------------------------------------

_N_REPS = 101
_CENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"


@query(
    "ab_bootstrap_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(SUM({_CENTS}) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), reps AS (
      SELECT r FROM range({_N_REPS}) t(r)
    ), weighted AS (
      SELECT r.r,
             2 * ({_duck_hash_mod("u.user_id || '#' || r.r", "#bs", 2)})
               AS w,
             u.cents
      FROM per_user u CROSS JOIN reps r
    ), rep_means AS (
      SELECT r,
             CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
               AS mean_cents
      FROM weighted GROUP BY r
    ), ranked AS (
      SELECT mean_cents,
             ROW_NUMBER() OVER (ORDER BY mean_cents, r) AS rk
      FROM rep_means
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_user) AS n_users,
           CAST({_N_REPS} AS BIGINT) AS n_reps,
           MAX(CASE WHEN rk = 6 THEN mean_cents END) AS p05_mean_cents,
           MAX(CASE WHEN rk = 51 THEN mean_cents END) AS p50_mean_cents,
           MAX(CASE WHEN rk = 96 THEN mean_cents END) AS p95_mean_cents
    FROM ranked
    """,
)
def ab_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multiplier bootstrap — see the notes above.
    The per-user reduce happens FIRST; the 101-rep fan-out is a
    constant-factor map over that reduced frame, and each rep folds
    to one (Σw·cents, Σw) pair map-side.  The rank window runs over
    exactly 101 rows."""
    ev = load_table(spark, sf_dir, "events")
    # consumed twice (rep fan-out + n_users); checkpoint the (small)
    # user frame so the event corpus is scanned once
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr(_CENTS)).cast("bigint").alias("cents")
        )
        .localCheckpoint(eager=True)
    )
    reps = spark.range(_N_REPS).select(F.col("id").alias("r"))
    weighted = per_user.crossJoin(F.broadcast(reps)).select(
        "r", "cents",
        (
            2
            * _spark_hash_mod(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("#"),
                    F.col("r").cast("string"),
                ),
                "#bs",
                2,
            )
        ).alias("w"),
    )
    rep_means = weighted.groupBy("r").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_cents")
    )
    ranked = rep_means.select(
        "mean_cents",
        F.row_number()
        .over(Window.orderBy("mean_cents", "r"))
        .alias("rk"),
    )
    n_users = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return (
        ranked.agg(
            F.max(F.when(F.col("rk") == 6, F.col("mean_cents"))).alias(
                "p05_mean_cents"
            ),
            F.max(F.when(F.col("rk") == 51, F.col("mean_cents"))).alias(
                "p50_mean_cents"
            ),
            F.max(F.when(F.col("rk") == 96, F.col("mean_cents"))).alias(
                "p95_mean_cents"
            ),
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "n_users",
            F.lit(_N_REPS).cast("bigint").alias("n_reps"),
            "p05_mean_cents", "p50_mean_cents", "p95_mean_cents",
        )
    )


# `events_forecast_ses` — per event type, the classic α=½ exponential
# smoothing level over daily counts (s₁ = x₁; s_t = ½x_t + ½s_{t−1}),
# its one-step-ahead forecast (ŷ_t = s_{t−1}), and the absolute
# forecast error — the "is tomorrow predictable from the level" QA next
# to events_mase_seasonal's seasonal-naive yardstick.  SES is THE
# baseline every forecasting system must beat (Hyndman & Athanasopoulos,
# Forecasting: Principles and Practice).
#
# Cross-engine determinism (the survival-curve lesson): the recurrence
# is a LEFT FOLD over the day-ordered count prefix — DuckDB's
# list_reduce seeds with the FIRST element (exactly s₁ = x₁), and the
# Spark mirror reproduces that seeding with a NULL-initialized
# aggregate() — so both engines multiply/add doubles in the identical
# order and every level is bit-exact.  No exp/ln anywhere; α = ½ keeps
# every weight an exact power of two.
#
# Scale shape: the corpus reduces to (type, day) counts in the first
# aggregate; prefix collection and the lag window run on the
# day-bounded, type-partitioned frame (≤ |days| rows per type).  The
# per-row prefix fold is O(days²) per type — days-bounded, corpus-
# independent.

@query(
    "events_forecast_ses",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), folded AS (
      SELECT event_type, day, c,
             list_reduce(
               list(CAST(c AS DOUBLE)) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (acc, x) -> 0.5 * x + 0.5 * acc) AS ses_level
      FROM daily
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, c, ses_level,
           LAG(ses_level) OVER w AS forecast,
           ABS(CAST(c AS DOUBLE) - LAG(ses_level) OVER w) AS abs_err
    FROM folded
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def events_forecast_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=½ SES level + one-step forecast error — see the notes
    above."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_prefix = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # DuckDB's list_reduce seeds the fold with the FIRST element;
    # mirror with a NULL-initialized aggregate so both engines compute
    # s1 = x1, then 0.5*x + 0.5*acc in the same order
    folded = (
        daily.withColumn(
            "prefix", F.collect_list(F.col("c").cast("double")).over(w_prefix)
        )
        .select(
            "event_type", "day", "c",
            F.expr(
                "aggregate(prefix, CAST(NULL AS DOUBLE), (acc, x) -> "
                "IF(acc IS NULL, x, 0.5 * x + 0.5 * acc))"
            ).alias("ses_level"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    forecast = F.lag("ses_level").over(w)
    return folded.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "c",
        "ses_level",
        forecast.alias("forecast"),
        F.abs(F.col("c").cast("double") - forecast).alias("abs_err"),
    )


# `events_power_analysis` — the experiment-design closer for the A/B
# suite (ab_test_summary / CUPED / KS / TVD): required sample size per
# arm for a two-sample z-test at α=0.05, power=0.8, MDE = 5% of the
# mean — n = 2(z_{α/2}+z_β)²σ²/δ² (the standard formula, e.g.
# Kohavi et al., Trustworthy Online Controlled Experiments).  σ² and
# the mean come from exact integer-cents power sums (the
# eval_regression varchar-bridge idiom for the big products); the two
# normal quantiles are Python-computed constants embedded as EXACT
# decimal expansions (in-engine erf/quantile functions are
# libm-dependent — the nDCG/RBO idiom); the final formula is ONE
# fixed-order double expression in both engines.

# --------------------------------------------------------------------------
# events_power_analysis
# --------------------------------------------------------------------------

# z_{0.975} + z_{0.8}: Python-computed once, embedded as the exact
# decimal expansion of the resulting double in BOTH engines
_Z_ALPHA = 1.959963984540054   # Φ⁻¹(0.975), published constant
_Z_BETA = 0.8416212335729143   # Φ⁻¹(0.80), published constant
_Z_SUM = _Z_ALPHA + _Z_BETA
_Z_LIT = f"CAST('{format(_Dec(_Z_SUM), 'f')}' AS DOUBLE)"
_MDE_FRAC = 0.05


@query(
    "events_power_analysis",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(SUM({_CENTS}) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), folds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c AS DECIMAL(38,0))) AS s,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS s2
      FROM per_user
    )
    SELECT n AS n_users,
           {_o_d2d('s')} / CAST(n AS DOUBLE) AS mean_cents,
           {_o_d2d('n * s2 - s * s')}
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var_cents2,
           {_MDE_FRAC} * ({_o_d2d('s')} / CAST(n AS DOUBLE)) AS mde_cents,
           CAST(CEIL(
             2.0 * ({_Z_LIT} * {_Z_LIT})
               * ({_o_d2d('n * s2 - s * s')}
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
               / (({_MDE_FRAC} * ({_o_d2d('s')} / CAST(n AS DOUBLE)))
                  * ({_MDE_FRAC} * ({_o_d2d('s')} / CAST(n AS DOUBLE))))
           ) AS BIGINT) AS n_per_arm
    FROM folds
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test sample size (α=.05, power=.8, MDE=5% of
    mean) — see the notes above."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("c"))
    )
    folds = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("c").cast(_D38)).alias("s"),
        F.sum(F.col("c").cast(_D38) * F.col("c")).alias("s2"),
    )
    d2d = lambda c: c.cast("string").cast("double")  # noqa: E731
    mean = d2d(F.col("s")) / F.col("n").cast("double")
    var = d2d(
        F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    ) / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    mde = F.lit(_MDE_FRAC) * mean
    n_req = (
        F.lit(2.0) * (F.lit(_Z_SUM) * F.lit(_Z_SUM)) * var / (mde * mde)
    )
    return folds.select(
        F.col("n").alias("n_users"),
        mean.alias("mean_cents"),
        var.alias("var_cents2"),
        mde.alias("mde_cents"),
        F.ceil(n_req).cast("bigint").alias("n_per_arm"),
    )


# `events_forecast_holt` — the trend member of the forecasting-QA
# family (naive → seasonal-naive MASE → SES level → THIS): Holt's
# two-parameter linear exponential smoothing at α=β=½ over daily
# counts, with the one-step-ahead forecast ŷ_t = l_{t−1} + b_{t−1}
# and its absolute error.  SES answers "is tomorrow near the level";
# Holt answers "is the LEVEL ITSELF drifting" — the distinction that
# separates a stationary event stream from one that is growing out
# from under its capacity plan.
#
# Cross-engine determinism for Holt (the SES lesson, extended to PAIRED
# state): the recurrence carries (level, trend) together, so the fold
# element type is a 2-element double list — DuckDB's list_reduce seeds
# with the FIRST element, and building elements as [y, 0.0] makes that
# seed exactly the textbook init l₁=y₁, b₁=0; the Spark mirror is a
# NULL-initialized `aggregate` over the same prefix with the SAME
# expression shapes (l' = ½y + ½(l+b); b' expanded to ¼y − ¼l + ¾b so
# neither engine needs to reference l' twice), so both engines do the
# identical IEEE-double operations in the identical order and every
# (level, trend) is bit-exact.
#
# Scale shape: corpus reduces to (type, day) counts in the first
# aggregate; the O(days²) prefix folds run on the day-bounded frame.

@query(
    "events_forecast_holt",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), folded AS (
      SELECT event_type, day, c,
             list_reduce(
               list([CAST(c AS DOUBLE), CAST(0 AS DOUBLE)]) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (acc, x) -> [
                 0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                 0.25 * x[1] - 0.25 * acc[1] + 0.75 * acc[2]
               ]) AS lb
      FROM daily
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, c,
           lb[1] AS holt_level, lb[2] AS holt_trend,
           LAG(lb[1] + lb[2]) OVER w AS forecast,
           ABS(CAST(c AS DOUBLE) - LAG(lb[1] + lb[2]) OVER w) AS abs_err
    FROM folded
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt α=β=½ level+trend with one-step forecast error — see
    notes above for the paired-state fold discipline."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_prefix = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    folded = (
        daily.withColumn(
            "prefix",
            F.collect_list(
                F.array(F.col("c").cast("double"), F.lit(0.0))
            ).over(w_prefix),
        )
        .select(
            "event_type", "day", "c",
            F.expr(
                "aggregate(prefix, CAST(NULL AS ARRAY<DOUBLE>), (acc, x) -> "
                "IF(acc IS NULL, x, array("
                "0.5D * x[0] + 0.5D * (acc[0] + acc[1]), "
                "0.25D * x[0] - 0.25D * acc[0] + 0.75D * acc[1])))"
            ).alias("lb"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    forecast = F.lag(F.col("lb")[0] + F.col("lb")[1]).over(w)
    return folded.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "c",
        F.col("lb")[0].alias("holt_level"),
        F.col("lb")[1].alias("holt_trend"),
        forecast.alias("forecast"),
        F.abs(F.col("c").cast("double") - forecast).alias("abs_err"),
    )



# `dq_schema_drift` — the per-epoch STRUCTURAL data-quality readout
# next to the distribution-drift family (TVD/KS/chi-square): split the
# event stream into two md5 epochs (standing in for yesterday/today
# ingest batches) and compare the schema-health metrics a 100 TB
# pipeline alarms on — row count, JSON-field parse-failure count,
# event-type cardinality, user cardinality, value range in exact
# cents.  One corpus scan, two output rows; every metric an exact
# integer.

@query(
    "dq_schema_drift",
    oracle=f"""
    SELECT {_duck_hash_mod("event_id", "#ep", 2)} AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (
             WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                   IS NULL) AS BIGINT) AS k_parse_fails,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN({_CENTS}) AS BIGINT) AS min_cents,
           CAST(MAX({_CENTS}) AS BIGINT) AS max_cents
    FROM events GROUP BY 1
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch schema-health audit — see the notes above."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy(
            _spark_hash_mod(F.col("event_id"), "#ep", 2).alias("epoch")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(k.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("k_parse_fails"),
            F.count_distinct("event_type")
            .cast("bigint")
            .alias("n_event_types"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.min(F.expr(_CENTS)).cast("bigint").alias("min_cents"),
            F.max(F.expr(_CENTS)).cast("bigint").alias("max_cents"),
        )
    )
