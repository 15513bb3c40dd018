"""Grid-binned interval-overlap join (wave 9).

`join_interval_overlap` answers "which error windows were concurrent
with which click windows, system-wide" — an interval×interval overlap
join with NO equi key.  This is the classically dangerous shape: the
naive plan is a theta join (`a.start < b.end AND b.start < a.end`)
that Spark executes as a broadcast nested loop or cartesian product —
O(n·m) compares no matter how selective the overlap is.

The distributed shape used here is the standard grid-binning interval
join (the Spark port of what DuckDB's IEJoin / range-join optimizers
do, and what genomics engines call the binning strategy):

1. Pick a grid of width G ≥ the maximum interval length (here the
   interval length is a constant _SPAN, so G = _SPAN exactly, and every
   interval covers at most 2 grid cells).
2. Explode each interval to its covered cells — fan-out ≤ 2 rows per
   interval, NOT data-squared.
3. Equi-join on the cell id (a plain shuffled hash join Catalyst can
   plan, AQE can skew-split, and statistics can size), then apply the
   exact overlap predicate as a post-filter.
4. De-duplicate pairs that share several cells WITHOUT a distinct pass:
   emit a pair only from its FIRST shared cell,
   `cell == floor(max(a.start, b.start) / G)` — the join stays
   streaming, no second shuffle.

Scale design (100 TB): the only shuffle is the cell-keyed hash join;
per-cell cost is (arrivals-in-cell)², bounded by the arrival rate × G —
a physical quantity the operator documents, not a data-size quantity.
Output is overlap-bound.  Doubling G halves the number of cells but
quadruples per-cell work; G = max interval length is the sweet spot
whenever intervals are near-uniform (DESIGN NOTE: for mixed lengths,
use a 2-level hierarchical grid — long intervals join at the coarse
level — the same plan shape twice).

Oracle: DuckDB plans the raw theta join with its IEJoin operator, so
the reference semantics stay a two-line predicate.

Also here: `join_geo_radius`, with its notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query

# 30-minute activity windows: at sf0.01 (~2k clicks / 2k errors over 30
# days) each 30-min grid cell sees ~1.4 intervals per side — per-cell
# join work is single-digit compares, and the pair output (~8k) is
# overlap-bound, not n².
_SPAN_MIN = 30
_SPAN_US = _SPAN_MIN * 60 * 1_000_000


# NTZ-safe epoch micros: unix_micros rejects TIMESTAMP_NTZ and a tz
# cast would reintroduce session-timezone sensitivity (the
# join_asof_nearest lesson) — an ntz−ntz timestampdiff needs neither
_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)


def _intervals(ev: DataFrame, etype: str, prefix: str) -> DataFrame:
    return ev.where(F.col("event_type") == etype).select(
        F.col("event_id").alias(f"{prefix}_event_id"),
        F.expr(_EPOCH_US).alias(f"{prefix}_s"),
        (F.expr(_EPOCH_US) + F.lit(_SPAN_US)).alias(f"{prefix}_e"),
    )


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH c AS (
      SELECT event_id AS click_event_id,
             epoch_us(ts) AS cs, epoch_us(ts) + {_SPAN_US} AS ce
      FROM events WHERE event_type = 'click'
    ), x AS (
      SELECT event_id AS error_event_id,
             epoch_us(ts) AS xs, epoch_us(ts) + {_SPAN_US} AS xe
      FROM events WHERE event_type = 'error'
    )
    SELECT c.click_event_id, x.error_event_id,
           LEAST(c.ce, x.xe) - GREATEST(c.cs, x.xs) AS overlap_us
    FROM c JOIN x
      ON c.cs < x.xe AND x.xs < c.ce
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join via grid binning — see module
    docstring.  Half-open [s, e) overlap semantics; overlap length in
    exact integer microseconds (no float time math)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = _intervals(ev, "click", "click")
    errors = _intervals(ev, "error", "error")

    # fan-out step: every interval covers cell floor(s/G) and, iff it
    # crosses the boundary, floor((e-1)/G) — ≤ 2 cells since span == G
    def binned(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(F.col(s) / _SPAN_US),
                        F.floor((F.col(e) - 1) / _SPAN_US),
                    )
                )
            ).alias("cell"),
        )

    pairs = (
        binned(clicks, "click_s", "click_e")
        .join(binned(errors, "error_s", "error_e"), "cell")
        .where(
            (F.col("click_s") < F.col("error_e"))
            & (F.col("error_s") < F.col("click_e"))
            # first-shared-cell rule: exactly one cell emits each pair
            & (
                F.col("cell")
                == F.floor(
                    F.greatest(F.col("click_s"), F.col("error_s")) / _SPAN_US
                )
            )
        )
    )
    return pairs.select(
        "click_event_id",
        "error_event_id",
        (
            F.least(F.col("click_e"), F.col("error_e"))
            - F.greatest(F.col("click_s"), F.col("error_s"))
        ).alias("overlap_us"),
    )


# `join_geo_radius` — "which customers sit within R of which supplier
# sites": a point×point radius join with NO equi key, the 2D sibling
# of the interval-overlap shape (interval_ops.py) and the same
# classically dangerous naive plan (theta join → broadcast NLJ,
# O(n·m) distance checks).  The distributed shape is the standard
# grid-binning spatial join (what PostGIS/Sedona/geohash pipelines
# do):
#
#     1. grid width G = R, so any within-R pair sits in the same or an
#        ADJACENT cell;
#     2. each PROBE point expands to its 3×3 neighbor cells (fan-out 9,
#        constant — not data-squared; build points bin once);
#     3. equi-join on cell id — a plain shuffled hash join AQE can
#        size and skew-split — then the exact distance predicate as a
#        post-filter.
#
# Per-cell cost is (points-per-cell)², a density × G² physical
# quantity, and output is radius-bound.  Coordinates derive from pure
# integer congruences (exact in both engines) and the distance is
# planar squared-degrees arithmetic — deliberately no haversine:
# sin/cos are libm-dependent and the OPERATOR under test is the
# binning join, not spherical trig (the nDCG exact-literals lesson;
# a production pipeline swaps in its geodesic of choice as the same
# post-filter).

_R = 3.0  # radius in planar degrees; grid width G = R
_R2 = _R * _R


@query(
    "join_geo_radius",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey AS cust,
             -60.0 + (c_custkey * 7919 % 12000) / 100.0 AS lat,
             -180.0 + (c_custkey * 104729 % 36000) / 100.0 AS lon
      FROM customer
    ), s AS (
      SELECT s_suppkey AS supp,
             -60.0 + (s_suppkey * 7919 % 12000) / 100.0 AS lat,
             -180.0 + (s_suppkey * 104729 % 36000) / 100.0 AS lon
      FROM supplier
    )
    SELECT c.cust, s.supp,
           (c.lat - s.lat) * (c.lat - s.lat)
             + (c.lon - s.lon) * (c.lon - s.lon) AS d2
    FROM c JOIN s
      ON (c.lat - s.lat) * (c.lat - s.lat)
           + (c.lon - s.lon) * (c.lon - s.lon) <= {_R2}
    """,
)
def join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-binned radius join — see the notes above.  The oracle
    states the raw theta join (DuckDB's optimizer copes at fixture
    scale); the Spark side must produce the identical pair set through
    the cell machinery, so a binning, neighbor-expansion, or dedup
    defect drops/duplicates a pair → hash red."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        (F.lit(-60.0) + (F.col("c_custkey") * 7919 % 12000) / 100.0)
        .alias("lat"),
        (F.lit(-180.0) + (F.col("c_custkey") * 104729 % 36000) / 100.0)
        .alias("lon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp"),
        (F.lit(-60.0) + (F.col("s_suppkey") * 7919 % 12000) / 100.0)
        .alias("lat"),
        (F.lit(-180.0) + (F.col("s_suppkey") * 104729 % 36000) / 100.0)
        .alias("lon"),
    )
    g = F.lit(_R)
    # build side bins once at its own cell
    s_binned = supp.select(
        "supp",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor(F.col("lat") / g).alias("cy"),
        F.floor(F.col("lon") / g).alias("cx"),
    )
    # probe side expands to the 3x3 neighborhood (fan-out 9, constant)
    offsets = F.array(*[F.lit(o) for o in (-1, 0, 1)])
    c_binned = (
        cust.withColumn("dy", F.explode(offsets))
        .withColumn("dx", F.explode(offsets))
        .select(
            "cust", "lat", "lon",
            (F.floor(F.col("lat") / g) + F.col("dy")).alias("cy"),
            (F.floor(F.col("lon") / g) + F.col("dx")).alias("cx"),
        )
    )
    d2 = (
        (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
        + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon"))
    )
    # a pair meets in exactly ONE cell (the build point's own), so the
    # 3x3 probe expansion cannot duplicate it — no distinct pass needed
    return (
        c_binned.join(s_binned, ["cy", "cx"])
        .where(d2 <= F.lit(_R2))
        .select("cust", "supp", d2.alias("d2"))
    )
