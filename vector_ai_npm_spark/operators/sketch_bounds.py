"""Percentile-sketch error-bound contract (wave 12).

Exact distributed percentiles (`agg_percentile_dist`,
`agg_histogram_equidepth`) cost a keyed shuffle of every value; at
100 TB the production route is a MERGEABLE quantile sketch —
Spark's `approx_percentile` (Greenwald-Khanna variant) folds
constant-size state map-side exactly like the HLL/theta sketches in
`agg_sketch_distinct`.  What a sketch owes you is not the exact value
but a RANK guARANTEE: with accuracy parameter a, the returned value's
true rank is within n/a of the target rank.

`agg_approx_percentile_bounds` makes that guarantee a driver-checkable
contract (the curate_compression_ratio pattern): per event_type it asks
the sketch for p50 at accuracy {_ACC}, then measures the returned
value's TRUE rank with one exact pass, and emits the boolean
|rank − n/2| ≤ n/{_ACC} + 1.  The sketch value itself is engine-
specific (DuckDB has no GK sketch) so it never appears in the output —
only n and the bound booleans, which the oracle pins exactly.

Scale: the sketch aggregate is one map-side-combined pass with
O(a·log n) state per group; the rank audit joins a |groups|-row
broadcast back over one more scan.  (The audit is the TEST harness —
production runs only the sketch pass.)

Also here: `agg_count_min_sketch`, with its notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query

_ACC = 200  # GK accuracy: true rank within n/200 of target


@query(
    "agg_approx_percentile_bounds",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_rank_ok,
           TRUE AS p90_rank_ok
    FROM events GROUP BY event_type
    """,
)
def agg_approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact rank audit for p50 and p90 — see module
    docstring.  A sketch regression (bad merge, dropped compactor,
    wrong rank math) flips a boolean → red driver row."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    sk = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"approx_percentile(value, 0.5, {_ACC})").alias("a50"),
        F.expr(f"approx_percentile(value, 0.9, {_ACC})").alias("a90"),
    )
    # The GK guarantee is on SOME rank of the returned ELEMENT, whose
    # ranks form the interval [#{v < a}+1, #{v <= a}] when values tie.
    # Auditing only the max-rank (#{v <= a}) would spuriously fail a
    # correct sketch whenever >= n/ACC rows share the returned value
    # (e.g. a zero/default spike), so the audit checks that the
    # element's rank INTERVAL intersects [n·q − n/ACC, n·q + n/ACC].
    audited = (
        ev.join(F.broadcast(sk), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(
                F.when(F.col("value") < F.col("a50"), 1).otherwise(0)
            ).alias("lt50"),
            F.sum(
                F.when(F.col("value") <= F.col("a50"), 1).otherwise(0)
            ).alias("le50"),
            F.sum(
                F.when(F.col("value") < F.col("a90"), 1).otherwise(0)
            ).alias("lt90"),
            F.sum(
                F.when(F.col("value") <= F.col("a90"), 1).otherwise(0)
            ).alias("le90"),
        )
    )
    tol = F.col("n") / F.lit(_ACC) + F.lit(1.0)

    def interval_ok(lt, le, q):
        target = F.col("n") * F.lit(q)
        return (F.col(lt) + F.lit(1) <= target + tol) & (
            F.col(le) >= target - tol
        )

    return audited.select(
        "event_type",
        "n",
        interval_ok("lt50", "le50", 0.5).alias("p50_rank_ok"),
        interval_ok("lt90", "le90", 0.9).alias("p90_rank_ok"),
    )


# `agg_count_min_sketch` — Spark's BUILT-IN `count_min_sketch`
# aggregate (the JVM mergeable sketch, org.apache.spark.util.sketch)
# as a first-class face: one-shot sketch over all events vs the MERGE
# of four per-week sketches (the partial-aggregation contract that
# makes sketches shuffle-constant at any corpus size), queried for 10
# deterministic keys.  Pins per key: exact count, the CMS guarantee
# est ≥ exact (never undercounts), a generous deterministic slack
# bound (10× the eps·N theory bound — data is fixed per sf, so this
# is a regression pin, not a probabilistic one), and merged ≡ one-shot
# estimate equality (same seed ⇒ same hash rows ⇒ merge is cellwise
# addition).  Sketch bytes stay KB-sized driver state.

_CMS_KEYS = tuple(range(0, 100, 10))  # ten deterministic user_ids


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH keys AS (
      SELECT CAST(unnest([{", ".join(str(k) for k in _CMS_KEYS)}]) AS BIGINT)
        AS key
    ),
    exact AS (
      SELECT k.key, CAST(COUNT(e.user_id) AS BIGINT) AS exact_count
      FROM keys k LEFT JOIN events e ON e.user_id = k.key
      GROUP BY k.key
    )
    SELECT key, exact_count,
           TRUE AS never_undercounts,
           TRUE AS within_slack,
           TRUE AS merge_equals_oneshot
    FROM exact
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in CMS one-shot vs merged-partials — see the notes above."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    eps, conf, seed = 0.0005, 0.99, 42
    agg = f"count_min_sketch(user_id, {eps}d, {conf}d, {seed})"
    one = ev.agg(F.expr(agg).alias("sk")).first()["sk"]
    weekly = (
        ev.groupBy(F.weekofyear("ts").alias("w"))
        .agg(F.expr(agg).alias("sk"))
        .collect()
    )

    jvm = spark._jvm
    jio = jvm.java.io.ByteArrayInputStream

    def load(b: bytes):
        return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jio(bytes(b))
        )

    oneshot = load(one)
    merged = load(weekly[0]["sk"])
    for row in weekly[1:]:
        merged.mergeInPlace(load(row["sk"]))

    n_total = ev.count()
    slack = max(1, int(10 * eps * n_total))  # 10x the eps*N theory bound
    exact = {
        r["user_id"]: r["c"]
        for r in ev.where(F.col("user_id").isin(*_CMS_KEYS))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    rows = []
    for k in _CMS_KEYS:
        ex = int(exact.get(k, 0))
        e1 = int(oneshot.estimateCount(k))
        e2 = int(merged.estimateCount(k))
        rows.append(
            (k, ex, e1 >= ex, e1 <= ex + slack, e1 == e2)
        )
    return spark.createDataFrame(
        rows,
        "key long, exact_count long, never_undercounts boolean, "
        "within_slack boolean, merge_equals_oneshot boolean",
    )
