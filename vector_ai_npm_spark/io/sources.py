"""Parquet sources for the fixture star schema (B1 `scan_parquet`).

The fixture layout (TESTDATA.md / FIXTURES.md) is one parquet file per
table under an sf directory. At cluster scale these would be directories
of many files — everything here goes through ``spark.read.parquet`` so
the vectorized reader, predicate pushdown, and column pruning apply
unchanged; nothing assumes single-file inputs.

Scale notes:
  * ``events.parquet`` carries INT64 TIMESTAMP(NANOS) which Spark's
    parquet reader rejects. We read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and convert with integer
    division (``div 1000`` — truncation, matching DuckDB's ns→µs
    behavior; float division would round and diverge in the last µs).
    This stays fully inside the vectorized reader + codegen.
  * All timestamps are surfaced as TIMESTAMP_NTZ: the fixtures are naive
    timestamps, and NTZ removes any session-timezone dependence from
    downstream date functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.session import apply_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing the events nanos timestamp."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # truncate ns → µs (matches DuckDB), present as naive timestamp
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def scale_partitions(df: DataFrame, spark: SparkSession,
                     min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition for compute-heavy map stages.

    The fixture tables are single parquet files → one input partition →
    any expensive per-row work (pandas_udf embed/subsplit, shingle
    builds) runs on one core, and AQE's shuffle coalescing keeps
    re-collapsing small-byte-size stages even though they are CPU-bound.
    An explicit repartition to the executor parallelism is honored by
    AQE and costs one tiny exchange. On a real cluster with many input
    files this is a no-op-sized safety net, not a penalty.
    """
    n = min_partitions or spark.sparkContext.defaultParallelism
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
