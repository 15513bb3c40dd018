"""Phase breakdown of the IVF lifecycle faces (r14 VERDICT items 1 & 5).

Re-implements vector_store_ivf_delete / stream_ivf_append /
vector_store_ivf_compact step-by-step with a wall-clock timer around
each phase, so the cost can be attributed to store writes vs trigger
machinery vs searches vs counts.  Measurement-only: the registry faces
are untouched; this script exists so OPTIMIZATION_r14.md's claims about
where the lifecycle seconds go are reproducible.

Usage:  python tools/ivf_phase_profile.py [delete|append|compact] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_ai_npm_spark.session import get_spark  # noqa: E402
from vector_ai_npm_spark.io.sources import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Phase:
    def __init__(self) -> None:
        self.times: dict[str, float] = {}

    def __call__(self, name):
        return _Timer(self, name)


class _Timer:
    def __init__(self, ph: Phase, name: str) -> None:
        self.ph, self.name = ph, name

    def __enter__(self):
        self.t0 = time.perf_counter()

    def __exit__(self, *a):
        dt = time.perf_counter() - self.t0
        self.ph.times[self.name] = self.ph.times.get(self.name, 0.0) + dt


def profile_delete(spark, ph: Phase) -> None:
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

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    store_dir = tempfile.mkdtemp(prefix="ivf_prof_del_")
    with ph("1_persist_ivf_store"):
        persist_ivf_store(base, store_dir, nlist=8)
    with ph("2_append_ivf_store"):
        append_ivf_store(batch, store_dir)
    doomed = emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    with ph("3_qvec_first"):
        qvec = list(
            emb.where(F.col("vec_id") == 42).select("embedding").first()[0]
        )
    with ph("4_delete_ivf_vectors"):
        delete_ivf_vectors(spark, store_dir, doomed)
    with ph("5_read_count_pre"):
        read_ivf_cells(spark, store_dir).count()
    with ph("6_search"):
        hits = search_ivf_store(spark, store_dir, qvec, k=5, nprobe=8)
        hits.where(F.col("vec_id") == 42).count()
    with ph("7_compact"):
        compact_ivf_appends(spark, store_dir)
    with ph("8_read_count_post"):
        read_ivf_cells(spark, store_dir).count()
    with ph("9_raw_count_glob"):
        spark.read.parquet(f"{store_dir}/cells").count()
        glob.glob(f"{store_dir}/tombstones/*.parquet")
    with ph("10_emb_count"):
        emb.count()


def profile_append(spark, ph: Phase) -> None:
    import glob
    import tempfile

    from vector_ai_npm_spark.functions.vectors import cosine_similarity
    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store_batch,
        persist_ivf_store,
        read_ivf_cells,
        scaled_nprobe,
        search_ivf_store,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    import tempfile

    root = tempfile.mkdtemp(prefix="ivf_prof_app_")
    store_dir, input_dir, ckpt = (
        f"{root}/store", f"{root}/in", f"{root}/ckpt",
    )
    with ph("1_persist_ivf_store"):
        persist_ivf_store(base, store_dir, nlist=8)
    with ph("2_write_stream_input"):
        batch.repartition(3).write.parquet(input_dir)
        glob.glob(f"{input_dir}/part-*.parquet")
        schema = spark.read.parquet(input_dir).schema
    with ph("3_stream_3_triggers"):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, i: append_ivf_store_batch(b, store_dir, i)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    with ph("4_qvec_first"):
        qvec = list(
            emb.where(F.col("vec_id") == 42).select("embedding").first()[0]
        )
    with ph("5_emb_count_for_nprobe"):
        np_ = scaled_nprobe(emb.count(), nlist=8)
    with ph("6_search_plus_exact"):
        hits = search_ivf_store(spark, store_dir, qvec, k=5, nprobe=np_)
        qcol = F.lit(qvec).cast("array<float>")
        exact = (
            emb.select(
                "vec_id",
                cosine_similarity(F.col("embedding"), qcol).alias("sim"),
            )
            .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(5)
            .select(F.col("vec_id").alias("e_vec_id"))
        )
        hits.join(exact, hits.vec_id == F.col("e_vec_id")).count()
    with ph("7_counts"):
        base.count()
        batch.count()
        read_ivf_cells(spark, store_dir).count()


def profile_compact(spark, ph: Phase) -> None:
    """vector_store_ivf_compact is in retrieval/lifecycle.py; profile its
    store verbs."""
    import tempfile

    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store_batch,
        compact_ivf_appends,
        persist_ivf_store,
        read_ivf_cells,
        search_ivf_store,
    )

    import glob

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    b0 = emb.where(F.col("vec_id") % 6 == 0)
    b1 = emb.where(F.col("vec_id") % 6 == 3)
    store_dir = tempfile.mkdtemp(prefix="ivf_prof_cmp_") + "/store"
    with ph("1_persist_ivf_store"):
        persist_ivf_store(base, store_dir, nlist=8)
    with ph("2_two_appends"):
        append_ivf_store_batch(b0, store_dir, 0)
        append_ivf_store_batch(b1, store_dir, 1)
        glob.glob(f"{store_dir}/cells/cell_id=*/*.parquet")
    with ph("3_compact"):
        compact_ivf_appends(spark, store_dir)
    with ph("4_second_compact_noop"):
        compact_ivf_appends(spark, store_dir)
    with ph("5_qvec_first"):
        qvec = list(
            emb.where(F.col("vec_id") == 42).select("embedding").first()[0]
        )
    with ph("6_search"):
        search_ivf_store(spark, store_dir, qvec, k=5, nprobe=4).where(
            (F.col("rank") == 1) & (F.col("vec_id") == 42)
        ).count()
    with ph("7_counts"):
        base.count()
        b0.unionByName(b1).count()
        read_ivf_cells(spark, store_dir).count()


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "delete"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("ivf-phase-profile")
    fn = {"delete": profile_delete, "append": profile_append,
          "compact": profile_compact}[which]
    for rep in range(reps):
        ph = Phase()
        t0 = time.perf_counter()
        fn(spark, ph)
        total = time.perf_counter() - t0
        print(f"--- {which} rep {rep}: total {total:.3f}s")
        for k in sorted(ph.times):
            print(f"    {k:28s} {ph.times[k]:7.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
