"""Wave 66: IVF tombstone delete lifecycle + TABLE-argument UDTF."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _build_store(spark, tmp_path, n=40, dim=8):
    from vector_ai_npm_spark.retrieval.store import persist_ivf_store

    rows = [
        (i, [float((i * 7 + j * 3) % 13) / 13.0 for j in range(dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = str(tmp_path / "store")
    persist_ivf_store(df, store, nlist=4)
    return df, store


def test_delete_hides_rows_immediately(spark, tmp_path):
    from vector_ai_npm_spark.retrieval.store import (
        delete_ivf_vectors,
        read_ivf_cells,
    )

    df, store = _build_store(spark, tmp_path)
    assert delete_ivf_vectors(spark, store, [3, 5, 8]) == 3
    visible = {r.vec_id for r in read_ivf_cells(spark, store).collect()}
    assert visible == {r.vec_id for r in df.collect()} - {3, 5, 8}


def test_delete_shadows_appended_rows_too(spark, tmp_path):
    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store,
        delete_ivf_vectors,
        read_ivf_cells,
    )

    df, store = _build_store(spark, tmp_path, n=30)
    extra = spark.createDataFrame(
        [(100, [0.5] * 8), (101, [0.25] * 8)],
        "vec_id long, embedding array<float>",
    )
    append_ivf_store(extra, store)
    delete_ivf_vectors(spark, store, [100])
    visible = {r.vec_id for r in read_ivf_cells(spark, store).collect()}
    assert 101 in visible and 100 not in visible


def test_compaction_physically_purges_and_clears_tombstones(spark, tmp_path):
    from vector_ai_npm_spark.retrieval.store import (
        compact_ivf_appends,
        delete_ivf_vectors,
        read_ivf_cells,
    )

    df, store = _build_store(spark, tmp_path)
    delete_ivf_vectors(spark, store, [1, 2])
    compact_ivf_appends(spark, store)
    raw = {r.vec_id for r in spark.read.parquet(f"{store}/cells").collect()}
    assert 1 not in raw and 2 not in raw
    assert not glob.glob(f"{store}/tombstones/*.parquet")
    visible = {r.vec_id for r in read_ivf_cells(spark, store).collect()}
    assert visible == raw


def test_delete_landing_mid_compaction_survives(spark, tmp_path):
    """Pin-at-entry: a tombstone written inside compaction's
    stage→publish window is NOT retired by that compaction — the read
    face honors it immediately and the NEXT compaction purges it."""
    import vector_ai_npm_spark.retrieval.store as store_mod
    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store_batch,
        compact_ivf_appends,
        delete_ivf_vectors,
        read_ivf_cells,
    )

    df, store = _build_store(spark, tmp_path)
    extra = spark.createDataFrame(
        [(200, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    append_ivf_store_batch(extra, store, batch_id=0)

    def land_delete():
        delete_ivf_vectors(spark, store, [4])

    store_mod._test_after_staging = land_delete
    try:
        compact_ivf_appends(spark, store)
    finally:
        store_mod._test_after_staging = None
    # the mid-compact tombstone file is still there (not retired) and
    # the read face already hides vec 4
    assert glob.glob(f"{store}/tombstones/*.parquet")
    visible = {r.vec_id for r in read_ivf_cells(spark, store).collect()}
    assert 4 not in visible and 200 in visible
    # the next compaction purges it physically
    compact_ivf_appends(spark, store)
    raw = {r.vec_id for r in spark.read.parquet(f"{store}/cells").collect()}
    assert 4 not in raw and 200 in raw
    assert not glob.glob(f"{store}/tombstones/*.parquet")


def test_search_excludes_tombstoned(spark, tmp_path):
    from vector_ai_npm_spark.retrieval.store import (
        delete_ivf_vectors,
        search_ivf_store,
    )

    df, store = _build_store(spark, tmp_path)
    target = df.where(F.col("vec_id") == 7).first()
    qvec = [float(x) for x in target.embedding]
    pre = search_ivf_store(spark, store, qvec, k=3, nprobe=4)
    assert pre.first().vec_id == 7  # self-match before the delete
    delete_ivf_vectors(spark, store, [7])
    post = search_ivf_store(spark, store, qvec, k=3, nprobe=4)
    assert post.where(F.col("vec_id") == 7).count() == 0


def test_dataframe_delete_set_stays_distributed(spark, tmp_path):
    """r12 verdict item 6: a corpus-derived delete set (a DataFrame,
    e.g. 'every vec_id divisible by 4') reaches the tombstone parquet
    with NO driver materialization — delete_ivf_vectors takes the
    frame directly, and the read face anti-joins it out."""
    from vector_ai_npm_spark.retrieval.store import (
        compact_ivf_appends,
        delete_ivf_vectors,
        read_ivf_cells,
    )

    df, store = _build_store(spark, tmp_path)
    losers = df.where(F.col("vec_id") % 4 == 0).select("vec_id")
    n = delete_ivf_vectors(spark, store, losers)
    assert n == 10
    visible = {r.vec_id for r in read_ivf_cells(spark, store).collect()}
    assert visible == {i for i in range(40) if i % 4 != 0}
    # compaction physically purges the corpus-derived set too
    compact_ivf_appends(spark, store)
    assert not glob.glob(f"{store}/tombstones/*.parquet")
    visible = {r.vec_id for r in read_ivf_cells(spark, store).collect()}
    assert visible == {i for i in range(40) if i % 4 != 0}


def test_dataframe_delete_empty_set_is_noop(spark, tmp_path):
    from vector_ai_npm_spark.retrieval.store import (
        delete_ivf_vectors,
        read_ivf_cells,
    )

    df, store = _build_store(spark, tmp_path)
    empty = df.where(F.lit(False)).select("vec_id")
    assert delete_ivf_vectors(spark, store, empty) == 0
    assert read_ivf_cells(spark, store).count() == 40


def test_empty_delete_is_noop(spark, tmp_path):
    from vector_ai_npm_spark.retrieval.store import delete_ivf_vectors

    _, store = _build_store(spark, tmp_path, n=10)
    assert delete_ivf_vectors(spark, store, []) == 0
    assert not os.path.isdir(f"{store}/tombstones")


def test_table_udtf_partitions_and_order(spark):
    from vector_ai_npm_spark.io.queries import make_lang_stats_udtf

    spark.udtf.register("lang_stats_t", make_lang_stats_udtf())
    rows = [
        (1, "en", "alpha"), (5, "en", "beta"), (3, "en", "gamma!"),
        (2, "fr", "delta"), (9, "fr", "x"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).createOrReplaceTempView("_t66")
    out = {
        r.lang: r
        for r in spark.sql(
            "SELECT * FROM lang_stats_t(TABLE(_t66) "
            "PARTITION BY lang ORDER BY doc_id)"
        ).collect()
    }
    assert out["en"].n_docs == 3
    assert out["en"].total_chars == len("alpha") + len("beta") + len("gamma!")
    assert (out["en"].first_doc, out["en"].last_doc) == (1, 5)
    assert (out["fr"].first_doc, out["fr"].last_doc) == (2, 9)


def test_table_udtf_analyze_validates_shape(spark):
    from vector_ai_npm_spark.io.queries import make_lang_stats_udtf

    spark.udtf.register("lang_stats_v", make_lang_stats_udtf())
    spark.createDataFrame(
        [(1, "en")], "doc_id long, lang string"
    ).createOrReplaceTempView("_t66_bad")
    with pytest.raises(Exception, match="missing columns"):
        spark.sql(
            "SELECT * FROM lang_stats_v(TABLE(_t66_bad) PARTITION BY lang)"
        ).collect()


def test_wave66_faces_parity(spark, sf_smoke):
    from tests.oracle_harness import compare
    from vector_ai_npm_spark.registry import all_oracles

    o = all_oracles()
    for name in ("vector_store_ivf_delete", "udtf_table_argument"):
        problems = compare(spark, name, o[name], sf_smoke)
        assert not problems, (name, problems)
