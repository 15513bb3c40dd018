"""Wave 69: temporal validity join, watermark dedup, IVM."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_temporal_join_picks_the_valid_version(spark):
    from vector_ai_npm_spark.streaming.queries import join_temporal_validity

    out = join_temporal_validity(spark, SF)
    # exactly one dimension version per event (no fan-out, no drops)
    from vector_ai_npm_spark.io.sources import load_table

    n_events = load_table(spark, SF, "events").count()
    assert out.count() == n_events
    # before the cut: original balance; after: +100
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_acctbal").alias("bal0"),
    )
    j = out.join(cust, "user_id")
    bad_before = j.where(
        ~F.col("after_cut") & (F.col("bal_at_event") != F.col("bal0"))
    ).count()
    bad_after = j.where(
        F.col("after_cut") & (F.col("bal_at_event") != F.col("bal0") + 100.0)
    ).count()
    assert bad_before == 0 and bad_after == 0


def test_stream_dedup_within_watermark_drops_all_planted_dups(spark):
    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.streaming.queries import (
        stream_dedup_within_watermark,
    )

    out = stream_dedup_within_watermark(spark, SF)
    ev = load_table(spark, SF, "events")
    assert out.count() == ev.count()  # doubled input, every dup dropped
    assert out.select("event_id").distinct().count() == ev.count()


def test_ivm_groups_can_vanish_and_appear(spark):
    """Signed-delta merge edge cases: a user whose every event is
    retracted leaves the view; a user introduced only by inserts enters
    it with delta-only state."""
    from vector_ai_npm_spark.streaming.queries import ivm_incremental_agg

    ev = spark.createDataFrame(
        [
            (13, 1, 10.0),   # user 1: single event, retracted (13 % 13 = 0)
            (2, 2, 5.0),     # user 2: kept
            (5, 3, 7.0),     # user 3: kept AND re-inserted (+1) (5 % 5 = 0)
        ],
        "event_id long, user_id long, value double",
    )
    import vector_ai_npm_spark.streaming.queries as mod
    from unittest import mock

    with mock.patch.object(mod, "load_table", lambda s, d, t: ev):
        out = {r.user_id: (r.n_events, r.total_value)
               for r in ivm_incremental_agg(spark, "ignored").collect()}
    assert 1 not in out                       # fully retracted group gone
    assert out[2] == (1, 5.0)
    assert out[3] == (2, 7.0 + 8.0)           # base 7 + inserted 7+1


def test_wave69_parity(spark, sf_smoke):
    from tests.oracle_harness import compare
    from vector_ai_npm_spark.registry import all_oracles

    o = all_oracles()
    for name in (
        "join_temporal_validity",
        "stream_dedup_within_watermark",
        "ivm_incremental_agg",
    ):
        problems = compare(spark, name, o[name], sf_smoke)
        assert not problems, (name, problems)
