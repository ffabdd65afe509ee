"""caching.materialize: shared operator intermediates are eager checkpoints
that AQE can plan around, and the host's release frees their blocks."""

from __future__ import annotations

from social_warner_spark.caching import materialize, release_persisted_intermediates
from social_warner_spark.catalog import load_table


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_jaccard_self_join_reuses_the_shingle_exchange(spark, sf_smoke):
    """Both sides of exact_jaccard_pairs' self-join read the same shingle
    relation.  A persisted relation puts one TableCacheQueryStage under
    each side and AQE shuffles it twice; a checkpoint leaf lets the second
    side reuse the first side's exchange."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs

    release_persisted_intermediates()
    df = exact_jaccard_pairs(load_table(spark, sf_smoke, "documents"), 0.5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "TableCacheQueryStage" not in plan
    assert "ReusedExchange" in plan
    release_persisted_intermediates()


def test_release_frees_materialized_blocks(spark):
    release_persisted_intermediates()
    before = _cached_rdd_ids(spark)
    df = materialize(spark.range(100).selectExpr("id % 7 AS k", "id"))
    assert df.count() == 100
    held = _cached_rdd_ids(spark) - before
    assert held, "materialize must hold its checkpoint blocks"
    assert release_persisted_intermediates() >= 1
    assert not (_cached_rdd_ids(spark) & held)
