"""One materialization module, one release (caching.py).

Composing queries pin small intermediates, lazily (`caching.materialize`)
or eagerly with their lineage cut (`caching.checkpoint`). A long-lived
session must be able to return to its pre-query storage footprint without
the blunt session-wide clearCache().
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import data_pipeline_for_autonomous_vehicles_spark as pkg
from data_pipeline_for_autonomous_vehicles_spark import caching


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _still_pinned(frame, cut: bool) -> bool:
    level = frame._jdf.logicalPlan().rdd().getStorageLevel() if cut else frame._jdf.storageLevel()
    return level.useMemory() or level.useDisk()


def test_release_plan_caches_restores_catalog_baseline(spark, sf_dir):
    """After a composing query's action, every cache it pinned is released
    by release_plan_caches(): the Spark cache manager returns to empty
    (= the pre-query baseline established here)."""
    from data_pipeline_for_autonomous_vehicles_spark.operators import dedup, windows

    cm = _cache_manager(spark)
    spark.catalog.clearCache()
    caching.release_plan_caches()  # drop stale registrations from other tests
    assert cm.isEmpty()

    # two composing queries from different families, both of which cache
    windows.supplier_revenue_ranks(spark, sf_dir).collect()
    dedup.near_dup_detector_agreement(spark, sf_dir).collect()
    assert not cm.isEmpty(), "expected operator-internal caches to be pinned"

    released = caching.release_plan_caches(blocking=True)
    assert released >= 2
    assert cm.isEmpty(), "release_plan_caches must restore the baseline"


def test_release_is_idempotent_and_safe_mid_lineage(spark, sf_dir):
    """Releasing twice is a no-op, and a DataFrame built over a released
    `materialize` still evaluates to the same rows (recompute from
    lineage)."""
    from data_pipeline_for_autonomous_vehicles_spark.operators import windows

    df = windows.customer_balance_quartiles(spark, sf_dir)
    cached = caching.materialize(spark.range(40).selectExpr("id", "id % 3 AS k"), "test.cached")
    over = cached.groupBy("k").count().orderBy("k")
    first, first_over = df.collect(), over.collect()
    assert cached.is_cached
    caching.release_plan_caches(blocking=True)
    assert caching.release_plan_caches() == 0
    assert not _still_pinned(cached, cut=False)
    try:
        assert df.collect() == first  # recompute re-pins the lazy cache...
        assert over.collect() == first_over
    finally:
        spark.catalog.clearCache()  # ...so leave no plan-cache residue
        caching.release_plan_caches(blocking=True)


def test_frame_over_released_checkpoint_raises(spark):
    """A checkpoint's blocks are the only copy of its rows: once released,
    a frame built over it can no longer run. This is why a release means
    the caller is done with every frame built since the last one."""
    caching.release_plan_caches(blocking=True)
    cut = caching.checkpoint(spark.range(50).selectExpr("id", "id % 7 AS k"), "test.cut")
    over = cut.filter("k = 3")
    assert over.count() == 7
    assert caching.release_plan_caches(blocking=True) == 1
    assert not _still_pinned(cut, cut=True)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        over.count()


def test_release_leaves_no_persisted_rdd_across_queries(spark, sf_dir):
    """Caches and checkpoints of the CC, multimodal and retrieval queries are
    all freed by the release after each: no persisted RDD outlives it beyond
    those that were there before the queries ran, and the cache manager is
    empty. (A subset, not an equality: the ContextCleaner may drop older
    RDDs meanwhile.)"""
    from data_pipeline_for_autonomous_vehicles_spark.operators import dedup, multimodal, ranking

    cm = _cache_manager(spark)
    spark.catalog.clearCache()
    caching.release_plan_caches(blocking=True)
    start = _persisted_rdd_ids(spark)
    problems = []
    for query in (
        dedup.near_dup_clusters,
        multimodal.media_text_pair_dedup,
        ranking.retrieval_ndcg_report,
        dedup.near_dup_clusters,
    ):
        query(spark, sf_dir).collect()
        pins = list(caching._PINS)
        caching.release_plan_caches(blocking=True)
        leaked_ids = _persisted_rdd_ids(spark) - start
        if leaked_ids or not cm.isEmpty():
            leaked = [label for label, frame, cut in pins if _still_pinned(frame, cut)]
            problems.append(
                f"{query.__name__}: {len(leaked_ids)} persisted RDDs leaked, cache manager "
                f"{'empty' if cm.isEmpty() else 'not empty'}, registered labels still "
                f"pinned: {leaked or 'none (the leak is unregistered)'}"
            )
    assert problems == []


_MATERIALIZING = {"cache", "persist", "localCheckpoint", "checkpoint"}


def test_only_caching_module_materializes():
    """Every cache and checkpoint in the package goes through `caching`, so
    `release_plan_caches` sees it: no other module calls `.cache()`,
    `.persist()`, `.localCheckpoint()` or `.checkpoint()` itself."""
    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "caching.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MATERIALIZING
                and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "caching")
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno} .{node.func.attr}()")
    assert hits == []
