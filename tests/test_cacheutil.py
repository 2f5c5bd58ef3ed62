"""Session-level tracked-cache ledger (cacheutil.py) — ADVICE r6:
query-built cached relations need a release hook so bench loops and
notebooks can return storage memory without stopping the session."""

from __future__ import annotations


def test_tracked_cache_release_roundtrip(spark):
    from algorithmproject_spark_spark.cacheutil import (
        release_caches,
        tracked_cache,
        tracked_count,
    )

    release_caches()
    df = tracked_cache(spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert df.count() == 100
    assert df.storageLevel.useMemory
    assert tracked_count() >= 1
    release_caches()
    assert tracked_count() == 0
    assert not df.storageLevel.useMemory
    # idempotent + df still usable after release (recomputes)
    release_caches()
    assert df.count() == 100


def test_release_skips_dead_contexts(spark):
    from algorithmproject_spark_spark import cacheutil as cu

    class _DeadSC:
        _jsc = None

    class _NoUnpersist:
        def unpersist(self):  # pragma: no cover
            raise AssertionError("unpersist on a dead context")

    cu._TRACKED.append((_NoUnpersist(), _DeadSC()))
    cu.release_caches()  # must not raise
    assert cu.tracked_count() == 0


def test_queries_route_caches_through_ledger(spark):
    """A registered query that caches (customer_rfm_segments) must
    register its relation with the ledger so release_caches() frees it."""
    from algorithmproject_spark_spark.cacheutil import (
        release_caches,
        tracked_count,
    )
    from algorithmproject_spark_spark.queries import REGISTRY

    release_caches()
    df = REGISTRY["customer_rfm_segments"].fn(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    assert tracked_count() >= 1
    release_caches()
    assert tracked_count() == 0


def test_double_track_same_plan_single_entry(spark):
    """Two trackers of one canonicalized plan must produce ONE cache
    entry + ONE ledger row (VERDICT r8 #2: re-caching an already-cached
    plan logs CacheManager warnings and double-books the slot)."""
    from algorithmproject_spark_spark.cacheutil import (
        release_caches,
        tracked_cache,
        tracked_count,
    )

    release_caches()
    a = tracked_cache(spark.range(50).selectExpr("id", "id % 7 AS k"))
    before = tracked_count()
    # identical plan built independently — canonicalizes to the same
    # CacheManager key; must not cache again or add a ledger row
    b = tracked_cache(spark.range(50).selectExpr("id", "id % 7 AS k"))
    assert tracked_count() == before
    assert b.count() == 50
    release_caches()
    assert tracked_count() == 0
    assert not a.storageLevel.useMemory


def _live_rdd_ids(sc) -> set:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def test_tracked_local_checkpoint_release(spark):
    """localCheckpoint blocks must be freed by release_caches — a full
    sweep otherwise accumulates checkpoint storage until the context
    dies (ADVICE r8). The ledger holds exactly the checkpoint's own
    block set, also when building the checkpoint materializes a cached
    relation upstream of it."""
    from algorithmproject_spark_spark.cacheutil import (
        checkpoint_count,
        release_caches,
        tracked_cache,
        tracked_local_checkpoint,
    )

    release_caches()
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    df = tracked_local_checkpoint(
        spark.range(200).selectExpr("id", "id % 5 AS k")
    )
    assert df.count() == 200
    assert checkpoint_count() == 1
    assert len(sc._jsc.getPersistentRDDs()) > before
    release_caches()
    assert checkpoint_count() == 0
    assert len(sc._jsc.getPersistentRDDs()) == before

    cached = tracked_cache(spark.range(1000).selectExpr("id", "id % 7 AS k"))
    agg = tracked_local_checkpoint(cached.groupBy("k").count())
    assert agg.count() == 7
    assert checkpoint_count() == 1
    release_caches()
    assert checkpoint_count() == 0
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_scoped_checkpoint_release_keeps_upstream_cache(spark):
    """A stream's per-batch checkpoint release frees only the
    checkpoint's blocks: a cached relation that the checkpoint's build
    materialized keeps its buffers."""
    from algorithmproject_spark_spark.cacheutil import (
        release_caches,
        scoped_local_checkpoint,
        tracked_cache,
    )

    release_caches()
    sc = spark.sparkContext
    cached = tracked_cache(spark.range(1000).selectExpr("id", "id % 7 AS k"))
    agg, release = scoped_local_checkpoint(cached.groupBy("k").count())
    assert agg.count() == 7
    # the cached relation's column-buffer RDD (its plan optimizes to
    # the InMemoryRelation itself)
    buffers = (
        cached._jdf.queryExecution().optimizedPlan()
        .cacheBuilder().cachedColumnBuffers().id()
    )
    assert buffers in _live_rdd_ids(sc)
    release()
    assert buffers in _live_rdd_ids(sc)
    assert cached.storageLevel.useMemory
    release_caches()
    assert buffers not in _live_rdd_ids(sc)
