"""Session-level tracked caches and checkpoints — the release hook for
relations pinned while a query is built.

Query functions pin derived relations that feed multiple consumers
inside one returned plan (shingle tables, verified-pair relations,
posting lists), and every iterative loop pins its per-round state.
Spark's CacheManager keys cache entries on the canonicalized plan, so
repeated builds of the same query hit one entry — but nothing ever
RELEASES those entries in a long-lived session (bench loops,
notebooks): storage memory accumulates until the session dies.

:func:`tracked_cache` is a drop-in replacement for ``df.cache()`` and
:func:`tracked_local_checkpoint` for ``df.localCheckpoint()``; both
record what they pin, and :func:`release_caches` unpersists everything
still bound to a live SparkContext and clears the ledger. Call it
whenever the consumers of the current batch of queries have
materialized — after a bench sweep, in test-session teardown, between
notebook experiments. Unpersisting a cache is safe mid-session: a later
query that rebuilds the same plan simply re-caches it.

Checkpoints have one form: a lazy ``localCheckpoint`` whose block set
is released by the handle read off the checkpointed plan (a
``LogicalRDD`` over the persisted RDD), so releasing a checkpoint never
touches another relation's blocks. Every checkpoint goes through this
module; :func:`scoped_local_checkpoint` is the same form with a
caller-owned release, for per-micro-batch pins in streams.

itemsets.py keeps its own (session, sf_dir) memo because it shares ONE
relation across distinct registered queries and must hand back the
SAME Python object; its ``clear_itemset_cache`` composes with this
hook (``release_caches`` does not touch it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (DataFrame, SparkContext) pairs awaiting release. Entries bound to
# stopped contexts are pruned on every append, so session cycles don't
# accumulate dead references.
_TRACKED: list = []

# (RDD handle, SparkContext) pairs for localCheckpoint block sets
# awaiting release (see tracked_local_checkpoint).
_TRACKED_CP: list = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + record the relation for :func:`release_caches`.

    If an identical (canonicalized) plan is already cached — by an
    earlier ``tracked_cache`` of the same relation or by a module-level
    memo — this is a no-op: Spark's CacheManager would log ``Asked to
    cache already cached data`` and the ledger would hold two entries
    for one storage slot, so the relation is returned untouched and the
    existing owner keeps sole release responsibility."""
    sc = df.sparkSession.sparkContext
    _TRACKED[:] = [(d, c) for d, c in _TRACKED if c._jsc is not None]
    # ONE py4j trip instead of the 5 property getters behind
    # df.storageLevel (r13): the toString is "StorageLevel(...)" with
    # the active flags spelled out — "StorageLevel(1 replicas)" means
    # NONE. Format pinned by tests/test_cacheutil.py.
    lvl = df._jdf.storageLevel().toString()
    if "memory" in lvl or "disk" in lvl or "offheap" in lvl:
        return df
    df.cache()
    _TRACKED.append((df, sc))
    return df


def _local_checkpoint(df: DataFrame):
    """Lazy ``df.localCheckpoint()`` and the RDD whose blocks it
    persists: the checkpointed frame's logical plan is a ``LogicalRDD``
    over exactly that RDD."""
    out = df.localCheckpoint(False)  # lazy
    plan = out._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError(
            f"localCheckpoint produced a {plan.nodeName()} plan, not a "
            "LogicalRDD; its blocks cannot be located for release"
        )
    return out, plan.rdd()


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """Lazy ``df.localCheckpoint()`` + record its block set for
    :func:`release_caches`.

    The returned plan is truncated to the checkpoint RDD, so a loop
    that checkpoints its state every round keeps a constant-depth plan
    that Catalyst analyzes in constant time. ``localCheckpoint`` stores
    the partitions as RDD blocks that ``DataFrame.unpersist`` never
    reaches; the ledger frees them on release. UNLIKE a released cache,
    a released checkpoint cannot recompute (lineage was truncated), so
    the returned DataFrame is dead after ``release_caches`` — fine for
    the query-build pattern, where each build constructs a fresh plan;
    never hand it to a long-lived consumer.

    The checkpoint is lazy: its blocks are written by the first action
    that reads it, with no extra job of its own. Under adaptive query
    execution (the session default) creating the checkpoint RDD runs
    ``AdaptiveSparkPlanExec.execute()``, which materializes every
    upstream shuffle stage at BUILD time, so a k-round loop still runs
    its rounds as serial build-time jobs. Measured at sf0.1 on 4 cores
    (``tools/measure.py``'s ``build_jobs``, the same figure as
    ``perfbench --trace 1``'s ``queries.build_jobs``):
    ``bpe_merge_induction`` builds with 7 jobs for 7 checkpoints and
    ``corpus_pagerank_tol_topk`` with 22."""
    out, rdd = _local_checkpoint(df)
    sc = df.sparkSession.sparkContext
    _TRACKED_CP[:] = [(r, c) for r, c in _TRACKED_CP if c._jsc is not None]
    _TRACKED_CP.append((rdd, sc))
    return out


def scoped_local_checkpoint(df: DataFrame):
    """:func:`tracked_local_checkpoint`'s form with a caller-owned
    release: returns ``(checkpointed_df, release)`` — call ``release()``
    once every consumer of the checkpoint has materialized. Not entered
    in the session ledger, so ``release_caches()`` never touches it: the
    shape for per-micro-batch pins inside a long-running stream, where
    the session-level release hook does not fire between batches."""
    out, rdd = _local_checkpoint(df)
    return out, lambda: rdd.unpersist(False)


def release_caches() -> None:
    """Unpersist every tracked relation still on a live context.

    Idempotent; duplicate ledger entries for the same plan unpersist
    the same CacheManager entry harmlessly. Checkpoint blocks tracked
    by :func:`tracked_local_checkpoint` are freed too — their
    DataFrames cannot be reused afterward (no lineage to recompute)."""
    for df, sc in _TRACKED:
        if sc._jsc is not None:
            df.unpersist()
    _TRACKED.clear()
    for rdd, sc in _TRACKED_CP:
        if sc._jsc is not None:
            rdd.unpersist(False)
    _TRACKED_CP.clear()


def tracked_count() -> int:
    """Live tracked cache entries (for tests)."""
    return sum(1 for _, sc in _TRACKED if sc._jsc is not None)


def checkpoint_count() -> int:
    """Live tracked checkpoint block-sets (for tests and
    ``tools/measure.py``)."""
    return sum(1 for _, sc in _TRACKED_CP if sc._jsc is not None)
