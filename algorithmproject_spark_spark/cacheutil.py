"""Session-level tracked cache — the release hook for query-built
cached relations.

Query functions cache derived relations that feed multiple consumers
inside one returned plan (shingle tables, verified-pair relations,
posting lists). Spark's CacheManager keys entries on the canonicalized
plan, so repeated builds of the same query hit one entry — but nothing
ever RELEASES those entries in a long-lived session (bench loops,
notebooks): storage memory accumulates until the session dies.

:func:`tracked_cache` is a drop-in replacement for ``df.cache()`` that
records the relation; :func:`release_caches` unpersists everything
still bound to a live SparkContext and clears the ledger. Call it
whenever the consumers of the current batch of queries have
materialized — after a bench sweep, in test-session teardown, between
notebook experiments. Unpersisting is safe mid-session: a later query
that rebuilds the same plan simply re-caches it.

itemsets.py keeps its own (session, sf_dir) memo because it shares ONE
relation across distinct registered queries and must hand back the
SAME Python object; its ``clear_itemset_cache`` composes with this
hook (``release_caches`` does not touch it).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Serializes the getPersistentRDDs before/after diff windows so two
# Python threads checkpointing concurrently (e.g. two foreachBatch
# callbacks in one session) cannot attribute each other's blocks and
# later free a live stream's checkpoint out from under it (round-9
# review finding). JVM-side persists from OUTSIDE these helpers during
# a window are not covered — route checkpoints through cacheutil.
_CP_LOCK = threading.RLock()

# (DataFrame, SparkContext) pairs awaiting release. Entries bound to
# stopped contexts are pruned on every append, so session cycles don't
# accumulate dead references.
_TRACKED: list = []

# (JavaRDD handle, SparkContext) pairs for localCheckpoint block sets
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


def tracked_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + record the checkpoint blocks
    for :func:`release_caches`.

    ``localCheckpoint`` persists the materialized partitions as RDD
    blocks that ``DataFrame.unpersist`` never reaches — a 256-query
    sweep in one session accumulates them until the context dies
    (ADVICE r8). The new block-set is diffed out of
    ``getPersistentRDDs`` and unpersisted on release. UNLIKE a released
    cache, a released checkpoint cannot recompute (lineage was
    truncated), so the returned DataFrame is dead after
    ``release_caches`` — fine for the query-build pattern, where each
    build constructs a fresh plan; never hand it to a long-lived
    consumer.

    ``eager=False`` (r12) truncates the logical plan identically and,
    with adaptive query execution OFF, defers materialization to the
    first downstream action. With AQE ON — the session default — the
    checkpoint RDD is built from ``AdaptiveSparkPlanExec.execute()``,
    which runs every upstream shuffle stage at BUILD time, so a k-round
    loop still launches its rounds as serial build-time jobs: measured
    at sf0.1 on 4 cores (job count from the in-process status store,
    the same figure as ``perfbench --trace 1``'s ``queries.build_jobs``),
    ``dedup_cluster_reps`` builds with 23 jobs under AQE and 3 without,
    ``corpus_pagerank_topk`` with 20 and 3. The ledger still tracks
    it: ``RDD.persist`` REGISTERS the RDD in
    ``getPersistentRDDs`` at call time (verified empirically), even
    though its blocks appear at first compute, so the diff window
    captures lazy checkpoints exactly like eager ones."""
    out, handles = _checkpoint_with_handles(df, eager=eager)
    sc = df.sparkSession.sparkContext
    _TRACKED_CP[:] = [(r, c) for r, c in _TRACKED_CP if c._jsc is not None]
    _TRACKED_CP.extend((h, sc) for h in handles)
    return out


def tracked_lazy_local_checkpoint(df: DataFrame) -> DataFrame:
    """:func:`tracked_local_checkpoint` with ``eager=False`` — a
    ``DataFrame.transform``-friendly alias for loop bodies."""
    return tracked_local_checkpoint(df, eager=False)


def _persistent_ids(sc) -> tuple:
    """(java Map handle, set of live persistent RDD ids) in TWO py4j
    round-trips: iterating ``keySet().toArray()`` costs one trip PER
    ELEMENT, which a k-round loop over a growing session ledger turns
    into O(rounds × live RDDs) driver chatter (r13). The java.util.Set
    toString — "[1, 12, 3]" — carries every id in one reply; format is
    the JDK's AbstractCollection.toString contract."""
    live = sc._jsc.getPersistentRDDs()
    txt = live.keySet().toString()
    ids = {
        int(tok)
        for tok in txt.strip("[]").replace(" ", "").split(",")
        if tok
    }
    return live, ids


def _checkpoint_with_handles(df: DataFrame, eager: bool = True):
    """localCheckpoint + the JavaRDD handles of the blocks it
    persisted (the shared diff idiom — one implementation for the
    session ledger and for scoped callers)."""
    sc = df.sparkSession.sparkContext
    with _CP_LOCK:
        _, before = _persistent_ids(sc)
        out = df.localCheckpoint(eager=eager)
        live, after = _persistent_ids(sc)
        handles = [live.get(rdd_id) for rdd_id in sorted(after - before)]
    return out, handles


def scoped_local_checkpoint(df: DataFrame):
    """Eager localCheckpoint whose blocks the CALLER frees: returns
    ``(checkpointed_df, release)`` — call ``release()`` once every
    consumer of the checkpoint has materialized. Not entered in the
    session ledger, so ``release_caches()`` never touches it: the shape
    for per-micro-batch pins inside a long-running stream, where the
    session-level release hook does not fire between batches."""
    out, handles = _checkpoint_with_handles(df)

    def release() -> None:
        for h in handles:
            h.unpersist()

    return out, release


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
    for jrdd, sc in _TRACKED_CP:
        if sc._jsc is not None:
            jrdd.unpersist()
    _TRACKED_CP.clear()


def tracked_count() -> int:
    """Live tracked cache entries (for tests)."""
    return sum(1 for _, sc in _TRACKED if sc._jsc is not None)


def checkpoint_count() -> int:
    """Live tracked checkpoint block-sets (for tests)."""
    return sum(1 for _, sc in _TRACKED_CP if sc._jsc is not None)
