"""Bounded persist bookkeeping (layer-neutral: operators and queries
both chain through it).

Query functions persist shared intermediates but return LAZY
DataFrames, so they can never unpersist themselves (the caller's action
materializes the cache). A long-lived session running the full registry
would accumulate one cached relation per persist site; this ring keeps
at most ``_PERSIST_CAP`` of them alive, unpersisting the oldest
(non-blocking) once the cap is hit. The cap comfortably exceeds any
single bench/correctness phase, so warm-run cache reuse within a phase
is unaffected.
"""

from __future__ import annotations

from collections import deque

_PERSIST_CAP = 48
_persist_ring: deque = deque()


def _same_plan(a, b) -> bool:
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return False


def managed_persist(df):
    """``df.persist()`` with session-lifetime bounded accumulation.
    Chains as ``df.transform(managed_persist)``.

    Eviction is PLAN-AWARE: Spark's CacheManager dedups identical
    logical plans to one cache entry (q65's shingle table IS q66's),
    so unpersisting an old ring element whose plan a newer element
    shares would drop a cache entry the newer consumer still relies
    on — such evictees are skipped (the newer element owns the entry)."""
    df = df.persist()
    _persist_ring.append(df)
    while len(_persist_ring) > _PERSIST_CAP:
        victim = _persist_ring.popleft()
        if any(_same_plan(victim, kept) for kept in _persist_ring):
            continue  # a live ring entry shares this cache entry
        try:
            victim.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped; nothing to release
    return df


def lineage_cut(df, eager: bool = False):
    """Mode-aware lineage cut — the static-plan campaign's junction
    operator (see the verify skill): downstream plans read a flat RDD
    scan instead of re-inlining the upstream subtree per reference.

    LAZY by default, so nothing executes at plan-construction time.
    ``eager=True`` is for SUBSTRATE boundaries whose first consumer
    reads the frame from multiple DAG branches in one job: a lazy cut
    materializes under the concurrent cache-population race (measured
    q131 4 s -> 20-26 s with lazy entry cuts, r11 batch-1 ledger). It
    pays one job at build time; combine with ``_memo.memoized`` so the
    build happens once per (session, data).

    Storage is mode-aware: ``localCheckpoint`` blocks live on the
    executors that computed them, which is exactly right on local[n]
    but NOT fault-tolerant to executor loss on a real cluster (lineage
    is truncated, so a lost block cannot be recomputed — the job
    fails). When the session has a RELIABLE checkpoint directory
    configured (``spark.sparkContext.setCheckpointDir('hdfs://...')``,
    the one-line cluster deployment step), this helper upgrades every
    cut point to ``DataFrame.checkpoint`` — replicated, executor-loss-
    safe — with no call-site changes. Chains as
    ``df.transform(lineage_cut)`` or
    ``df.transform(lineage_cut, eager=True)``."""
    try:
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
