"""Session-scoped substrate memo — the second half of the checkpoint
recipe.

``localCheckpoint`` cuts lineage (static plans read ``Scan
ExistingRDD`` instead of re-inlining every upstream subtree per
reference), but it materializes a NEW RDD on every DataFrame BUILD: a
re-invoked query re-pays the whole pipeline that ``managed_persist``
used to dedup through Spark's CacheManager (measured twice: q151 at
10x went 0.51 s -> 3.3 s when the LPA checkpoint landed without a
memo in r10; q127 run-2 went 18.9 s -> 28.1 s when its junction
checkpoints landed without one in r11). The rule:

    localCheckpoint cuts LINEAGE; the memo cuts RECOMPUTATION.
    Checkpointed substrates that can be rebuilt per invocation —
    bench best-of-2, co-resident consumer queries — get BOTH.

Keyed by (kind, applicationId, sf_dir) and served only while sf_dir's
input fingerprint (sorted relative path, size and mtime_ns of every
file under it) matches the one taken at build time, so a rewritten
input rebuilds instead of serving a stale substrate. applicationId is
stable and unique per session, unlike id(spark) which CPython can reuse
after GC. Entries from stopped sessions are evicted on every access so
a dead session's DataFrames and checkpoint RDD blocks are not pinned
for the process lifetime. Values are (session, substrate, fingerprint)
triples so liveness can be checked without resurrecting the key.
"""

from __future__ import annotations

import os

_SUBSTRATE_MEMO: dict = {}


def _input_fingerprint(sf_dir: str) -> tuple:
    """Sorted (relative path, size, mtime_ns) of the files under
    ``sf_dir``; empty for a path that is not a local directory."""
    paths = [os.path.join(root, n) for root, _, names in os.walk(sf_dir) for n in names]
    stats = [(os.path.relpath(p, sf_dir), os.stat(p)) for p in paths]
    return tuple(sorted((rel, st.st_size, st.st_mtime_ns) for rel, st in stats))


def _session_stopped(sess) -> bool:
    try:
        return sess.sparkContext._jsc is None
    except Exception:
        return True


def memoized(kind: str, spark, sf_dir: str, build):
    """Return ``build()`` once per (kind, session, sf_dir, input
    fingerprint); later calls in the same session over unchanged files
    get the SAME object (and therefore the same already-materialized
    checkpoint RDDs)."""
    for k in [
        k for k, (sess, *_) in list(_SUBSTRATE_MEMO.items()) if _session_stopped(sess)
    ]:
        # pop, not del: builds may run from a thread pool (q478's arm
        # overlap), and two concurrent evictions of the same stale key
        # must not raise
        _SUBSTRATE_MEMO.pop(k, None)
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    fp = _input_fingerprint(sf_dir)
    if key not in _SUBSTRATE_MEMO or _SUBSTRATE_MEMO[key][2] != fp:
        _SUBSTRATE_MEMO[key] = (spark, build(), fp)
    return _SUBSTRATE_MEMO[key][1]
