"""Cache-lifetime control: no operator may leak persisted blocks.

Session-lifetime cache leaks are a 100-TB-scale killer: an operator that
``.persist()``s an intermediate and never releases it slowly turns the
executor storage pool into an LRU-thrash zone as a long-lived session
runs query after query.  This module is the repo-wide discipline:

- :func:`scoped_cache` — a ``with`` block that persists frames for the
  duration of a computation that consumes them MORE THAN ONCE *inside
  the operator* (iterative loops, threshold probes) and guarantees the
  release on exit, exception or not.

- :func:`shared_frame` — materialization without persisted blocks, for
  the end of an iterative operator (PageRank, label propagation,
  k-means, BPE, MMR) and for a frame several separate executions read.
  The frame is written to a RELIABLE checkpoint (disk files):
  ``getPersistentRDDs`` stays empty, the returned frame re-reads the
  files on demand, and the files live outside the executor storage pool
  entirely — exactly what a production cluster does with an HDFS/S3
  checkpoint dir.

- Reuse-not-cache: operators whose expensive frame feeds several plan
  branches at COLLECT time (inverted-index self-joins, banded LSH) do
  not persist at all anymore — they ``repartition(key)`` once and let
  every branch inherit the partitioning; Catalyst's ReuseExchange then
  materializes the expensive stage ONCE in shuffle files (auto-cleaned,
  no storage-pool pressure).  See ``operators/dedup.py``.

The contract is enforced by ``tests/test_cache_hygiene.py``: after every
registry query runs to completion, ``getPersistentRDDs()`` is empty.
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Set a session checkpoint dir lazily if none is configured.

    Local runs get a throwaway temp dir; a real cluster should configure
    ``spark.checkpoint.dir`` (HDFS/S3) and
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so files
    are reclaimed when the checkpointed RDD is garbage collected.
    """
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if current is not None:
        return current
    path = tempfile.mkdtemp(prefix="spark-graft-ckpt-")
    sc.setCheckpointDir(path)
    return path


def shared_frame(df: DataFrame) -> DataFrame:
    """Materialize ``df`` as an eager RELIABLE checkpoint (disk files,
    zero persisted blocks). Two reasons to use it:

    1. The final state of an ITERATIVE operator (PageRank, label
       propagation, k-means, BPE, MMR). A final
       ``localCheckpoint(eager=True)`` would pin the result's blocks in
       the storage pool for the rest of the session (an unpersisted
       local checkpoint cannot recompute across its truncated lineage,
       so nobody may ever release it). The caller must keep its
       intermediate (local) checkpoints alive until this returns — the
       final round's plan reads them exactly once more during the
       checkpoint write — then release them all.
    2. A frame that SEVERAL consumers read where a recompute is real.
       AQE stage reuse already deduplicates plan branches whose
       canonicalized exchanges match (identically-pruned self-join
       sides), so checkpointing those is pure write+read overhead
       (measured regressions, plans/r12/ab_shared_frame.json). Use it
       only when (a) a construction-time PROBE is a separate execution
       and cannot share stages with the main collect (the salted-ngram
       p99 path — A/B 1.5×), (b) consumer branches prune to different
       column sets and their exchanges cannot canonicalize equal, or
       (c) the caller runs SEVERAL SEPARATE ACTIONS on the one returned
       frame (validate, then each sink — the retail transform→load
       boundary, plans/retail.py): every action is its own query
       execution, so no AQE stage reuse spans them and each would rerun
       the whole lineage. The trade at 100 TB: ONE frame-sized
       sequential write (+ per-consumer reads) replaces k corpus map
       passes + k redundant shuffle writes — a win for k >= 2 whenever
       the map stage costs more than the frame's serialized bytes
       (measured per caller, numbers in OPTIMIZATION_r12.md).

    Either way the storage pool is untouched (``getPersistentRDDs``
    stays empty — the cache-hygiene contract); the files live in the
    checkpoint dir (HDFS/S3 on a cluster), the returned frame re-reads
    them on demand, and the ContextCleaner reclaims them when the frame
    is GC'd (``spark.cleaner.referenceTracking.cleanCheckpoints=true``,
    session.py). The partitioning survives (LogicalRDD carries the
    physical outputPartitioning), so a join keyed like the checkpointed
    repartition still plans exchange-free."""
    ensure_checkpoint_dir(df.sparkSession)
    return df.checkpoint(eager=True)


def local_ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` with RELEASABLE blocks.

    ``Dataset.unpersist()`` is a silent no-op for checkpoint blocks —
    they live on the internal RDD, not in the CacheManager — so a plain
    ``df.localCheckpoint()`` can only be reclaimed by the ContextCleaner
    after the frame is garbage collected (non-deterministic, and never
    while a driver loop still references the round list). This wrapper
    records the persistent-RDD ids the checkpoint registers (persist()
    marks the RDD immediately, even for lazy checkpoints) so
    :func:`release_ckpt` can free the blocks deterministically.
    """
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=eager)
    after = sc._jsc.getPersistentRDDs().keySet().toArray()
    out._ckpt_rdd_ids = [k for k in after if k not in before]
    return out


def release_ckpt(df: DataFrame) -> None:
    """Free the blocks of a frame produced by :func:`local_ckpt`.

    Only call once every consumer of the frame has materialized — a
    local checkpoint cannot recompute across its truncated lineage.
    No-op for frames without recorded checkpoint ids.
    """
    ids = getattr(df, "_ckpt_rdd_ids", None)
    if not ids:
        return
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)
    df._ckpt_rdd_ids = []


@contextmanager
def scoped_cache(*frames: DataFrame):
    """Persist ``frames`` inside the block, guaranteed release on exit.

    For operator-INTERNAL reuse only (driver-side probes, loop bodies).
    Frames consumed by the operator's *returned* plan must not rely on
    this cache — after exit they recompute; use reuse-not-cache shapes
    (repartition + ReuseExchange) for collect-time sharing instead.
    """
    for f in frames:
        f.persist()
    try:
        yield frames[0] if len(frames) == 1 else frames
    finally:
        for f in frames:
            try:
                f.unpersist()
            except Exception:
                pass
