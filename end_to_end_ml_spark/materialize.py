"""Materialization policy: the one module that decides whether an engine
frame is cached or checkpointed.

- :func:`at_scale` is the scale decision behind every scale-gated
  checkpoint (a8 per-class AUCs, drift_bins, the bucketed-rank counts,
  spearman's pair frame, the split counts, ts5's (user, day) pairs).
- :func:`checkpoint_at_scale` applies it: a lazy ``localCheckpoint`` of a
  frame that several consumers re-derive, taken only at scale.
- :func:`persist` is the cache-ownership guard every engine persist goes
  through.

Unconditional ``localCheckpoint`` calls stay at their call sites: each is
a measured per-site trade with its own reason written next to it.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# Scale-conditional materialization. At sf0.1 on an idle local[32] the
# nine redundant pair-frame/counts subtrees in a18's plan execute
# CONCURRENTLY inside one job and beat the serializing localCheckpoint
# barriers (4.02 s no-ckpt vs 4.81 s both-ckpts, min of 8 alternating
# warmed runs; counts-only 4.36 vs 4.75). On a cluster, where each
# redundant subtree is a full table scan and cores are not idle, the
# checkpointed shape wins.
#
# The decision is DERIVED at call time, so a cluster needs no env var —
#   SPARK_GRAFT_SCALE_MATERIALIZE=1/0 still forces it either way (read at
#   call time, not import time: an import-time read makes later env
#   changes a silent no-op);
#   unset -> materialize when the session master is NOT local (a cluster
#   pays a full distributed scan per redundant subtree) OR when the
#   optimizer's size estimate for an input frame exceeds
#   _SCALE_MATERIALIZE_BYTES (a big LOCAL job re-deriving a multi-GB
#   frame nine times loses to one materialization too).
# Estimates above ~1 EiB are Catalyst's "unknown size" defaultSizeInBytes
# sentinel (Long.MaxValue), not a measurement — treated as unknown so an
# ExistingRDD input cannot flip the measured-optimal local plan.
_SCALE_MATERIALIZE_BYTES = 4 * 1024**3
_SIZE_UNKNOWN_SENTINEL = 2**60


def _size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for ``df``, or None when the probe
    fails (stats are advisory: a failure keeps the local shape, loudly)."""
    try:
        # py4j converts the Scala BigInt to a Python int directly
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception as e:  # noqa: BLE001 — stats are advisory, never fatal
        _log.warning(
            "at_scale: size estimate failed (%s: %s); keeping the local shape",
            type(e).__name__, e, exc_info=True,
        )
        return None


def at_scale(*dfs: DataFrame) -> bool:
    """True when any input is at scale (see the comment above): the env
    override if set, else a non-local master, else an optimizer size
    estimate above the threshold. Logs the decision and its inputs once
    per call."""
    env = os.environ.get("SPARK_GRAFT_SCALE_MATERIALIZE")
    master = dfs[0].sparkSession.sparkContext.master
    sizes: list[int | None] = []
    if env is not None:
        decision = env == "1"
    elif not master.startswith("local"):
        decision = True
    else:
        sizes = [_size_bytes(df) for df in dfs]
        decision = any(
            s is not None and _SCALE_MATERIALIZE_BYTES < s < _SIZE_UNKNOWN_SENTINEL
            for s in sizes
        )
    _log.info(
        "at_scale=%s master=%s size_bytes=%s env=%s",
        decision, master, sizes or None, env,
    )
    return decision


def checkpoint_at_scale(frame: DataFrame, *inputs: DataFrame) -> DataFrame:
    """``frame`` lazily localCheckpointed when :func:`at_scale` holds for
    ``inputs``, else ``frame`` unchanged. Callers pass a frame that several
    consumers would otherwise re-derive from the inputs."""
    if at_scale(*inputs):
        return frame.localCheckpoint(eager=False)
    return frame


def persist(df: DataFrame) -> tuple[DataFrame, bool]:
    """``persist()`` guarded on the CacheManager, returning ``(df, owned)``.

    With memoized scans (sources.io._SCAN_CACHE) a repeated operator call
    rebuilds an IDENTICAL logical plan; a bare ``persist()`` on it logs
    ``WARN CacheManager: Asked to cache already cached data``, and in a
    long-lived session a later ``unpersist()`` from one call site would
    evict the sibling's live cache. ``df.storageLevel`` consults the
    session CacheManager by plan, so this is a true already-cached test,
    not an object-identity test. ``owned`` is True only when THIS call
    performed the persist: a call site that unpersists on exit must do so
    only when it owns the cache."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df, False
    return df.persist(), True
