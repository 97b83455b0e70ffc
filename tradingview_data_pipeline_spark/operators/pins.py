"""Session-level registry of operator-created persisted frames.

Operators that pin multi-consumer frames (``corpus.bigram_lm_profile``,
``similarity.semantic_dedup`` — the NOTES-31/34 DISK_ONLY pin rule)
attach the handles to their result as ``_pinned_deps``, but callers
that wrap the result in further projections lose that attribute, and a
long-lived session running many such queries accumulates disk-cached
blocks until the JVM context cleaner happens to reclaim them — measured
as a 39 GB block-manager directory after one 50-query bench session.

Every pin is therefore ALSO tracked here; harnesses that run many
queries in one session (bench.py, tools/scale_bench.py,
tools/verify_oracle.py) call ``release_all()`` between queries. Safe to
call at any time: unpersist is idempotent, lazy re-computation keeps
results correct even if a pin is released while its frame is still
referenced (the pin is a performance artifact, never a correctness
one).
"""

from __future__ import annotations

_LIVE: list = []
_LIVE_CKPT: list = []          # (spark_context, rdd_id) of localCheckpoints


def track(df):
    """Register a persisted frame for later bulk release; returns it."""
    _LIVE.append(df)
    return df


def release_all(*, blocking: bool = False) -> int:
    """Unpersist every tracked pin; returns how many were released."""
    n = len(_LIVE)
    for d in _LIVE:
        try:
            d.unpersist(blocking=blocking)
        except Exception:  # session gone / already released — harmless
            pass
    _LIVE.clear()
    return n


def checkpoint(df, *, storage_level=None):
    """Eager DISK_ONLY ``localCheckpoint`` with RELEASABLE blocks.

    The eager-checkpoint substrate pattern (video_near_dups,
    audio_near_dups_ber — chosen over ``persist`` where a lazy pin
    would race across parallel consumers and evaluate the substrate
    multiple times) truncates lineage, so its blocks are NOT covered
    by ``release_all``'s safety contract: an unpersisted checkpoint
    cannot lazily recompute.  Untracked, repeated calls in a
    long-lived session accumulate disk blocks until JVM context GC
    (round-11 advisor catch).  This wrapper records the checkpointed
    RDD id (read race-free from the frame's own LogicalRDD plan) so
    ``release_checkpoints`` can free the blocks deterministically.
    """
    from pyspark import StorageLevel

    level = storage_level or StorageLevel.DISK_ONLY
    ck = df.localCheckpoint(eager=True, storageLevel=level)
    try:
        rdd_id = ck._jdf.queryExecution().analyzed().rdd().id()
        _LIVE_CKPT.append((ck.sparkSession.sparkContext, rdd_id))
    except Exception:   # plan shape drift — leak (old behavior), don't fail
        pass
    return ck


def release_checkpoints(*, blocking: bool = False) -> int:
    """Free the blocks of every tracked local checkpoint.

    DESTRUCTIVE, unlike ``release_all``: frames checkpointed earlier
    become unusable (truncated lineage cannot recompute).  Call only at
    query boundaries — after results are collected/written — which is
    where the harnesses (bench.py, tools/verify_oracle.py,
    tools/scale_bench.py) already release pins.
    """
    n = len(_LIVE_CKPT)
    for sc, rdd_id in _LIVE_CKPT:
        try:
            sc._jsc.sc().unpersistRDD(rdd_id, blocking)
        except Exception:  # session gone / already released — harmless
            pass
    _LIVE_CKPT.clear()
    return n
