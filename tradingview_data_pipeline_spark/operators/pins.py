"""The one owner of Spark-side state that outlives an operator call.

| lifetime | state | owned by | freed by |
|---|---|---|---|
| query / job | persisted multi-consumer frames, ``track(df.persist(DISK_ONLY))`` (the NOTES-31/34 DISK_ONLY pin rule) | operators and plans that pin while a query or job is built: ``corpus``, ``similarity.semantic_dedup``, ``multimodal``, ``corpus_queries``, ``training_queries``, ``run_corpus_prep`` | ``release_all()``: the harnesses between queries (``bench.py``, ``perfbench/registry.py``, ``tools/verify_oracle.py``, ``tools/scale_bench.py``, ``tools/qbench.py``); ``run_corpus_prep`` once its shards land |
| query / job | local checkpoints, ``checkpoint(df, eager=..., storage_level=...)`` | every query- or job-owned checkpoint: the LSH, media and BM25 substrates, ``urls.domain_cap``, ``dedup.connected_components``, ``graph.pagerank``, ``bpe.bpe_train``, ``run_corpus_prep``, q80's URL frame, q83's media encode | ``release_checkpoints()``: the same harnesses, at the same boundary; ``run_corpus_prep`` once its shards land, and again once its tokenize stage's sequences land |
| session | ``memo(spark, key, build)`` values and the checkpoint a value holds | ``analytics._t`` (base-table readers), ``training_queries._scored_pairs`` (the q28/q42/q70 LSH substrate) | ``forget()``: ``tools/scale_bench.py`` per scale point, ``tools/qbench.py`` per repeat |
| micro-batch | direct ``localCheckpoint`` calls | the news sink | untracked: a stream never reaches a release point, so tracking would grow on every batch; Spark's context cleaner frees each batch's blocks once its frames are unreachable |

Releasing a persisted pin is always safe: lazy recomputation keeps
results correct if a pin goes while its frame is still referenced.
Releasing a checkpoint is not: the lineage it cut cannot recompute, so
``release_checkpoints`` and ``forget`` run only after results are
collected or written. Checkpoint blocks are freed by RDD id
(``unpersistRDD``); ``Dataset.unpersist`` on a checkpointed frame
leaves them in place.
"""

from __future__ import annotations

import time
import weakref

from pyspark import StorageLevel

_LIVE: list = []               # query: tracked persisted frames
_LIVE_CKPT: list = []          # query: (spark_context, rdd_id) of checkpoints
_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()  # session: {key: value}
_MEMO_CKPT: list = []          # session: (spark_context, rdd_id) memo values hold
BUILD_SEC: dict = {}           # memo key -> wall seconds its build took


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


def _rdd_id(df) -> int:
    """The id of the RDD a checkpointed frame reads (its LogicalRDD)."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def checkpoint(df, *, eager: bool = True,
               storage_level: StorageLevel | None = StorageLevel.DISK_ONLY):
    """``localCheckpoint`` whose blocks ``release_checkpoints`` frees.

    Eager DISK_ONLY by default (the media/LSH substrate pattern: an
    eager cut, chosen over a lazy ``persist`` that parallel consumers
    would race to evaluate). ``storage_level=None`` is Spark's own
    default, MEMORY_AND_DISK *deserialized* (PySpark's
    ``StorageLevel.MEMORY_AND_DISK`` is the serialized variant).
    """
    ck = df.localCheckpoint(eager=eager, storageLevel=storage_level)
    try:
        _LIVE_CKPT.append((ck.sparkSession.sparkContext, _rdd_id(ck)))
    except Exception:   # plan shape drift — leave it to the context cleaner
        pass
    return ck


def _unpersist_rdds(held: list, blocking: bool) -> int:
    n = len(held)
    for sc, rdd_id in held:
        try:
            sc._jsc.sc().unpersistRDD(rdd_id, blocking)
        except Exception:  # session gone / already released — harmless
            pass
    held.clear()
    return n


def release_checkpoints(*, blocking: bool = False) -> int:
    """Free the blocks of every query-owned checkpoint; returns how
    many. Frames checkpointed earlier become unusable."""
    return _unpersist_rdds(_LIVE_CKPT, blocking)


def memo(spark, key, build):
    """``build()`` once per (session, key); later calls return the same
    value. A checkpoint the value itself reads (``checkpoint(...)`` as
    the build's last step) moves from the query's lifetime to the
    session's, so ``release_checkpoints`` leaves it and ``forget`` frees
    it; whatever else the build pinned stays query-owned. The build's
    wall seconds land in ``BUILD_SEC[key]``.

    Keyed weakly on the session, but a frame value refers to its own
    session, so a stopped session's entries last until ``forget``."""
    entries = _MEMO.setdefault(spark, {})
    if key not in entries:
        n = len(_LIVE_CKPT)
        t0 = time.perf_counter()
        value = build()
        BUILD_SEC[key] = round(time.perf_counter() - t0, 3)
        if len(_LIVE_CKPT) > n:
            try:
                rdd_id = _rdd_id(value)
            except Exception:  # not a checkpointed frame
                rdd_id = None
            for held in _LIVE_CKPT[n:]:
                if held[1] == rdd_id:
                    _LIVE_CKPT.remove(held)
                    _MEMO_CKPT.append(held)
        entries[key] = value
    return entries[key]


def forget() -> int:
    """Drop every memo of every session, free the checkpoint blocks the
    memos held (blocking, so a timed run that follows starts clean) and
    reset ``BUILD_SEC``; returns how many checkpoints were freed."""
    _MEMO.clear()
    BUILD_SEC.clear()
    return _unpersist_rdds(_MEMO_CKPT, True)
