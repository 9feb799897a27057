"""Bounded caching for operators that persist an intermediate and return a
lazy DataFrame built on it (near_dup_jaccard's shingle frame, ANN's normed
vectors). The function cannot unpersist before returning — the caller's
action is what consumes the cache — and Spark's CacheManager keeps the entry
alive until explicit unpersist, so naive ``.persist()`` leaks one cached
frame per call for the session's lifetime (a bench loop calls these dozens
of times).

``cycle_persist`` caps that at ONE live cached frame per call site: each
call unpersists the previous call's frame first. Unpersisting never breaks
correctness — a still-held old DataFrame just recomputes its lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_live: dict[str, DataFrame] = {}


def release(tag: str) -> None:
    """Unpersist the call site's live frame, if any — for a call that takes
    a path which persists nothing, so the previous call's frame does not
    stay cached until the next persisting call."""
    prev = _live.pop(tag, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session gone / already unpersisted — nothing to hold onto


def cycle_persist(tag: str, df: DataFrame) -> DataFrame:
    release(tag)
    out = df.persist()
    _live[tag] = out
    return out
