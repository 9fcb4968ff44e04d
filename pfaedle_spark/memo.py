"""Driver-side session memos for the engine's shared deterministic
intermediates (the reference builds them once per ``pfaedle -x`` run).

:class:`session_memo` keys a call on ``(session_token(spark), *args)``,
a DataFrame argument by its ``semanticHash()``, keeps ``MEMO_SIZE``
entries per memo in LRU order, and on eviction unpersists what a value
(or a dict value's items) pins: the ``localCheckpoint`` blocks its
DataFrames read, which the memoized function must own, and Broadcasts
(``unpersist``, not ``destroy``: a plan built earlier ships it again).
"""

from __future__ import annotations

import functools
import inspect
from collections import OrderedDict

from pyspark import Broadcast
from pyspark.sql import DataFrame

MEMO_SIZE = 8  # entries per memo

_MEMOS: list[session_memo] = []


def session_token(spark) -> str:
    """A per-SparkSession key that cannot alias across sessions the way
    ``id(spark)`` can (a new session allocated at a freed session's
    address would be handed a broadcast from a *stopped* SparkContext).
    applicationId + startTime is unique per context lifetime."""
    sc = spark.sparkContext
    return f"{sc.applicationId}:{sc.startTime}"


def _release(value) -> None:
    """Unpersist the checkpoint blocks and Broadcasts ``value`` pins."""
    for v in value.values() if isinstance(value, dict) else (value,):
        try:
            if isinstance(v, Broadcast):
                v.unpersist()
            elif isinstance(v, DataFrame):
                leaves = v._jdf.queryExecution().logical().collectLeaves().iterator()
                while leaves.hasNext():
                    leaf = leaves.next()
                    # DataFrame.unpersist() leaves checkpoint blocks pinned
                    if (leaf.getClass().getSimpleName() == "LogicalRDD"
                            and leaf.rdd().isCheckpointed()):
                        leaf.rdd().unpersist(False)
        except Exception:  # the context is already stopped
            pass


class session_memo:
    """Decorator: ``fn(spark, ...)`` memoized per session, with
    ``hits``/``misses`` counters; called from the driver's one thread."""

    def __init__(self, fn):
        functools.update_wrapper(self, fn)
        self._sig = inspect.signature(fn)
        self.entries: OrderedDict = OrderedDict()
        self.hits = self.misses = 0
        _MEMOS.append(self)

    def __call__(self, spark, *args, **kwargs):
        bound = self._sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (session_token(spark),) + tuple(
            v.semanticHash() if isinstance(v, DataFrame) else v
            for v in list(bound.arguments.values())[1:]
        )
        if key in self.entries:
            self.hits += 1
            self.entries.move_to_end(key)
            return self.entries[key]
        self.misses += 1
        value = self.entries[key] = self.__wrapped__(spark, *args, **kwargs)
        while len(self.entries) > MEMO_SIZE:
            _release(self.entries.popitem(last=False)[1])
        return value

    def clear(self, spark=None) -> None:
        """Evict and release ``spark``'s entries (every entry if None)."""
        tok = None if spark is None else session_token(spark)
        for key in [k for k in self.entries if tok in (None, k[0])]:
            _release(self.entries.pop(key))


def clear(spark=None) -> None:
    """Evict and release ``spark``'s entries from every memo (all
    sessions' if None), e.g. before a cold measurement."""
    for m in _MEMOS:
        m.clear(spark)
