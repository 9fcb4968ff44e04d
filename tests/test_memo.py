"""The session-memo primitive: LRU bound, release of evicted checkpoint
blocks and broadcasts, hit/miss counters, per-session clear, and the
engine's memoized query set repeating without recomputation."""

from unittest import mock

import pandas as pd
from pyspark import Broadcast

import __spark_entry__ as entrymod
from conftest import SF_DIR, normalize
from pfaedle_spark import memo
from pfaedle_spark.memo import MEMO_SIZE, session_memo


@session_memo
def _toy(spark, i):
    return {
        "df": spark.range(i).localCheckpoint(eager=True).select("id"),
        "bc": spark.sparkContext.broadcast(i),
    }


@session_memo
def _toy_rows(spark, df):
    return df.count()


def _persistent(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _fill(spark, keys) -> dict:
    """Call the toy memo per key; {key: (value, checkpoint rdd ids it added)}."""
    out = {}
    for i in keys:
        before = _persistent(spark)
        out[i] = (_toy(spark, i), _persistent(spark) - before)
    return out


def _spies():
    return (
        mock.patch.object(Broadcast, "unpersist", autospec=True,
                          side_effect=Broadcast.unpersist),
        mock.patch.object(Broadcast, "destroy", autospec=True),
    )


def test_bound_lru_eviction_releases(spark):
    _toy.clear()
    spy_up, spy_destroy = _spies()
    with spy_up as up, spy_destroy as destroy:
        vals = _fill(spark, range(1, MEMO_SIZE + 1))
        _toy(spark, 1)  # a hit: key 1 becomes the most recently used
        vals |= _fill(spark, range(MEMO_SIZE + 1, MEMO_SIZE + 4))
    assert len(_toy.entries) == MEMO_SIZE
    # LRU, not clear-all: exactly the three least recently used go
    evicted = [2, 3, 4]
    assert sorted(k[1] for k in _toy.entries) == [1] + list(range(5, MEMO_SIZE + 4))
    assert all(vals[i][1] for i in vals)  # each value pinned a checkpoint
    live = _persistent(spark)
    for i, (_, rdds) in vals.items():
        assert not rdds & live if i in evicted else rdds <= live, i
    assert [c.args[0] for c in up.call_args_list] == [vals[i][0]["bc"] for i in evicted]
    destroy.assert_not_called()
    _toy.clear()


def test_hits_and_misses(spark):
    _toy.clear()
    h, m = _toy.hits, _toy.misses
    a = _toy(spark, 3)
    assert _toy(spark, i=3) is a  # keyed on the bound arguments
    _toy(spark, 4)
    assert (_toy.hits - h, _toy.misses - m) == (1, 2)
    # a DataFrame argument is keyed by its semantic hash: an equal plan
    # built again is a hit
    h, m = _toy_rows.hits, _toy_rows.misses
    assert _toy_rows(spark, spark.range(5)) == _toy_rows(spark, spark.range(5)) == 5
    _toy_rows(spark, spark.range(6))
    assert (_toy_rows.hits - h, _toy_rows.misses - m) == (1, 2)
    _toy.clear()


def test_clear_session_releases(spark):
    _toy.clear()
    spy_up, _ = _spies()
    with spy_up as up:
        vals = _fill(spark, range(1, 4))
        _toy.clear(spark)
    assert not _toy.entries
    assert not set().union(*(r for _, r in vals.values())) & _persistent(spark)
    assert {id(c.args[0]) for c in up.call_args_list} >= {id(v["bc"]) for v, _ in vals.values()}
    m = _toy.misses
    _toy(spark, 1)
    assert _toy.misses == m + 1  # recomputed after the clear
    _toy.clear()


MEMOIZED_QUERIES = [
    "viterbi_align", "frechet_eval", "frechet_hops", "eval_hops_summary",
    "shapes_corridor", "viterbi_full", "lifecycle_components",
]


def test_memoized_queries_repeat_identically_without_misses(spark):
    qs = entrymod.queries()

    def run():
        return {n: normalize(qs[n](spark, SF_DIR).toPandas()) for n in MEMOIZED_QUERIES}

    first = run()
    misses = sum(m.misses for m in memo._MEMOS)
    second = run()
    assert sum(m.misses for m in memo._MEMOS) == misses
    for n in MEMOIZED_QUERIES:
        pd.testing.assert_frame_equal(first[n], second[n], check_exact=True, obj=n)
