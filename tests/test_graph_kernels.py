"""The numpy graph passes on hand-built graphs, without Spark.

Each expected output is worked out by hand from the pass's round
algebra (see graph_passes.collapse_arrays, snap.snap_split_arrays and
graph_passes.fix_gaps_arrays)."""

import numpy as np

from pfaedle_spark.operators import graph_ops, graph_passes, snap


def _edges(rows, xs=None):
    """rows: (edge_id, src, dst, length); level 0, not oneway."""
    eid, src, dst, length = (np.array(c) for c in zip(*rows))
    t = {
        "edge_id": eid.astype(np.int64),
        "src": src.astype(np.int64),
        "dst": dst.astype(np.int64),
        "level": np.zeros(len(rows), np.int32),
        "oneway": np.zeros(len(rows), bool),
        "length": length.astype(np.float64),
    }
    if xs is not None:
        t["xs"] = np.empty(len(rows), dtype=object)
        t["ys"] = np.empty(len(rows), dtype=object)
        for k, v in enumerate(xs):
            t["xs"][k] = np.array(v, dtype=np.float64)
            t["ys"][k] = np.zeros(len(v))
    return t


def _rows(t):
    return {
        (int(e), int(s), int(d), float(ln))
        for e, s, d, ln in zip(t["edge_id"], t["src"], t["dst"], t["length"])
    }


def _collapse(t, stations, rounds=graph_passes.COLLAPSE_MAX_ROUNDS):
    return graph_passes.collapse_arrays(t, np.array(stations, np.int64), rounds)


def test_collapse_stops_after_max_rounds_on_a_long_chain():
    # path 0-1-...-11 with ids rising along it: the race guard lets only
    # the lowest remaining mid merge per round, so 10 mids need 10
    # rounds and 8 leave mids 9 and 10 standing
    t = _edges([(100 + k, k, k + 1, 1.0) for k in range(11)])
    got = _collapse(t, [0, 11])
    assert graph_passes.COLLAPSE_MAX_ROUNDS == 8
    assert _rows(got) == {(100, 0, 9, 9.0), (109, 9, 10, 1.0), (110, 10, 11, 1.0)}


def test_collapse_never_merges_a_self_loop_or_parallel_edges():
    # node 5: degree 2 from its own loop (e1 == e2); nodes 1 and 2:
    # degree 2 from two parallel edges (a.other == b.other)
    t = _edges([(10, 1, 2, 3.0), (11, 2, 1, 4.0), (20, 5, 5, 5.0)])
    got = _collapse(t, [])
    assert _rows(got) == {(10, 1, 2, 3.0), (11, 2, 1, 4.0), (20, 5, 5, 5.0)}


def test_collapse_neighbouring_mids_merge_in_different_rounds():
    # stations 0 and 9 around the mids 7 and 4 (path 0-7-4-9). Round 1:
    # mid 7 waits for its smaller neighbour 4, which merges 11 + 12.
    # Round 2: mid 7 merges 10 + 11. Edge 10 is stored 7->0 and edge 12
    # 9->4, so both orientation flips are exercised.
    t = _edges(
        [(10, 7, 0, 1.0), (11, 7, 4, 2.0), (12, 9, 4, 4.0)],
        xs=[[1.0, 0.0], [1.0, 2.0], [3.0, 2.0]],
    )
    one = _collapse(t, [0, 9], rounds=1)
    assert _rows(one) == {(10, 7, 0, 1.0), (11, 7, 9, 6.0)}
    xs = {int(e): list(x) for e, x in zip(one["edge_id"], one["xs"])}
    assert xs == {10: [1.0, 0.0], 11: [1.0, 2.0, 3.0]}

    two = _collapse(t, [0, 9])
    assert _rows(two) == {(10, 0, 9, 7.0)}
    assert list(two["xs"][0]) == [0.0, 1.0, 2.0, 3.0]
    assert len(two["ys"][0]) == 4


def test_collapse_station_in_a_chain_blocks_contraction():
    # path 0-1-2-3-4 with stations 0, 2, 4: mids 1 and 3 merge, 2 stays
    t = _edges([(100 + k, k, k + 1, 1.0) for k in range(4)])
    got = _collapse(t, [0, 2, 4])
    assert _rows(got) == {(100, 0, 2, 2.0), (102, 2, 4, 2.0)}


def test_collapse_requires_matching_level_and_oneway():
    t = _edges([(1, 0, 1, 1.0), (2, 1, 2, 1.0), (3, 2, 3, 1.0)])
    t["level"][0] = 3   # node 1: levels differ
    t["oneway"][2] = True  # node 2: oneway differs
    assert _rows(_collapse(t, [0, 3])) == _rows(t)


def test_snap_reuses_an_endpoint_within_eps_and_splits_farther_away():
    # one edge 7: node 1 (0,0) -> node 2 (128,0). stop_12 projects onto
    # its middle (t = 0.5, 4 m off) and wins round 1 against stop_11
    # (8 m off): the edge splits at (64, 0) into two 64 m halves. In
    # round 2 (100 m) stop_11 projects onto the first half 1 m from
    # node 1 (<= SPLIT_EPS: reuse node 1) and stop_13 onto the second
    # half 1 m before node 2 (reuse node 2); it was 30 m off, beyond
    # round 1's 25 m.
    edges = {
        "edge_id": np.array([7]), "src": np.array([1]), "dst": np.array([2]),
        "x1": np.array([0.0]), "y1": np.array([0.0]),
        "x2": np.array([128.0]), "y2": np.array([0.0]),
        "level": np.array([2], np.int32), "oneway": np.array([False]),
        "length": np.array([128.0]),
    }
    stops = {
        "stop_id": np.array(["stop_11", "stop_12", "stop_13"], dtype=object),
        "x": np.array([1.0, 64.0, 127.0]),
        "y": np.array([8.0, -4.0, 30.0]),
    }
    snaps, e = snap.snap_split_arrays(stops, edges)
    mid = snap.PROJ_NODE_OFF + 12
    h1, h2 = snap.SPLIT_EDGE_OFF + 24, snap.SPLIT_EDGE_OFF + 25
    cols = ["stop_id", "node_id", "kind", "round", "dist", "qx", "qy", "split_edge"]
    got = {r[0]: tuple(r[1:]) for r in zip(*(snaps[c].tolist() for c in cols))}
    assert got == {
        "stop_12": (mid, "split", 1, 4.0, 64.0, 0.0, 7),
        "stop_11": (1, "src", 2, 8.0, 1.0, 0.0, h1),
        "stop_13": (2, "dst", 2, 30.0, 127.0, 0.0, h2),
    }
    got_e = set(zip(*(e[c].tolist() for c in snap.SPLIT_EDGE_COLS)))
    assert got_e == {
        (h1, 1, mid, 0.0, 0.0, 64.0, 0.0, 2, False, 64.0),
        (h2, mid, 2, 64.0, 0.0, 128.0, 0.0, 2, False, 64.0),
    }


def test_fix_gaps_merges_degree1_nodes_half_a_metre_apart():
    # 3 sits 0.5 m from 2 (both degree 1): 3 -> 2. 5 is 1.5 m from 2:
    # too far. 7 is 0.5 m from 4 but a station: not merged.
    node_id = np.array([1, 2, 3, 4, 5, 6, 7, 8])
    x = np.array([0.0, 10.0, 10.5, 20.0, 10.0, 10.0, 20.5, 30.0])
    y = np.array([0.0, 0.0, 0.0, 0.0, 1.5, 50.0, 0.0, 0.0])
    is_station = np.array([False] * 6 + [True, False])
    src, dst = graph_passes.fix_gaps_arrays(
        node_id, x, y, is_station, np.array([1, 3, 5, 7]), np.array([2, 4, 6, 8])
    )
    assert src.tolist() == [1, 2, 5, 7]
    assert dst.tolist() == [2, 4, 6, 8]


def test_orphan_rounds_peel_one_spur_layer_each():
    # spur 10-11-12-13-14 hanging off station 10: three rounds remove
    # the three outermost edges, the fourth survives
    src, dst = np.array([10, 11, 12, 13]), np.array([11, 12, 13, 14])
    keep = graph_passes.orphan_keep(src, dst, np.array([10]), rounds=3)
    assert keep.tolist() == [True, False, False, False]


def test_min_id_labels_ignore_edges_to_unknown_nodes():
    labels = graph_ops.min_id_labels(
        np.array([5, 3, 9, 7, 11]), np.array([5, 9, 7]), np.array([9, 3, 100])
    )
    assert labels.tolist() == [3, 3, 3, 7, 11]
