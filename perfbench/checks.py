"""Output checks, run outside the timed region.

Each check returns a list of mismatch descriptions; an empty list means
the output is correct. The references are the repository's DuckDB
oracles, which reproduce the engine bit for bit on the same generated
``documents``. The flagship DuckDB oracle costs ~30 s on any input of a
few hundred trips (its hop table spans the whole graph), so the whole
flagship output is compared with ``flagship_reference``, the same DP in
numpy, and that reference with the DuckDB oracle on a sample of trips.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd

from pfaedle_spark import constants as C
from pfaedle_spark import sqlgen
from pfaedle_spark.operators import candidates, nodedp
from pfaedle_spark.plans import lifecycle

FLAGSHIP_COLS = ["image_id", "trip_id", "seq", "edge_id", "cand_node",
                 "emission", "acc_cost", "x", "y", "cell_id"]
GRAPH_COLS = ["edge_id", "src", "dst", "x1", "y1", "x2", "y2", "level", "oneway", "length"]


def _duckdb(documents: pd.DataFrame | None, work_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb_tmp')}'")
    if documents is not None:
        con.register("documents", documents)
    return con


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    """Order-insensitive comparison; floats to rtol 1e-9 (the engine and
    its oracles are designed to agree bit for bit)."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    bad = []
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=0.0, equal_nan=True)
        else:
            ok = bool((a.astype(str) == b.astype(str)).all())
        if not ok:
            bad.append(f"{what}: column {c} differs")
    return bad


def flagship_oracle_sql() -> str:
    """The flagship chain's output (node-state Viterbi plus the tile cell
    id) as one DuckDB query over ``documents``."""
    return f"""WITH vit AS (
{nodedp.viterbi_align_grid_sql()}
),{sqlgen.points_cte()}
SELECT v.image_id, v.trip_id, v.seq, v.edge_id, v.cand_node,
       v.emission, v.acc_cost, p.x, p.y,
       {sqlgen.cell_id('p.x', 'p.y')} AS cell_id
FROM vit v JOIN points p USING (image_id)
"""


def hop_costs(con, cache_dir: str) -> np.ndarray:
    """All-pairs shortest-path cost on the node graph, as the oracle's
    ``nfin`` defines it (arc cost ``length * LEVEL_PUNISH[level]``, both
    directions unless oneway; unreachable = inf). Every cost is an exact
    float64 integer, so Floyd-Warshall equals the oracle's Bellman-Ford
    and the engine's Dijkstra bit for bit."""
    arcs = con.execute(sqlgen.with_ctes("edges")
                       + " SELECT src, dst, level, oneway, length FROM edges").df()
    cost = arcs["length"].to_numpy() * np.asarray(C.LEVEL_PUNISH)[arcs["level"].to_numpy()]
    src, dst = arcs["src"].to_numpy(np.int64), arcs["dst"].to_numpy(np.int64)
    back = ~arcs["oneway"].to_numpy(bool)
    rows = (np.concatenate([src, dst[back]]), np.concatenate([dst, src[back]]),
            np.concatenate([cost, cost[back]]))
    # the table depends on the arcs alone; later runs in the checkout reuse it
    key = hashlib.sha1(b"".join(np.ascontiguousarray(a).tobytes() for a in rows)).hexdigest()
    cached = os.path.join(cache_dir, f"hop-{key}.npy")
    if os.path.exists(cached):
        return np.load(cached)
    n = C.GRID_N * C.GRID_N
    hop = np.full((n, n), np.inf)
    np.minimum.at(hop, rows[:2], rows[2])
    np.fill_diagonal(hop, 0.0)
    for k in range(n):
        np.minimum(hop, hop[:, k, None] + hop[None, k, :], out=hop)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{cached}.{os.getpid()}.npy"
    np.save(tmp, hop)
    os.replace(tmp, cached)
    return hop


def flagship_reference(con, cache_dir: str) -> pd.DataFrame:
    """The flagship output for every trip of ``documents``: the oracle's
    candidates (``candidates.candidates_cte_sql``) and hop costs, then the
    layered DP of ``nodedp.viterbi_align_grid_sql`` in numpy — the same
    float order ``(dp + hop) + emission`` and first-min tie-breaks in
    edge_id order. Costs a few seconds where the DuckDB DP costs ~30 s."""
    cand = con.execute(candidates.candidates_cte_sql() + f"""
SELECT trip_id, seq, image_id, edge_id, cand_node, dist * {C.CAND_PEN_FAC!r} AS emission,
       x, y, {sqlgen.cell_id('x', 'y')} AS cell_id
FROM cand ORDER BY trip_id, seq, edge_id""").df()
    hop = hop_costs(con, cache_dir)
    trip = cand["trip_id"].to_numpy()
    seq = cand["seq"].to_numpy(np.int64)
    node = cand["cand_node"].to_numpy(np.int64)
    em = cand["emission"].to_numpy(np.float64)
    acc = np.empty(len(cand))
    pick = []
    layer_start = np.flatnonzero(np.r_[True, (trip[1:] != trip[:-1]) | (seq[1:] != seq[:-1])])
    trip_start = np.flatnonzero(np.r_[True, trip[1:] != trip[:-1]])
    bounds = np.append(layer_start, len(cand))
    lay_of_trip = np.searchsorted(layer_start, np.append(trip_start, len(cand)))
    for t in range(len(trip_start)):
        lays = [slice(bounds[i], bounds[i + 1])
                for i in range(lay_of_trip[t], lay_of_trip[t + 1])]
        dp, back = [em[lays[0]]], []
        for prev, cur in zip(lays, lays[1:]):
            total = (dp[-1][:, None] + hop[np.ix_(node[prev], node[cur])]) + em[cur][None, :]
            best = np.argmin(total, axis=0)
            dp.append(total[best, np.arange(total.shape[1])])
            back.append(best)
        choice = int(np.argmin(dp[-1]))
        for li in range(len(lays) - 1, -1, -1):
            pick.append(lays[li].start + choice)
            acc[lays[li].start + choice] = dp[li][choice]
            if li:
                choice = int(back[li - 1][choice])
    out = cand.iloc[np.sort(np.asarray(pick, dtype=np.int64))].copy()
    out["acc_cost"] = acc[out.index.to_numpy()]
    return out.reset_index(drop=True)


def check_flagship(outputs: list[tuple[str, pd.DataFrame, np.ndarray]], sample_trips: int,
                   seed: int, work_dir: str, cache_dir: str) -> list[str]:
    """Each ``(label, rows, doc_ids)`` output must equal the reference for
    its input, row for row. The reference itself is checked against the
    DuckDB oracle ``nodedp.viterbi_align_grid_sql()`` plus ``sqlgen.cell_id``
    on a seeded sample of trips."""
    docs = np.unique(np.concatenate([d for _, _, d in outputs]))
    ref = flagship_reference(_duckdb(pd.DataFrame({"doc_id": docs}), work_dir), cache_dir)
    bad = []
    for what, rows, doc_ids in outputs:
        trips = {f"trip_{t}" for t in np.unique(doc_ids // C.TRIP_LEN).tolist()}
        bad += _frames_equal(rows, ref[ref["trip_id"].isin(trips)], FLAGSHIP_COLS,
                             f"flagship {what} vs reference")
    rng = np.random.default_rng([seed, 2])
    trips = np.unique(docs // C.TRIP_LEN)
    sample = rng.choice(trips, size=min(sample_trips, len(trips)), replace=False)
    sample_docs = docs[np.isin(docs // C.TRIP_LEN, sample)]
    want = _duckdb(pd.DataFrame({"doc_id": sample_docs}), work_dir).execute(
        flagship_oracle_sql()).df()
    names = {f"trip_{t}" for t in sample.tolist()}
    return bad + _frames_equal(ref[ref["trip_id"].isin(names)], want, FLAGSHIP_COLS,
                               "flagship reference vs oracle")


def _read_parquet_dir(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def check_lifecycle(root: str, doc_ids: np.ndarray, work_dir: str) -> list[str]:
    """Graph prefix against its round-unrolled oracle; the GTFS feed holds
    one shape per aligned trip with non-decreasing distance, and one
    stop_times row per input point."""
    graph = _read_parquet_dir(os.path.join(root, "graph_edges"))
    want = _duckdb(None, work_dir).execute(lifecycle.lifecycle_graph_sql()).df()
    bad = _frames_equal(graph, want, GRAPH_COLS, "lifecycle graph vs oracle")

    feed = os.path.join(root, "feed")
    shapes = pd.read_csv(os.path.join(feed, "shapes.txt"), dtype={"shape_id": str})
    aligned = _read_parquet_dir(os.path.join(root, "viterbi"))
    want_shapes = {"shp_" + t[5:] for t in aligned["trip_id"].unique()}
    if set(shapes["shape_id"]) != want_shapes:
        bad.append(f"gtfs: {shapes['shape_id'].nunique()} shapes for {len(want_shapes)} aligned trips")
    ordered = shapes.sort_values(["shape_id", "shape_pt_sequence"])
    if (ordered.groupby("shape_id")["shape_dist_traveled"].diff().dropna() < 0).any():
        bad.append("gtfs: shape_dist_traveled decreases within a shape")
    st = pd.read_csv(os.path.join(feed, "stop_times.txt"), dtype={"trip_id": str})
    got = set(zip(st["trip_id"], st["stop_sequence"].astype(np.int64)))
    want_st = {(f"trip_{d // C.TRIP_LEN}", d % C.TRIP_LEN) for d in doc_ids.tolist()}
    if len(st) != len(doc_ids) or got != want_st:
        bad.append(f"gtfs: {len(st)} stop_times rows for {len(doc_ids)} points")
    return bad
