"""Bounded iterative graph passes (reference trgraph/graph.cpp).

* G2 fix_gaps (``graph.cpp:212-268``): degree-1 node pairs within
  1 m merge (non-stations) — the higher id is rewritten onto the
  lowest id in reach.
* G4 delete_orphan_edges (``graph.cpp:335-363``): exactly 3 rounds of
  dangling-spur removal (degree-1 non-station endpoint) — round count
  mirrors the reference's fixed ``for (int i = 0; i < 3; ++i)``.
* G5 collapse_edges (``graph.cpp:105-148``): contract degree-2
  non-station nodes whose two edges are mergeable (same oneway/level),
  one layer per round until fixpoint or COLLAPSE_MAX_ROUNDS; with
  polylines, geometries concatenate (the reference's 4 orientation
  cases collapse to endpoint bookkeeping since geoms are endpoint
  pairs + length).
* G6 simplify_geometries (``graph.cpp:149-158``): Douglas-Peucker at
  0.5 m per edge polyline via an Arrow-batched UDF over vertex arrays.

G2/G4/G5 are pure numpy functions over flat column arrays
(:func:`fix_gaps_arrays`, :func:`orphan_keep`, :func:`collapse_arrays`).
Each repeats the round algebra of its unrolled DuckDB oracle
(``*_sql``) with the same float expressions, operand order and
tie-breaks, so the oracles stay bit-exact. The Spark entry points ship
their inputs into ONE pandas group (:func:`single_group`: a single
partition fed to one ``mapInPandas`` call) and call them there. The
road graph is geography-sized and never grows with the image table;
the router already collects it whole and broadcasts it
(``routing.edges_broadcast``). As relational loops, every round paid an
eager ``localCheckpoint`` plus an ``isEmpty`` probe, ~0.5 s of planning,
codegen and scheduling each, whatever the row count: the cold lifecycle
spent ~145 of its ~200 Spark jobs there, on 2k edges.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DataType, IntegralType, StringType, StructField,
    StructType,
)

from ..functions.geo import douglas_peucker

ORPHAN_ROUNDS = 3
COLLAPSE_MAX_ROUNDS = 8
GAP_DIST = 1.0
SIMPLIFY_EPS = 0.5

EDGE_COLS = ["edge_id", "src", "dst", "level", "oneway", "length"]

# A table on flat arrays: column name -> numpy array, one row per index.
Table = dict


def to_table(pdf: pd.DataFrame) -> Table:
    return {c: pdf[c].to_numpy() for c in pdf.columns}


def take(t: Table, idx) -> Table:
    return {k: v[idx] for k, v in t.items()}


def concat(*ts: Table) -> Table:
    return {k: np.concatenate([t[k] for t in ts]) for k in ts[0]}


def find(keys: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``q`` in the sorted unique ``keys``, and whether
    each is present there."""
    if not len(keys):
        return np.zeros(len(q), np.int64), np.zeros(len(q), bool)
    pos = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
    return pos, keys[pos] == q


def _degrees(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Endpoint degrees (ids, deg); a self-loop counts twice."""
    return np.unique(np.concatenate([src, dst]), return_counts=True)


# --------------------------------------------------------------------
# one pandas group for a whole (geography-sized) graph
# --------------------------------------------------------------------

_PART = "_part"


def _zero(t: DataType):
    if isinstance(t, ArrayType):
        return F.array().cast(t)
    return F.lit("" if isinstance(t, StringType) else 0).cast(t)


def _zeros(t: DataType, n: int):
    if isinstance(t, ArrayType):
        return pd.Series([[]] * n, dtype=object)
    if isinstance(t, StringType):
        return np.full(n, "", dtype=object)
    if isinstance(t, BooleanType):
        return np.zeros(n, bool)
    return np.zeros(n, np.int64 if isinstance(t, IntegralType) else np.float64)


def _union_fields(schemas) -> list[StructField]:
    fields: dict[str, StructField] = {}
    for s in schemas:
        for f in s.fields:
            fields.setdefault(f.name, f)
    return list(fields.values())


def single_group(
    frames: dict[str, DataFrame],
    fn: Callable[[dict[str, pd.DataFrame]], dict[str, pd.DataFrame]],
    out_schemas: dict[str, StructType | str],
    eager: bool = False,
) -> dict[str, DataFrame]:
    """Run ``fn`` once over all of ``frames`` as ONE group: a single
    partition fed to one ``mapInPandas`` call.

    ``fn`` gets ``{name: pandas frame of that input's own columns}`` and
    returns a pandas frame per name of ``out_schemas`` (StructTypes or
    DDL strings). Inputs and outputs each travel as one tagged union whose missing
    columns are zero-filled rather than null, so integer columns keep
    their dtype through Arrow. The returned frames are projections of
    one result, materialized once when ``eager``."""
    outs = {
        n: DataType.fromDDL(s) if isinstance(s, str) else s
        for n, s in out_schemas.items()
    }
    in_fields = _union_fields(df.schema for df in frames.values())
    out_fields = _union_fields(outs.values())
    own = {n: df.columns for n, df in frames.items()}

    def run(batches):
        batches = list(batches)
        if not batches:  # no rows at all: no group, as in a groupBy
            return
        pdf = pd.concat(batches, ignore_index=True)
        parts = {
            n: pdf.loc[pdf[_PART] == n, cols].reset_index(drop=True)
            for n, cols in own.items()
        }
        res = fn(parts)
        for n in outs:
            r, k = res[n], len(res[n])
            yield pd.DataFrame(
                {_PART: np.full(k, n, dtype=object)}
                | {f.name: (r[f.name].to_numpy() if f.name in r else _zeros(f.dataType, k))
                   for f in out_fields}
            )

    union = None
    for n, df in frames.items():
        have = set(df.columns)
        tagged = df.select(
            F.lit(n).alias(_PART),
            *[F.col(f.name) if f.name in have else _zero(f.dataType).alias(f.name)
              for f in in_fields],
        )
        union = tagged if union is None else union.union(tagged)
    # one partition holds the group: no shuffle, one task, one Python call
    out = union.coalesce(1).mapInPandas(
        run, StructType([StructField(_PART, StringType())] + out_fields)
    )
    if eager:
        out = out.localCheckpoint(eager=True)
    return {
        n: out.filter(F.col(_PART) == n).select(*s.fieldNames())
        for n, s in outs.items()
    }


# --------------------------------------------------------------------
# G4 orphan spurs
# --------------------------------------------------------------------

def orphan_keep(
    src: np.ndarray, dst: np.ndarray, station_ids: np.ndarray,
    rounds: int = ORPHAN_ROUNDS,
) -> np.ndarray:
    """G4 on flat arrays: the mask of edges that survive ``rounds``
    rounds of dropping every edge with a degree-1 non-station end."""
    keep = np.ones(len(src), bool)
    for _ in range(rounds):
        s, d = src[keep], dst[keep]
        ids, deg = _degrees(s, d)
        hang = ids[(deg == 1) & ~np.isin(ids, station_ids)]
        keep[keep] = ~(np.isin(s, hang) | np.isin(d, hang))
    return keep


def delete_orphan_edges(
    edges: DataFrame, station_node_ids: DataFrame, rounds: int = ORPHAN_ROUNDS
) -> DataFrame:
    """Drop spur edges whose degree-1 endpoint is not a station;
    repeat `rounds` times (reference fixed 3)."""

    def fn(p):
        keep = orphan_keep(
            p["edges"]["src"].to_numpy(), p["edges"]["dst"].to_numpy(),
            p["stations"]["node_id"].to_numpy(), rounds,
        )
        return {"edges": p["edges"][keep]}

    return single_group(
        {"edges": edges, "stations": station_node_ids.select("node_id")},
        fn, {"edges": edges.schema},
    )["edges"]


def delete_orphan_edges_sql(
    edges_cte: str, rounds: int = ORPHAN_ROUNDS, src_table: str = "edges"
) -> str:
    """Unrolled SQL mirror: `rounds` rounds of deg/spur CTEs."""
    sql = edges_cte + f",\ne0 AS (SELECT * FROM {src_table})"
    for r in range(rounds):
        sql += f""",
deg{r} AS (
  SELECT node_id, COUNT(*) AS deg FROM (
    SELECT src AS node_id FROM e{r} UNION ALL SELECT dst FROM e{r}
  ) GROUP BY node_id
),
hang{r} AS (
  SELECT d.node_id FROM deg{r} d
  LEFT JOIN (SELECT node_id FROM nodes WHERE is_station) s USING (node_id)
  WHERE d.deg = 1 AND s.node_id IS NULL
),
e{r + 1} AS MATERIALIZED (
  SELECT e.* FROM e{r} e
  WHERE e.src NOT IN (SELECT node_id FROM hang{r})
    AND e.dst NOT IN (SELECT node_id FROM hang{r})
)"""
    return sql + f"\nSELECT edge_id, src, dst, level, oneway, length FROM e{rounds}\n"


# --------------------------------------------------------------------
# G2 gap fixing
# --------------------------------------------------------------------

def fix_gaps_arrays(
    node_id: np.ndarray, x: np.ndarray, y: np.ndarray, is_station: np.ndarray,
    src: np.ndarray, dst: np.ndarray, max_dist: float = GAP_DIST,
) -> tuple[np.ndarray, np.ndarray]:
    """G2 on flat arrays: returns (src, dst) with every non-station
    degree-1 node that lies within ``max_dist`` of another one rewritten
    onto the smallest such id (ids only; one hop, not transitive)."""
    ids, deg = _degrees(src, dst)
    d1 = np.isin(node_id, ids[deg == 1]) & ~is_station
    o = np.argsort(x[d1], kind="stable")
    nid, nx, ny = node_id[d1][o], x[d1][o], y[d1][o]
    # x-sorted sweep: every partner within max_dist lies inside the
    # (generous) 2*max_dist x-window after it
    n = len(nid)
    cnt = np.searchsorted(nx, nx + 2 * max_dist, side="right") - np.arange(n) - 1
    i = np.repeat(np.arange(n), cnt)
    j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    close = (
        (nx[i] - nx[j]) * (nx[i] - nx[j]) + (ny[i] - ny[j]) * (ny[i] - ny[j])
        <= max_dist * max_dist
    )
    a, b = nid[i][close], nid[j][close]
    to_id, from_id = np.minimum(a, b), np.maximum(a, b)
    o = np.lexsort((to_id, from_id))
    from_id, to_id = from_id[o], to_id[o]
    first = np.ones(len(from_id), bool)
    first[1:] = from_id[1:] != from_id[:-1]
    from_id, to_id = from_id[first], to_id[first]

    def remap(col):
        if not len(from_id):
            return col
        pos, hit = find(from_id, col)
        return np.where(hit, to_id[pos], col)

    return remap(src), remap(dst)


def fix_gaps(nodes: DataFrame, edges: DataFrame, max_dist: float = GAP_DIST) -> DataFrame:
    """G2: merge non-station degree-1 nodes within `max_dist`: rewrite
    the higher node id onto the lower in the edge list.

    Returns the edges with remapped endpoints."""

    def fn(p):
        nd, e = p["nodes"], p["edges"].copy()
        e["src"], e["dst"] = fix_gaps_arrays(
            nd["node_id"].to_numpy(), nd["x"].to_numpy(), nd["y"].to_numpy(),
            nd["is_station"].to_numpy(bool), e["src"].to_numpy(), e["dst"].to_numpy(),
            max_dist,
        )
        return {"edges": e}

    return single_group(
        {"nodes": nodes.select("node_id", "x", "y", "is_station"), "edges": edges},
        fn, {"edges": edges.schema},
    )["edges"]


# --------------------------------------------------------------------
# G5 chain collapse
# --------------------------------------------------------------------

def _joined_polylines(a: np.ndarray, a_flip: np.ndarray, b: np.ndarray, b_flip: np.ndarray):
    out = np.empty(len(a), dtype=object)
    for k in range(len(a)):
        pa = a[k][::-1] if a_flip[k] else a[k]
        pb = b[k][::-1] if b_flip[k] else b[k]
        out[k] = np.concatenate([pa, pb[1:]])  # drop the shared via point
    return out


def collapse_arrays(
    t: Table, station_ids: np.ndarray, rounds: int = COLLAPSE_MAX_ROUNDS
) -> Table:
    """G5 on flat arrays (columns ``EDGE_COLS``, plus ``xs``/``ys``
    polylines oriented src->dst when present).

    Per round: the non-station degree-2 nodes (mids); the two edge ends
    at each mid, a = smaller edge_id, b = larger; a mid merges iff
    e1 != e2 (a self-loop), the levels and oneways agree, and a.other !=
    b.other (parallel edges would make a self-loop); a merging mid waits
    a round if a merging neighbour has a smaller id (the race guard).
    The merged edge keeps e1, runs a.other -> b.other, takes a's
    level/oneway and the length a.length + b.length. Polylines follow
    the reference's 4 orientation cases (graph.cpp:290-334): side a is
    reversed iff it starts at mid, side b iff it does not, and b's
    shared via point is dropped. Stops early at the fixpoint."""
    geo = "xs" in t
    for _ in range(rounds):
        src, dst, eid = t["src"], t["dst"], t["edge_id"]
        ids, deg = _degrees(src, dst)
        mids = ids[(deg == 2) & ~np.isin(ids, station_ids)]
        # incidence: one row per edge end at a mid — exactly two per mid
        # (both of the same edge for a self-loop, which e1 != e2 rejects)
        end = np.concatenate([src, dst])
        row = np.concatenate([np.arange(len(src))] * 2)
        at = np.isin(end, mids)
        end, row = end[at], row[at]
        o = np.lexsort((eid[row], end))
        mid = end[o][0::2]
        ra, rb = row[o][0::2], row[o][1::2]
        a_other = np.where(src[ra] == mid, dst[ra], src[ra])
        b_other = np.where(src[rb] == mid, dst[rb], src[rb])
        merg = (
            (eid[ra] != eid[rb])
            & (t["level"][ra] == t["level"][rb])
            & (t["oneway"][ra] == t["oneway"][rb])
            & (a_other != b_other)
        )
        m_ids = mid[merg]
        race = (np.isin(a_other, m_ids) & (a_other < mid)) | (
            np.isin(b_other, m_ids) & (b_other < mid)
        )
        safe = merg & ~race
        if not safe.any():
            break
        ra, rb, mid = ra[safe], rb[safe], mid[safe]
        merged = {
            "edge_id": eid[ra],
            "src": a_other[safe],
            "dst": b_other[safe],
            "level": t["level"][ra],
            "oneway": t["oneway"][ra],
            "length": t["length"][ra] + t["length"][rb],
        }
        if geo:
            a_flip, b_flip = src[ra] == mid, src[rb] != mid
            for c in ("xs", "ys"):
                merged[c] = _joined_polylines(t[c][ra], a_flip, t[c][rb], b_flip)
        dead = np.isin(eid, np.concatenate([eid[ra], eid[rb]]))
        t = concat(take(t, ~dead), merged)
    return t


def collapse_edges(
    edges: DataFrame,
    station_node_ids: DataFrame,
    geoms: DataFrame | None = None,
) -> DataFrame:
    """G5: contract chains through degree-2 non-station nodes whose two
    incident edges agree on (level, oneway); see :func:`collapse_arrays`.

    With ``geoms`` (edge_id, xs, ys polylines oriented src->dst), merged
    edges also CONCATENATE their polylines; edges without a polyline
    are dropped (an inner join on edge_id)."""
    with_geoms = geoms is not None  # fn must not capture a DataFrame
    frames = {
        "edges": edges.select(*EDGE_COLS),
        "stations": station_node_ids.select("node_id"),
    }
    schema = frames["edges"].schema
    if with_geoms:
        frames["geoms"] = geoms.select("edge_id", "xs", "ys")
        schema = StructType(schema.fields + frames["geoms"].schema.fields[1:])

    def fn(p):
        t = to_table(p["edges"])
        if with_geoms:
            g = p["geoms"].sort_values("edge_id")
            pos, hit = find(g["edge_id"].to_numpy(), t["edge_id"])
            t = take(t, hit) | {c: g[c].to_numpy()[pos[hit]] for c in ("xs", "ys")}
        out = collapse_arrays(t, p["stations"]["node_id"].to_numpy())
        return {"edges": pd.DataFrame(out)}

    return single_group(frames, fn, {"edges": schema})["edges"]


def simplify_geometries(edge_geoms: DataFrame, eps: float = SIMPLIFY_EPS) -> DataFrame:
    """G6: Douglas-Peucker(0.5 m) per edge polyline.

    Input: (edge_id, xs: array<double>, ys: array<double>); output adds
    simplified arrays + point counts. Arrow-batched; per-edge numpy."""

    def gen(batches):
        for pdf in batches:
            out_xs, out_ys = [], []
            for xs, ys in zip(pdf["xs"], pdf["ys"]):
                xs = np.asarray(xs, dtype=float)
                ys = np.asarray(ys, dtype=float)
                keep = douglas_peucker(xs, ys, eps)
                out_xs.append(xs[keep].tolist())
                out_ys.append(ys[keep].tolist())
            yield pd.DataFrame(
                {
                    "edge_id": pdf["edge_id"],
                    "n_in": [len(x) for x in pdf["xs"]],
                    "xs": out_xs,
                    "ys": out_ys,
                    "n_out": [len(x) for x in out_xs],
                }
            )

    return edge_geoms.mapInPandas(
        gen,
        schema="edge_id long, n_in int, xs array<double>, ys array<double>, n_out int",
    )


def zigzag_geoms(edges: DataFrame, step: float = 256.0) -> DataFrame:
    """Deterministic dense polylines for the simplify pass: each edge
    densified every `step` m with a small deterministic perpendicular
    zigzag (sub-eps, so DP must remove exactly the interior points
    whose offset < eps and keep the larger kinks)."""
    n_seg = F.greatest((F.col("length") / step).cast("int"), F.lit(1))
    idx = F.sequence(F.lit(0), n_seg)
    t = F.transform(idx, lambda i: i.cast("double") / n_seg.cast("double"))
    # offset pattern: ((edge_id + i) % 5 - 2) * 0.3  -> within +-0.6 m
    off = F.transform(idx, lambda i: ((F.col("edge_id") + i) % 5 - 2).cast("double") * 0.3)
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    ln = F.sqrt(dx * dx + dy * dy)
    return edges.select(
        "edge_id",
        F.zip_with(
            t, off, lambda ti, oi: F.col("x1") + ti * dx - oi * dy / ln
        ).alias("xs"),
        F.zip_with(
            t, off, lambda ti, oi: F.col("y1") + ti * dy + oi * dx / ln
        ).alias("ys"),
    )


def collapse_edges_sql(
    edges_cte: str,
    src_table: str = "edges",
    orphan_rounds: int = ORPHAN_ROUNDS,
    rounds: int = COLLAPSE_MAX_ROUNDS,
    with_geoms: bool = False,
    step: float = 256.0,
    station_src: str = "(SELECT node_id FROM nodes WHERE is_station)",
    final_select: bool = True,
) -> str:
    """Unrolled SQL mirror of delete_orphan_edges + collapse_edges.

    Each collapse round replays the engine's exact algebra: endpoint
    degrees, non-station degree-2 mids, explode+equi-join incidence
    (self-loops yield e1==e2 and fail the merge guard, as in the
    engine), ARG_MIN/ARG_MAX by edge_id for the deterministic edge
    pair, the race guard (neither neighbor a smaller-id mid), then
    tombstone + append.  Rounds past the fixpoint are no-ops, so the
    fixed unroll equals the engine's early-exit loop.  Merged lengths
    add in the same pairing order every round, so doubles stay
    bit-identical."""
    sql = edges_cte + f",\ne0 AS (SELECT * FROM {src_table})"
    for r in range(orphan_rounds):
        sql += f""",
deg{r} AS (
  SELECT node_id, COUNT(*) AS deg FROM (
    SELECT src AS node_id FROM e{r} UNION ALL SELECT dst FROM e{r}
  ) GROUP BY node_id
),
hang{r} AS (
  SELECT d.node_id FROM deg{r} d
  LEFT JOIN {station_src} s USING (node_id)
  WHERE d.deg = 1 AND s.node_id IS NULL
),
e{r + 1} AS MATERIALIZED (
  SELECT e.* FROM e{r} e
  WHERE e.src NOT IN (SELECT node_id FROM hang{r})
    AND e.dst NOT IN (SELECT node_id FROM hang{r})
)"""
    gsel = ", xs, ys" if with_geoms else ""
    if with_geoms:
        # zigzag polyline twin (zigzag_geoms): n_seg points every `step`
        # meters with the deterministic sub-eps perpendicular offset
        zz = f"""
zz AS (
  SELECT edge_id,
         LIST_TRANSFORM(RANGE(0, GREATEST(CAST(FLOOR(length/{step}) AS INT), 1) + 1),
           i -> x1 + (CAST(i AS DOUBLE)/GREATEST(CAST(FLOOR(length/{step}) AS INT), 1)) * (x2-x1)
                - (CAST((edge_id + i) %% 5 - 2 AS DOUBLE) * 0.3) * (y2-y1)
                  / SQRT((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS xs,
         LIST_TRANSFORM(RANGE(0, GREATEST(CAST(FLOOR(length/{step}) AS INT), 1) + 1),
           i -> y1 + (CAST(i AS DOUBLE)/GREATEST(CAST(FLOOR(length/{step}) AS INT), 1)) * (y2-y1)
                + (CAST((edge_id + i) %% 5 - 2 AS DOUBLE) * 0.3) * (x2-x1)
                  / SQRT((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS ys
  FROM e{orphan_rounds}
)""".replace("%%", "%")
        sql += "," + zz + f""",
c0 AS MATERIALIZED (
  SELECT e.edge_id, e.src, e.dst, e.level, e.oneway, e.length, z.xs, z.ys
  FROM e{orphan_rounds} e JOIN zz z USING (edge_id))"""
    else:
        sql += f""",
c0 AS MATERIALIZED (SELECT edge_id, src, dst, level, oneway, length FROM e{orphan_rounds})"""
    gagg = ""
    gmerge = ""
    if with_geoms:
        gagg = (
            ",\n         ARG_MIN(src, edge_id) AS a_src, ARG_MAX(src, edge_id) AS b_src"
            ",\n         ARG_MIN(xs, edge_id) AS a_xs, ARG_MAX(xs, edge_id) AS b_xs"
            ",\n         ARG_MIN(ys, edge_id) AS a_ys, ARG_MAX(ys, edge_id) AS b_ys"
        )
        # orientation cases (graph.cpp:290-334): side a must END at mid,
        # side b must START at mid; drop b's shared via point
        _a = lambda c: f"CASE WHEN a_src <> mid THEN a_{c} ELSE LIST_REVERSE(a_{c}) END"
        _b = lambda c: (
            f"LIST_SLICE(CASE WHEN b_src = mid THEN b_{c} ELSE LIST_REVERSE(b_{c}) END,"
            f" 2, 1000000)"
        )
        gmerge = f",\n         {_a('xs')} || {_b('xs')}, {_a('ys')} || {_b('ys')}"
    for r in range(rounds):
        sql += f""",
cdeg{r} AS (
  SELECT node_id, COUNT(*) AS deg FROM (
    SELECT src AS node_id FROM c{r} UNION ALL SELECT dst FROM c{r}
  ) GROUP BY node_id
),
cmid{r} AS (
  SELECT d.node_id AS mid FROM cdeg{r} d
  LEFT JOIN {station_src} s USING (node_id)
  WHERE d.deg = 2 AND s.node_id IS NULL
),
cinc{r} AS MATERIALIZED (
  SELECT m.mid, e.edge_id, e.src, e.dst, e.level, e.oneway, e.length{gsel},
         CASE WHEN e.src = m.mid THEN e.dst ELSE e.src END AS other
  FROM (SELECT edge_id, src, dst, level, oneway, length{gsel}, src AS end_pt FROM c{r}
        UNION ALL
        SELECT edge_id, src, dst, level, oneway, length{gsel}, dst AS end_pt FROM c{r}) e
  JOIN cmid{r} m ON e.end_pt = m.mid
),
cg{r} AS MATERIALIZED (
  SELECT mid, COUNT(*) AS n, MIN(edge_id) AS e1, MAX(edge_id) AS e2,
         ARG_MIN(other, edge_id) AS a_other, ARG_MAX(other, edge_id) AS b_other,
         ARG_MIN(level, edge_id) AS a_level, ARG_MAX(level, edge_id) AS b_level,
         ARG_MIN(oneway, edge_id) AS a_oneway, ARG_MAX(oneway, edge_id) AS b_oneway,
         ARG_MIN(length, edge_id) AS a_length, ARG_MAX(length, edge_id) AS b_length{gagg}
  FROM cinc{r} GROUP BY mid
),
csafe{r} AS MATERIALIZED (
  SELECT m.* FROM (
    SELECT * FROM cg{r}
    WHERE n = 2 AND e1 <> e2 AND a_level = b_level AND a_oneway = b_oneway
      AND a_other <> b_other
  ) m
  WHERE NOT EXISTS (
    SELECT 1 FROM (
      SELECT mid FROM cg{r}
      WHERE n = 2 AND e1 <> e2 AND a_level = b_level AND a_oneway = b_oneway
        AND a_other <> b_other
    ) x WHERE (x.mid = m.a_other OR x.mid = m.b_other) AND x.mid < m.mid)
),
c{r + 1} AS MATERIALIZED (
  SELECT e.edge_id, e.src, e.dst, e.level, e.oneway, e.length{gsel}
  FROM c{r} e
  WHERE NOT EXISTS (SELECT 1 FROM csafe{r} s
                    WHERE s.e1 = e.edge_id OR s.e2 = e.edge_id)
  UNION ALL
  SELECT e1, a_other, b_other, a_level, a_oneway, a_length + b_length{gmerge}
  FROM csafe{r}
)"""
    if not final_select:
        return sql  # composable: caller appends CTEs reading c{rounds}
    if with_geoms:
        return sql + f"""
SELECT edge_id, src, dst, level, oneway, length,
       UNNEST(RANGE(LEN(xs))) AS pt_seq, UNNEST(xs) AS x, UNNEST(ys) AS y
FROM c{rounds}
"""
    return sql + f"\nSELECT edge_id, src, dst, level, oneway, length FROM c{rounds}\n"
