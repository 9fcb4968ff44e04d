"""J6/J7 — station snapping: GTFS stop -> matching OSM station node.

Reference: ``trgraph/node_grid.cpp:22-73`` (grid range query +
name-similarity filter + argmin distance) and the snap loop
``osm_builder.cpp:1649-1785`` (escalating radii). The name comparison
runs both names through the order-sensitive regex normalizer chain
(``trgraph/normalizer.cpp:50-96``) and then ``statSimi``
(``include/pfaedle/router/comp.h:18-60``: exact => 1).

Spark plan (J6): same cell-id equi-join as J5, names normalized with
chained ``regexp_replace`` columns (JVM-side), exact-match similarity,
then ``row_number`` argmin with (dist, node_id) tie-break. No UDFs.

J7 (snap with edge splitting) is a graph pass: :func:`snap_split_arrays`
runs its escalating-radius rounds in numpy over flat arrays, inside the
one pandas group that holds the whole graph
(``graph_passes.single_group``), with the float expressions of its
round-unrolled DuckDB oracle. As relational rounds, each paid an eager
``localCheckpoint`` and two window shuffles for ~2k edges. The snap set
is a few hundred stops and the graph is geography-sized, so the
stop x edge pairs are enumerated directly (bbox-prefiltered, in stop
chunks) instead of through a cell join.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import constants as C
from .. import sqlgen
from . import cells
from .graph_passes import Table, concat, single_group, take, to_table

# Order-sensitive normalizer chain (reference normalizer.cpp semantics,
# rules modeled on pfaedle.cfg:8-215): lowercase, strip punctuation,
# collapse whitespace, trim. MUST be applied sequentially.
NORM_RULES = [
    (r"[.,;:!?']", ""),
    (r"\s+", " "),
]


def normalize_name(col: Column) -> Column:
    out = F.lower(col)
    for pat, rep in NORM_RULES:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def normalize_name_sql(expr: str) -> str:
    """DuckDB mirror — regexp_replace needs the explicit 'g' flag there."""
    out = f"LOWER({expr})"
    for pat, rep in NORM_RULES:
        p, r = pat.replace("'", "''"), rep.replace("'", "''")
        out = f"REGEXP_REPLACE({out}, '{p}', '{r}', 'g')"
    return f"TRIM({out})"


def snap_stations(
    stops: DataFrame,
    station_nodes: DataFrame,
    radius: float = C.STATION_RADIUS,
) -> DataFrame:
    """Best station node per stop: within `radius`, normalized-name
    equality, argmin (dist, node_id).

    Output: (stop_id, node_id, dist, component).
    At scale the node side is small after the station filter — Catalyst
    broadcasts it; the cell join prunes the cross product first.
    """
    sc = cells.point_cells(stops.select("stop_id", "stop_name", "x", "y"), radius)
    nc = cells.point_cells(
        station_nodes.select(
            F.col("node_id"),
            F.col("name"),
            F.col("x").alias("nx"),
            F.col("y").alias("ny"),
            F.col("component"),
        ).withColumnRenamed("nx", "x").withColumnRenamed("ny", "y"),
        0.0,
    ).select("cell_id", "node_id", "name", F.col("x").alias("nx"), F.col("y").alias("ny"), "component")

    j = sc.join(nc, "cell_id").dropDuplicates(["stop_id", "node_id"])
    j = j.withColumn(
        "dist",
        F.sqrt(
            (F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
            + (F.col("y") - F.col("ny")) * (F.col("y") - F.col("ny"))
        ),
    ).filter(F.col("dist") <= radius)
    j = j.filter(normalize_name(F.col("stop_name")) == normalize_name(F.col("name")))
    w = Window.partitionBy("stop_id").orderBy(F.col("dist").asc(), F.col("node_id").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter("rank = 1")
        .select("stop_id", "node_id", "dist", "component")
    )


# --------------------------------------------------------------------
# J7 — station snapping WITH edge splitting (escalating radii)
# --------------------------------------------------------------------
#
# Reference ``osm_builder::snap_station`` (osm_builder.cpp:1363-1506):
# project the stop onto its best candidate edge; reuse an endpoint when
# the projection lands within ~2 m of it, otherwise SPLIT the edge at
# the projection and insert a new station node. Driver loop
# ``snap_stations`` (:1649-1785) escalates the search radius
# (pfaedle.cfg:354). The reference mutates the grid in place; here each
# round is an immutable generation of the flat edge arrays: round k
# consumes round k-1's edge set, split edges are dropped and their two
# halves appended (SURVEY §7 risk 2 / Stage 3 design).

SPLIT_RADII = [25.0, 100.0, 200.0]
SPLIT_EPS = 2.0           # endpoint-promotion distance (osm_builder.cpp:1413)
PROJ_NODE_OFF = 2_000_000  # new projection-node ids: OFF + stop number
SPLIT_EDGE_OFF = 4_000_000  # split-half edge ids: OFF + stopnum*2 (+1)

_STOPNUM = "CAST(REGEXP_EXTRACT(stop_id, '([0-9]+)', 1) AS BIGINT)"

# projection onto the best edge, as the DuckDB oracle computes it;
# project_arrays repeats it operand for operand, so values are bit-identical
_DX, _DY = "(x2 - x1)", "(y2 - y1)"
_LEN2 = f"({_DX}*{_DX} + {_DY}*{_DY})"
_T_RAW = f"(((x - x1)*{_DX} + (y - y1)*{_DY}) / {_LEN2})"
_T = f"(CASE WHEN {_LEN2} <= 0 THEN 0.0 ELSE LEAST(1.0, GREATEST(0.0, {_T_RAW})) END)"
_QX = f"(x1 + {_T} * {_DX})"
_QY = f"(y1 + {_T} * {_DY})"
_DPOS = f"({_T} * length)"

_KIND = (
    f"CASE WHEN {_DPOS} <= {{eps}} THEN 'src' "
    f"WHEN length - {_DPOS} <= {{eps}} THEN 'dst' "
    f"ELSE 'split' END"
)
_NODE_ID = (
    f"CASE WHEN {_DPOS} <= {{eps}} THEN src "
    f"WHEN length - {_DPOS} <= {{eps}} THEN dst "
    f"ELSE {PROJ_NODE_OFF} + stopnum END"
)


SPLIT_EDGE_COLS = [
    "edge_id", "src", "dst", "x1", "y1", "x2", "y2", "level", "oneway", "length"
]
SNAPS_SCHEMA = (
    "stop_id string, node_id long, kind string, round int, dist double, "
    "qx double, qy double, split_edge long"
)


def stop_numbers(stop_id: np.ndarray) -> np.ndarray:
    """``_STOPNUM`` on flat arrays: the first digit run of each stop id."""
    out = np.empty(len(stop_id), np.int64)
    for k, s in enumerate(stop_id):
        m = re.search(r"[0-9]+", s)
        if m is None:
            raise ValueError(f"stop id {s!r} carries no stop number")
        out[k] = int(m.group(0))
    return out


def project_arrays(px, py, x1, y1, x2, y2):
    """``_T``/``_QX``/``_QY`` and ``sqlgen.dist_to_segment`` on flat
    arrays, operand for operand: returns (t, qx, qy, dist)."""
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t_raw = ((px - x1) * dx + (py - y1) * dy) / len2
    t = np.where(len2 <= 0, 0.0, np.minimum(1.0, np.maximum(0.0, t_raw)))
    qx, qy = x1 + t * dx, y1 + t * dy
    return t, qx, qy, np.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))


def _pairs_within(px, py, e, r: float) -> tuple[np.ndarray, np.ndarray]:
    """(stop, edge) index pairs whose bboxes come within ``r`` (+1 m of
    slack) — a superset of the pairs within ``r``; stop chunks bound
    the mask at ~4M cells."""
    lox, hix = np.minimum(e["x1"], e["x2"]) - r - 1.0, np.maximum(e["x1"], e["x2"]) + r + 1.0
    loy, hiy = np.minimum(e["y1"], e["y2"]) - r - 1.0, np.maximum(e["y1"], e["y2"]) + r + 1.0
    step = max(1, (1 << 22) // max(len(lox), 1))
    si, ei = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for c in range(0, len(px), step):
        cx, cy = px[c:c + step, None], py[c:c + step, None]
        i, j = np.nonzero((cx >= lox) & (cx <= hix) & (cy >= loy) & (cy <= hiy))
        si.append(i + c)
        ei.append(j)
    return np.concatenate(si), np.concatenate(ei)


def _first_per(key: np.ndarray, *order: np.ndarray) -> np.ndarray:
    """Index of the first row per ``key`` under the ascending ``order``
    keys (the ``row_number() = 1`` of a window)."""
    o = np.lexsort(tuple(reversed(order)) + (key,))
    first = np.ones(len(o), bool)
    first[1:] = key[o][1:] != key[o][:-1]
    return o[first]


def snap_split_arrays(
    stops: Table, edges: Table, radii: list[float] | None = None,
    eps: float = SPLIT_EPS,
) -> tuple[Table, Table]:
    """J7 on flat arrays: ``stops`` (stop_id, x, y), ``edges``
    (``SPLIT_EDGE_COLS``) -> (snaps as in ``SNAPS_SCHEMA``, post-split
    edges).

    Per round: every (stop, edge) pair within the radius; the best edge
    per stop (argmin dist, edge_id); ONE winner stop per edge (argmin
    dist, stop_id — the race-safe stand-in for the reference's
    sequential in-place mutation; losers retry next round against the
    updated edge set); endpoint promotion within ``eps``, else a split
    into ``t * length`` and ``(1.0 - t) * length`` halves."""
    radii = radii or SPLIT_RADII
    sid = np.asarray(stops["stop_id"], dtype=object)
    # stop_id order as Spark sorts strings (code point = UTF-8 byte order)
    srank = np.empty(len(sid), np.int64)
    srank[np.argsort(sid.astype(str), kind="stable")] = np.arange(len(sid))
    snum, sx, sy = stop_numbers(sid), stops["x"], stops["y"]
    live = np.arange(len(sid))
    e = {c: edges[c] for c in SPLIT_EDGE_COLS}
    parts = []
    for rnd, r in enumerate(radii, start=1):
        si, ei = _pairs_within(sx[live], sy[live], e, r)
        si = live[si]
        t, qx, qy, dist = project_arrays(
            sx[si], sy[si], e["x1"][ei], e["y1"][ei], e["x2"][ei], e["y2"][ei]
        )
        ok = dist <= r
        si, ei, t, qx, qy, dist = si[ok], ei[ok], t[ok], qx[ok], qy[ok], dist[ok]
        b = _first_per(si, dist, e["edge_id"][ei])
        w = b[_first_per(e["edge_id"][ei[b]], dist[b], srank[si[b]])]
        si, ei, t, qx, qy, dist = si[w], ei[w], t[w], qx[w], qy[w], dist[w]
        length = e["length"][ei]
        dpos = t * length
        at_src, at_dst = dpos <= eps, length - dpos <= eps
        split = ~at_src & ~at_dst
        node = np.where(
            at_src, e["src"][ei],
            np.where(at_dst, e["dst"][ei], PROJ_NODE_OFF + snum[si]),
        )
        parts.append({
            "stop_id": sid[si],
            "node_id": node,
            "kind": np.where(at_src, "src", np.where(at_dst, "dst", "split")).astype(object),
            "round": np.full(len(si), rnd, np.int32),
            "dist": dist,
            "qx": qx,
            "qy": qy,
            "split_edge": e["edge_id"][ei],
        })
        k, n, ts, sqx, sqy = ei[split], node[split], t[split], qx[split], qy[split]
        half_id = SPLIT_EDGE_OFF + snum[si[split]] * 2
        carry = {"level": e["level"][k], "oneway": e["oneway"][k]}
        half1 = {
            "edge_id": half_id, "src": e["src"][k], "dst": n,
            "x1": e["x1"][k], "y1": e["y1"][k], "x2": sqx, "y2": sqy,
            **carry, "length": ts * e["length"][k],
        }
        half2 = {
            "edge_id": half_id + 1, "src": n, "dst": e["dst"][k],
            "x1": sqx, "y1": sqy, "x2": e["x2"][k], "y2": e["y2"][k],
            **carry, "length": (1.0 - ts) * e["length"][k],
        }
        keep = np.ones(len(e["edge_id"]), bool)
        keep[k] = False
        e = concat(take(e, keep), half1, half2)
        live = live[~np.isin(live, si)]
    return concat(*parts), e


def snap_with_splits(
    stops: DataFrame,
    edges: DataFrame,
    radii: list[float] | None = None,
    eps: float = SPLIT_EPS,
    return_edges: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Escalating-radius snap with edge splitting
    (:func:`snap_split_arrays`, in one pandas group).

    Output: (stop_id, node_id, kind, round, dist, qx, qy, split_edge);
    with ``return_edges`` also the post-split edge set, and the one
    kernel run behind both is materialized once.
    """
    e_in = edges.select(*SPLIT_EDGE_COLS)

    def fn(p):
        snaps, e = snap_split_arrays(
            to_table(p["stops"]), to_table(p["edges"]), radii, eps
        )
        return {"snaps": pd.DataFrame(snaps), "edges": pd.DataFrame(e)}

    out = single_group(
        {"stops": stops.select("stop_id", "x", "y"), "edges": e_in},
        fn, {"snaps": SNAPS_SCHEMA, "edges": e_in.schema}, eager=return_edges,
    )
    if return_edges:
        # the post-split edge set — the composed lifecycle feeds it to
        # collapse/routing so split edges become routing states (the
        # reference's in-place graph mutation, osm_builder.cpp:1363-1506)
        return out["snaps"], out["edges"]
    return out["snaps"]


def _cell_join_sql(stop_src: str, edge_src: str, radius: float) -> str:
    """stop x edge candidate pairs via the padded-cell equi-join (same
    offs-VALUES pattern as candidates_cte_sql)."""
    import math

    def offs(n: int) -> str:
        return "(VALUES " + ",".join(f"({i})" for i in range(n + 1)) + ")"

    n_pt = math.ceil(2 * radius / C.CELL) + 1
    n_ed = math.ceil(C.GRID_SPACING / C.CELL) + 1
    dist = sqlgen.dist_to_segment("s.x", "s.y", "e.x1", "e.y1", "e.x2", "e.y2")
    return f"""
  SELECT DISTINCT s.stop_id, s.stopnum, s.x, s.y,
         e.edge_id, e.src, e.dst, e.x1, e.y1, e.x2, e.y2,
         e.level, e.oneway, e.length,
         {dist} AS dist
  FROM (
    SELECT s.*,
           (CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
           + CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o AS cell_id
    FROM {stop_src} s, {offs(n_pt)} ox(o), {offs(n_pt)} oy(o)
    WHERE CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o
            <= CAST(FLOOR((s.x + {radius})/{C.CELL}) AS BIGINT)
      AND CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o
            <= CAST(FLOOR((s.y + {radius})/{C.CELL}) AS BIGINT)
  ) s
  JOIN (
    SELECT e.*,
           (CAST(FLOOR(LEAST(e.x1,e.x2)/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
           + CAST(FLOOR(LEAST(e.y1,e.y2)/{C.CELL}) AS BIGINT) + oy.o AS cell_id
    FROM {edge_src} e, {offs(n_ed)} ox(o), {offs(n_ed)} oy(o)
    WHERE CAST(FLOOR(LEAST(e.x1,e.x2)/{C.CELL}) AS BIGINT) + ox.o
            <= CAST(FLOOR(GREATEST(e.x1,e.x2)/{C.CELL}) AS BIGINT)
      AND CAST(FLOOR(LEAST(e.y1,e.y2)/{C.CELL}) AS BIGINT) + oy.o
            <= CAST(FLOOR(GREATEST(e.y1,e.y2)/{C.CELL}) AS BIGINT)
  ) e USING (cell_id)
  WHERE {dist} <= {radius}"""


def snap_with_splits_sql(
    radii: list[float] | None = None, eps: float = SPLIT_EPS
) -> str:
    """Round-unrolled DuckDB oracle for :func:`snap_with_splits`."""
    radii = radii or SPLIT_RADII
    parts = [
        sqlgen.with_ctes("stations", "edges"),
        snap_splits_ctes(radii=radii, eps=eps),
    ]
    sel = "\nUNION ALL\n".join(
        f"SELECT stop_id, node_id, kind, round, dist, qx, qy, edge_id AS split_edge FROM snap{k}"
        for k in range(1, len(radii) + 1)
    )
    parts.append("\n" + sel + "\n")
    return "".join(parts)


def snap_splits_ctes(
    radii: list[float] | None = None,
    eps: float = SPLIT_EPS,
    edge_src: str = "edges",
    stop_src: str = "stations",
) -> str:
    """The snap rounds as composable CTEs: emits ``snap1..snapK`` (one
    per round) and ``edges0..edgesK`` — ``edges<K>`` is the post-split
    edge set downstream oracles (collapse, routing) build on."""
    radii = radii or SPLIT_RADII
    # projection exprs over the snap-row column names (x, y, x1..y2)
    t, qx, qy = _T, _QX, _QY
    kind = _KIND.format(eps=eps)
    node_id = _NODE_ID.format(eps=eps)
    parts = [f""",
edges0 AS (
  SELECT edge_id, src, dst, x1, y1, x2, y2, level, oneway, length
  FROM {edge_src}
),
stops0 AS (
  SELECT stop_id, {_STOPNUM} AS stopnum, x, y FROM {stop_src}
)"""]
    for k, r in enumerate(radii, start=1):
        parts.append(f""",
cand{k} AS ({_cell_join_sql(f'stops{k - 1}', f'edges{k - 1}', r)}
),
best{k} AS (
  SELECT * FROM cand{k}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY stop_id ORDER BY dist ASC, edge_id ASC) = 1
),
win{k} AS (
  SELECT * FROM best{k}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY edge_id ORDER BY dist ASC, stop_id ASC) = 1
),
snap{k} AS MATERIALIZED (
  SELECT stop_id, stopnum, dist, edge_id, src, dst, x1, y1, x2, y2,
         level, oneway, length,
         {t} AS t, {qx} AS qx, {qy} AS qy,
         {kind} AS kind, {node_id} AS node_id,
         {k} AS round
  FROM win{k}
),
edges{k} AS MATERIALIZED (
  SELECT * FROM edges{k - 1}
  WHERE edge_id NOT IN (SELECT edge_id FROM snap{k} WHERE kind = 'split')
  UNION ALL
  SELECT {SPLIT_EDGE_OFF} + stopnum * 2, src, node_id, x1, y1, qx, qy,
         level, oneway, t * length
  FROM snap{k} WHERE kind = 'split'
  UNION ALL
  SELECT {SPLIT_EDGE_OFF} + stopnum * 2 + 1, node_id, dst, qx, qy, x2, y2,
         level, oneway, (1.0 - t) * length
  FROM snap{k} WHERE kind = 'split'
),
stops{k} AS MATERIALIZED (
  SELECT * FROM stops{k - 1}
  WHERE stop_id NOT IN (SELECT stop_id FROM snap{k})
)""")
    snaps_all = "\nUNION ALL\n".join(
        f"SELECT stop_id, stopnum, node_id, kind, round, dist, qx, qy, edge_id AS split_edge FROM snap{k}"
        for k in range(1, len(radii) + 1)
    )
    parts.append(f""",
snaps_all AS MATERIALIZED (
{snaps_all}
)""")
    return "".join(parts)


def _snap_ctes(radius: float, base_tables: tuple = ("stations", "station_nodes")) -> str:
    """The snap match as CTEs (shared by snap_oracle_sql and eq_reach_sql)."""
    import math

    n = math.ceil(2 * radius / C.CELL) + 1
    offs = "(VALUES " + ",".join(f"({i})" for i in range(n + 1)) + ")"
    return f"""{sqlgen.with_ctes(*base_tables)},
stop_cells AS (
  SELECT s.*,
         (CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
         + CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o AS cell_id
  FROM stations s, {offs} ox(o), {offs} oy(o)
  WHERE CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o
          <= CAST(FLOOR((s.x + {radius})/{C.CELL}) AS BIGINT)
    AND CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o
          <= CAST(FLOOR((s.y + {radius})/{C.CELL}) AS BIGINT)
),
node_cells AS (
  SELECT n.*, {sqlgen.cell_id('n.x', 'n.y')} AS cell_id FROM station_nodes n
),
matched AS (
  SELECT s.stop_id, n.node_id, n.component,
         SQRT((s.x-n.x)*(s.x-n.x)+(s.y-n.y)*(s.y-n.y)) AS dist
  FROM stop_cells s JOIN node_cells n USING (cell_id)
  WHERE SQRT((s.x-n.x)*(s.x-n.x)+(s.y-n.y)*(s.y-n.y)) <= {radius}
    AND {normalize_name_sql('s.stop_name')} = {normalize_name_sql('n.name')}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY stop_id ORDER BY dist ASC, node_id ASC) AS r
  FROM (SELECT DISTINCT * FROM matched)
)"""


def snap_oracle_sql(radius: float = C.STATION_RADIUS) -> str:
    return (
        _snap_ctes(radius)
        + "\nSELECT stop_id, node_id, dist, component FROM ranked WHERE r = 1\n"
    )


# --------------------------------------------------------------------
# J9 — equality-reach probe (bounded best-first dedup search)
# --------------------------------------------------------------------

EQ_ATTR_MOD = 31       # synthetic shared-ref attr (uic_ref stand-in,
                       # pfaedle.cfg:344-350): node_id % 31 — chosen so
                       # same-stripe stations at (row±1, col∓1), node-id
                       # delta 31, share a value within 2 hops
EQ_CAP = 2.5 * C.GRID_SPACING   # reference: reach <= 2*d of the snap
EQ_ROUNDS = 3          # provable: every edge costs GRID_SPACING, so a
                       # 3-hop path already exceeds EQ_CAP — round 3 is
                       # the fixpoint


def eq_reach(
    stops: DataFrame,
    station_nodes: DataFrame,
    edges: DataFrame,
    cap: float = EQ_CAP,
    rounds: int = EQ_ROUNDS,
) -> DataFrame:
    """J9 (``osm_builder::depth_search`` osm_builder.cpp:1267-1341,
    ``eqStatReach`` :1344-1360): from each stop's snapped node, bounded
    relax search over the undirected graph for an existing *equivalent*
    station node within the cost cap — equivalence = shared synthetic
    uic_ref attr. Expansion never continues THROUGH another station
    node (``block_search_functor`` :101-110), and adjacency is
    undirected (the reference walks node adjacency regardless of edge
    direction). Output: (stop_id, seed, eq_node, cost) — the argmin
    (cost, node) match per stop, only stops with a match.

    Scale shape: bounded rounds of hash equi-joins keyed by node id,
    localCheckpoint between rounds; frontier size is bounded by the
    cap/edge-length ratio, never the graph.  The per-node min is ONE
    final groupBy, not one per round: rounds expand only the rows first
    reached that round (earlier rows were already expanded, and any
    path through a node is explored from each of its cap-valid
    arrivals), so the union of round layers carries every <=rounds-hop
    cap-bounded path cost and min-at-the-end equals min-every-round —
    two shuffles and two barrier jobs fewer."""
    seeds = snap_stations(stops, station_nodes).select(
        "stop_id", F.col("node_id").alias("seed")
    )
    und = edges.select("src", "dst", "length").unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "length"
        )
    ).select(F.col("src").alias("node"), F.col("dst").alias("nbr"), "length")
    und = und.localCheckpoint(eager=True)  # one scan feeds every round
    st = station_nodes.select(F.col("node_id").alias("node"))

    best0 = seeds.select(
        "stop_id", "seed", F.col("seed").alias("node"), F.lit(0.0).alias("cost")
    )
    layers = [best0]
    # round 0 expands the seed itself (a station node — the reference
    # starts the walk there); every LATER arrival on a station node is
    # blocked, including an arrival back on a seed.
    frontier = best0
    for r in range(rounds):
        exp = frontier if r == 0 else frontier.join(st, "node", "left_anti")
        frontier = (
            exp.join(und, "node")
            .select(
                "stop_id", "seed",
                F.col("nbr").alias("node"),
                (F.col("cost") + F.col("length")).alias("cost"),
            )
            .filter(F.col("cost") <= cap)
            .localCheckpoint(eager=True)
        )
        layers.append(frontier)
    allr = layers[0]
    for lay in layers[1:]:
        allr = allr.unionByName(lay)
    best = allr.groupBy("stop_id", "seed", "node").agg(
        F.min("cost").alias("cost")
    )
    hits = (
        best.filter(F.col("node") != F.col("seed"))
        .join(st, "node")
        .filter((F.col("node") % EQ_ATTR_MOD) == (F.col("seed") % EQ_ATTR_MOD))
    )
    w = Window.partitionBy("stop_id").orderBy(F.col("cost").asc(), F.col("node").asc())
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("stop_id", "seed", F.col("node").alias("eq_node"), "cost")
    )


def eq_reach_sql(
    cap: float = EQ_CAP,
    rounds: int = EQ_ROUNDS,
    radius: float = C.STATION_RADIUS,
) -> str:
    """Unrolled SQL mirror: snap CTEs -> seeds -> `rounds` materialized
    relax rounds (station nodes never expand, min-cost dedup) -> attr
    match + argmin."""
    sql = _snap_ctes(radius, ("stations", "station_nodes", "edges"))
    sql += f""",
seeds AS MATERIALIZED (SELECT stop_id, node_id AS seed FROM ranked WHERE r = 1),
und AS (
  SELECT src AS node, dst AS nbr, length FROM edges
  UNION ALL
  SELECT dst, src, length FROM edges
),
stn AS (SELECT node_id AS node FROM station_nodes),
f0 AS MATERIALIZED (SELECT stop_id, seed, seed AS node, 0.0 AS cost FROM seeds)"""
    for r in range(rounds):
        sql += f""",
exp{r} AS (
  SELECT b.* FROM f{r} b
  LEFT JOIN stn s ON b.node = s.node
  WHERE s.node IS NULL OR (b.node = b.seed AND b.cost = 0.0)
),
nx{r} AS (
  SELECT e.stop_id, e.seed, u.nbr AS node, e.cost + u.length AS cost
  FROM exp{r} e JOIN und u ON u.node = e.node
  WHERE e.cost + u.length <= {cap!r}
),
f{r + 1} AS MATERIALIZED (
  SELECT stop_id, seed, node, MIN(cost) AS cost
  FROM (SELECT * FROM f{r} UNION ALL SELECT * FROM nx{r})
  GROUP BY stop_id, seed, node
)"""
    return sql + f""",
hits AS (
  SELECT b.* FROM f{rounds} b
  JOIN stn s ON b.node = s.node
  WHERE b.node <> b.seed AND b.node % {EQ_ATTR_MOD} = b.seed % {EQ_ATTR_MOD}
)
SELECT stop_id, seed, node AS eq_node, cost
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY stop_id
                                   ORDER BY cost ASC, node ASC) AS rk
      FROM hits)
WHERE rk = 1
"""
