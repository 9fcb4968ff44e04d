"""G1-G9 / A4 — graph topology passes as bounded iterative DataFrame ops.

Reference: ``src/libs/pfaedle/src/trgraph/graph.cpp`` — node degrees,
orphan deletion (G3/G4), reverse-edge completion (G8
``writeODirEdgs`` :364-377), connected components (G7/A4
``write_components`` :159-201, DFS with min-edge-level tracking).

Spark strategy: degrees and orphan rounds are joins; components use
min-label propagation with path doubling (label(v) <- min over
neighbors' labels and label(label(v))), converging in O(log diameter)
rounds — the alternating-star pattern from the public MapReduce
connected-components literature. Each round is one shuffle; we
localCheckpoint every few rounds to truncate lineage. That loop serves
the image-scale pair graphs (dedup, phash clusters); a geography-sized
road graph is labelled in numpy by :func:`min_id_labels`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_find_min(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Undirected components of the dense ids ``0..n-1`` joined by the
    pairs ``(u[i], v[i])``: each id's label is the smallest id of its
    component (every root is its set's minimum, so a union keeps the
    smaller root)."""
    comp = np.arange(n, dtype=np.int64)

    def find(i: int) -> int:
        while comp[i] != i:
            comp[i] = comp[comp[i]]
            i = comp[i]
        return i

    for a, b in zip(u.tolist(), v.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            comp[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def min_id_labels(node_id: np.ndarray, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """G7 on flat arrays: the min node id of each node's component, in
    ``node_id`` order — the fixpoint :func:`connected_components`
    reaches. Edges with an end outside ``node_id`` join nothing, as in
    the relational loop, where such an end never holds a label."""
    ids = np.unique(node_id)
    ok = np.isin(src, ids) & np.isin(dst, ids)
    root = union_find_min(
        len(ids), np.searchsorted(ids, src[ok]), np.searchsorted(ids, dst[ok])
    )
    return ids[root][np.searchsorted(ids, node_id)]


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected node degree (parallel edges counted)."""
    ends = edges.select(F.col("src").alias("node_id")).unionAll(
        edges.select(F.col("dst").alias("node_id"))
    )
    return ends.groupBy("node_id").agg(F.count("*").cast("long").alias("degree"))


def delete_orphan_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G3 (graph.cpp:86-104): drop degree-0 nodes unless they carry a
    station — anti-join against edge endpoints."""
    ends = (
        edges.select(F.col("src").alias("node_id"))
        .unionAll(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    connected = nodes.join(ends, "node_id", "left_semi")
    stations = nodes.filter(F.col("is_station"))
    return connected.unionByName(stations).dropDuplicates(["node_id"])


def write_odir_edges(edges: DataFrame) -> DataFrame:
    """G8 (graph.cpp:364-377): add a reverse copy for every non-oneway
    edge; reverse rows flagged ``reversed=true`` and get edge_id offset
    by the max stride so ids stay unique and deterministic."""
    fwd = edges.withColumn("reversed", F.lit(False))
    rev = (
        edges.filter(~F.col("oneway"))
        .select(
            (F.col("edge_id") + F.lit(1 << 40)).alias("edge_id"),
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("x2").alias("x1"),
            F.col("y2").alias("y1"),
            F.col("x1").alias("x2"),
            F.col("y1").alias("y2"),
            "level",
            "oneway",
            "length",
        )
        .withColumn("reversed", F.lit(True))
    )
    return fwd.unionByName(rev)


def connected_components(nodes: DataFrame, edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """A4/G7: label every node with min node_id of its component.

    Min-label propagation + path doubling; each round: one join against
    the (undirected) adjacency + one self-join for label-of-label.
    Converges in O(log diameter); the loop exits early on fixpoint
    (count of changed labels == 0 — an AQE-sized count, cheap at any
    scale because it aggregates to one long).
    """
    # materialize the adjacency ONCE: every round joins against it, and
    # without this the whole upstream edge derivation (for neardup
    # clusters, the banded pair join) re-executes per round — plus the
    # union+distinct is a shuffle that would otherwise repeat per round.
    adj = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node_id", F.col("node_id").alias("label"))
    for _ in range(max_rounds):
        nbr_min = (
            adj.join(labels, adj.b == labels.node_id)
            .select(F.col("a").alias("node_id"), "label")
            .groupBy("node_id")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, "node_id", "left")
            .select(
                "node_id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # path doubling: label <- label of label
        l2 = stepped.select(F.col("node_id").alias("l_node"), F.col("label").alias("l_label"))
        doubled = (
            stepped.join(l2, stepped.label == l2.l_node, "left")
            .select(
                "node_id",
                F.least(F.col("label"), F.coalesce(F.col("l_label"), F.col("label"))).alias(
                    "new_label"
                ),
            )
        )
        # carry the changed flag THROUGH the materialization: the probe
        # then scans the checkpointed partitions directly instead of
        # re-joining against the previous labels (one join per round
        # saved; isEmpty still short-circuits on the first changed row)
        doubled = doubled.join(
            labels.select("node_id", F.col("label").alias("prev")), "node_id"
        ).select(
            "node_id", "new_label", (F.col("new_label") != F.col("prev")).alias("changed")
        )
        doubled = doubled.localCheckpoint(eager=True)
        unchanged = doubled.filter("changed").isEmpty()
        labels = doubled.select("node_id", F.col("new_label").alias("label"))
        if unchanged:
            break
    return labels


def component_min_level(edges: DataFrame, components: DataFrame) -> DataFrame:
    """graph.cpp:159-201 also tracks the minimum edge level per
    component (used by the router's level shortcut)."""
    e = edges.join(
        components.withColumnRenamed("node_id", "src").withColumnRenamed("label", "comp"),
        "src",
    )
    return e.groupBy("comp").agg(F.min("level").alias("min_level"))
