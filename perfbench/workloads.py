"""The benchmark's workloads.

``flagship_bulk``: the flagship chain (points -> candidate cell join ->
per-trip Viterbi -> tile cells) over a bulk input in a warmed session,
written to the noop sink. At 5,000 points the chain's fixed per-pass cost
(plan building, ten jobs) dominates; the cell join and the per-trip DP
add the part that grows with the points. The traced form also runs a
closed loop of small requests.

``lifecycle_cold``: the checkpointed lifecycle (graph passes, components,
candidates, full-cost Viterbi, shapes, GTFS feed) in a process that has
never composed the graph, into a fresh checkpoint root, followed by
a resume from the complete checkpoint. Per-job overhead dominates.

Each workload has an untraced form (end-to-end metrics) and a traced
form (per-layer metrics). Both take the session and the generated inputs
from ``run.py`` and return ``(metrics, attempted, failed)``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

from pfaedle_spark import constants as C
from pfaedle_spark import datagen
from pfaedle_spark.operators import candidates, cells, edge_routing, graph_ops, routing
from pfaedle_spark.plans import checkpoint, lifecycle

from checks import check_flagship, check_lifecycle
from tracing import MemorySampler, SparkLedger, Tracer, python_bytes, tree_cpu_s

# Warm-up is a fixed number of passes. Per-pass CPU keeps falling for ten
# passes and more (JIT compilation continues in the background), longer
# than a run can afford, so no rule finds a steady state in time; a rule
# that stopped when the wall stopped falling by 15% ended some runs'
# warm-up after 4 passes and some after 5, and the runs warmed one pass
# longer measured 12% faster passes. A fixed count measures every run at
# the same point.
WARM_PASSES = 4
EMPTY_JOBS = 5          # trivial jobs timed for the per-job serial floor
REQUESTS = 4            # small requests in the traced flagship run
SAMPLE_TRIPS = 8        # reference trips checked against the DuckDB oracle


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def flagship(spark, sf_dir: str):
    pts = datagen.points(spark, sf_dir)
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(pts, eds)
    aligned = routing.viterbi_align(cand, graph_ops.write_odir_edges(eds))
    return cells.tile_assign(aligned.join(pts.select("image_id", "x", "y"), "image_id"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def cpu_now() -> float:
    return tree_cpu_s(os.getpid())


class BulkPasses:
    """Flagship passes, each on a fresh bulk input. A pass can collect its
    rows instead of writing them to the noop sink; collected rows are
    checked after the timed region."""

    def __init__(self, spark, inp):
        self.spark, self.inp, self.n = spark, inp, 0
        self.checked: list[tuple] = []   # (label, rows, doc ids)
        self.cpu: list[float] = []       # process-tree CPU seconds per pass

    def next_input(self) -> tuple[str, object]:
        self.n += 1
        return self.inp.bulk(self.n - 1)

    def run(self, collect: str = "") -> float:
        """One pass, plan construction included (it reads the input's
        footer and builds the edge broadcast on first use)."""
        d, docs = self.next_input()
        c0, t0 = cpu_now(), time.perf_counter()
        df = flagship(self.spark, d)
        if collect:
            self.checked.append((collect, df.toPandas(), docs))
        else:
            noop(df)
        wall = time.perf_counter() - t0
        self.cpu.append(cpu_now() - c0)
        return wall


def warm_up(passes: BulkPasses) -> float:
    """Run WARM_PASSES passes (JIT, Python worker start-up, the edge
    broadcast and codegen caches); returns the warm-up wall. The session's
    first pass collects its rows for the output check."""
    walls = [passes.run(collect="cold pass")]
    walls += [passes.run() for _ in range(WARM_PASSES - 1)]
    log("warm-up: " + " ".join(f"{w:.2f}" for w in walls))
    return sum(walls)


def empty_job_s(spark) -> float:
    """Median wall of a one-task JVM-only job: the per-job serial floor."""
    job = spark.range(1, numPartitions=1)
    return statistics.median(timed(lambda: noop(job)) for _ in range(EMPTY_JOBS))


def flagship_passes(passes: BulkPasses, seconds: float) -> tuple[list[float], float, int]:
    """Passes for ``seconds`` (at least two). Returns the pass walls, the
    CPU seconds per pass over the whole loop (CPU that background work of
    one pass spends during the next is counted either way) and the number
    of failed passes."""
    walls, failed, t_end = [], 0, time.perf_counter() + seconds
    c0 = cpu_now()
    while time.perf_counter() < t_end or len(walls) < 2:
        try:
            walls.append(passes.run())
        except Exception:  # count the failed pass, keep measuring
            traceback.print_exc()
            failed += 1
            if failed > 3:
                break
    cpu = (cpu_now() - c0) / max(len(walls) + failed, 1)
    log("passes: " + " ".join(f"{w:.3f}" for w in walls) + " s; cpu "
        + " ".join(f"{c:.2f}" for c in passes.cpu[-len(walls):]) + f" s, {cpu:.3f} s a pass")
    return walls, cpu, failed


def flagship_check(passes: BulkPasses, work_dir: str) -> list[str]:
    """Collects one more pass in the warm session (outside the timing) and
    checks every collected output against the reference for its input."""
    passes.run(collect="warm pass")
    bad = check_flagship(passes.checked, SAMPLE_TRIPS, passes.inp.seed, work_dir,
                         os.path.dirname(work_dir))
    for b in bad:
        log(f"MISMATCH {b}")
    return bad


def flagship_bulk(spark, inp, seconds: float, session_start_s: float, work_dir: str):
    passes = BulkPasses(spark, inp)
    with MemorySampler() as mem:
        setup = session_start_s + warm_up(passes)
        walls, cpu, failed = flagship_passes(passes, seconds)
    bad = flagship_check(passes, work_dir)
    wall = statistics.median(walls) if walls else float("nan")
    metrics = {
        "setup_s": (setup, "s"),
        "images_per_s": (C.TRIP_LEN * inp.bulk_trips / wall, "1/s"),
        "wall_s": (wall, "s"),
        "cpu_s": (cpu, "s"),
        "peak_py_rss_mb": (mem.peak / 2**20, "MB"),
    }
    return metrics, len(walls) + failed + 2, failed + (1 if bad else 0)


def small_requests(spark, inp, tr: Tracer, checked: list) -> list:
    """A closed loop of small flagship requests, each on its own input and
    collected to the driver, as a client of the matcher would send them.
    Returns the request spans."""
    spans = []
    for i in range(REQUESTS):
        d, docs = inp.request(i)
        with tr.span("request") as r:
            with tr.span("request.plan"):
                df = flagship(spark, d)
            with tr.span("request.exec"):
                rows = df.toPandas()
        checked.append((f"request {i}", rows, docs))
        spans.append(r)
    log("requests: " + " ".join(f"{r.end - r.start:.3f}" for r in spans) + " s")
    return spans


def flagship_bulk_traced(spark, inp, seconds: float, session_start_s: float, work_dir: str):
    sc = spark.sparkContext
    tr = Tracer(sc, "flagship_bulk")
    odir = graph_ops.write_odir_edges(datagen.edges(spark))
    with tr.span("routing.broadcast"):
        routing.edges_broadcast(spark, odir)
    bulk = BulkPasses(spark, inp)
    warm_s = warm_up(bulk)

    # untraced and traced passes alternate, so drift in the host hits both
    eds = datagen.edges(spark)
    untraced, passes = [], []
    for _ in range(2):
        untraced.append(bulk.run())
        with tr.span("pass") as p:
            with tr.span("points"):
                pts = datagen.points(spark, bulk.next_input()[0]).localCheckpoint(eager=True)
            with tr.span("candidates"):
                cand = candidates.candidate_edges(pts, eds).localCheckpoint(eager=True)
            with tr.span("routing"):
                plan = routing.viterbi_align(cand, odir)
                aligned = plan.localCheckpoint(eager=True)
            with tr.span("tiles"):
                noop(cells.tile_assign(aligned.join(pts.select("image_id", "x", "y"), "image_id")))
        passes.append(p)
    requests = small_requests(spark, inp, tr, bulk.checked)
    bad = flagship_check(bulk, work_dir)
    empty = empty_job_s(spark)

    ledger = SparkLedger(sc)
    # row counts of the last traced pass (every pass has its own input)
    n_pts = pts.count()
    n_cand = cand.count()
    n_matched = cand.select("image_id").distinct().count()
    n_aligned = aligned.count()
    layer = _layer_metrics(tr, ledger, [p.span_id for p in passes])
    req = _layer_metrics(tr, ledger, [r.span_id for r in requests])
    traced_wall = statistics.median(p.end - p.start for p in passes)
    roots = [p.span_id for p in passes]
    whole = ledger.groups_summary([s.group for s in passes + _under(tr, roots)])
    m = {
        "session.start_s": (session_start_s, "s"),
        "session.warmup_s": (warm_s, "s"),
        "session.empty_job_s": (empty, "s"),
        "points.wall_s": (layer["points"]["self_s"], "s"),
        "points.rows_out": (n_pts, "count"),
        "candidates.rows_out": (n_cand, "count"),
        "candidates.matched_ratio": (n_matched / n_pts, "ratio"),
        "routing.broadcast_s": (_self(tr, "routing.broadcast"), "s"),
        "routing.rows_out": (n_aligned, "count"),
        "routing.aligned_ratio": (n_aligned / n_pts, "ratio"),
        "routing.python_bytes": (python_bytes(plan), "bytes"),
        "tiles.wall_s": (layer["tiles"]["self_s"], "s"),
        "tiles.jobs": (layer["tiles"]["jobs"], "count"),
        "request.latency_s": (statistics.median(r.end - r.start for r in requests), "s"),
        "request.plan_s": (req["request.plan"]["self_s"], "s"),
        "request.exec_s": (req["request.exec"]["self_s"], "s"),
        "request.jobs": (req["request.plan"]["jobs"] + req["request.exec"]["jobs"], "count"),
        "trace.overhead_s": (traced_wall - statistics.median(untraced), "s"),
    }
    m.update(_layer_block(layer, "candidates", "wall_s", "jobs", "task_s", "task_skew",
                          "shuffle_bytes", "spill_bytes"))
    m.update(_layer_block(layer, "routing", "wall_s", "jobs", "task_s", "task_skew",
                          "spill_bytes"))
    m.update(_whole_run(whole, len(passes), traced_wall, sc.defaultParallelism))
    _reconcile(tr, passes, statistics.median(untraced))
    tr.write(os.path.join(work_dir, "trace.jsonl"))
    return m, len(untraced) + len(passes) + len(requests) + 2, 1 if bad else 0


# --------------------------------------------------------------------
# lifecycle_cold
# --------------------------------------------------------------------

STAGE_LAYER = {
    "snaps": "graph", "graph_nodes": "graph", "graph_edges": "graph",
    "components": "components", "candidates": "candidates",
    "viterbi": "viterbi_full", "shapes": "shapes", "gtfs_shapes": "shapes",
    "gtfs_feed": "gtfs_feed",
}


def lifecycle_run(spark, inp, root: str, tr: Tracer | None = None):
    """One cold lifecycle into ``root``, then one resume from it and the
    output checks. With a tracer, the cold run is traced."""
    with MemorySampler() as mem, (tr.span("lifecycle") if tr else nullcontext()), \
            (_traced_lifecycle(tr) if tr else nullcontext()):
        c0, t0 = cpu_now(), time.perf_counter()
        _, cp = lifecycle.checkpointed_lifecycle(spark, inp.lifecycle_dir, root)
        wall = time.perf_counter() - t0
        cpu = cpu_now() - c0
    t0 = time.perf_counter()
    _, rcp = lifecycle.checkpointed_lifecycle(spark, inp.lifecycle_dir, root)
    resume = time.perf_counter() - t0
    log(f"lifecycle {wall:.3f} s, resume {resume:.3f} s")
    bad = check_lifecycle(root, inp.lifecycle_docs, work_dir=os.path.dirname(root))
    if rcp.computed or rcp.skipped != cp.computed:
        bad.append("lifecycle: the resume recomputed a stage")
    for b in bad:
        log(f"MISMATCH {b}")
    return wall, cpu, mem.peak, resume, cp, rcp, bad


def lifecycle_cold(spark, inp, seconds: float, session_start_s: float, work_dir: str):
    # One cold lifecycle per process: the session memos that make a second
    # run warm (lifecycle._COMPOSED_MEMO and the edge_routing caches) live
    # for the whole SparkContext, so isolation is a fresh process plus a
    # fresh checkpoint root.
    root = os.path.join(work_dir, "lifecycle")
    try:
        wall, cpu, peak, _, _, _, bad = lifecycle_run(spark, inp, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    metrics = {
        "setup_s": (session_start_s, "s"),
        "images_per_s": (len(inp.lifecycle_docs) / wall, "1/s"),
        "wall_s": (wall, "s"),
        "cpu_s": (cpu, "s"),
        "peak_py_rss_mb": (peak / 2**20, "MB"),
    }
    return metrics, 2, 1 if bad else 0


@contextmanager
def _traced_lifecycle(tr: Tracer):
    """Spans around the lifecycle's calls into plans.checkpoint (one per
    stage, named after the layer it runs) and edge_routing's transition
    build. The calls and plans are unchanged."""
    cls = checkpoint.CheckpointedPipeline
    orig_stage, orig_effect = cls.stage, cls.effect_stage
    orig_tbv = edge_routing.build_variant_transitions

    def stage(self, name, fn, *a, **k):
        with tr.span(STAGE_LAYER.get(name, name), stage=name):
            return orig_stage(self, name, fn, *a, **k)

    def effect_stage(self, name, fn, *a, **k):
        with tr.span(STAGE_LAYER.get(name, name), stage=name):
            return orig_effect(self, name, fn, *a, **k)

    def tbv(*a, **k):
        with tr.span("transitions"):
            return orig_tbv(*a, **k)

    cls.stage, cls.effect_stage = stage, effect_stage
    edge_routing.build_variant_transitions = tbv
    try:
        yield
    finally:
        cls.stage, cls.effect_stage = orig_stage, orig_effect
        edge_routing.build_variant_transitions = orig_tbv


def lifecycle_cold_traced(spark, inp, seconds: float, session_start_s: float, work_dir: str):
    import pyarrow.parquet as pq

    sc = spark.sparkContext
    tr = Tracer(sc, "lifecycle_cold")
    root = os.path.join(work_dir, "lifecycle")
    try:
        wall, _, _, resume, cp, rcp, bad = lifecycle_run(spark, inp, root, tr)
        manifest = cp._entries
        written = sum(p["bytes"] for e in manifest.values() for p in e["partitions"])
        feed = os.path.join(root, "feed")
        feed_bytes = sum(os.path.getsize(os.path.join(feed, f)) for f in os.listdir(feed))
        cand_ids = pq.read_table(os.path.join(root, "candidates"), columns=["image_id"])
        n_matched = len(set(cand_ids.column("image_id").to_pylist()))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    empty = empty_job_s(spark)

    ledger = SparkLedger(sc)
    run = tr.spans[0]
    layer = _layer_metrics(tr, ledger, [run.span_id])
    whole = ledger.groups_summary([s.group for s in tr.spans])
    m = {
        "session.start_s": (session_start_s, "s"),
        "session.warmup_s": (0.0, "s"),
        "session.empty_job_s": (empty, "s"),
        "graph.edges_out": (manifest["graph_edges"]["n_rows"], "count"),
        "candidates.rows_out": (manifest["candidates"]["n_rows"], "count"),
        "candidates.matched_ratio": (n_matched / len(inp.lifecycle_docs), "ratio"),
        "transitions.wall_s": (layer["transitions"]["self_s"], "s"),
        "checkpoint.bytes_written": (written, "bytes"),
        "checkpoint.stages_skipped": (len(rcp.skipped), "count"),
        "checkpoint.resume_s": (resume, "s"),
        "gtfs_feed.bytes": (feed_bytes, "bytes"),
        # the traced and untraced lifecycles run the same calls and plans;
        # tracing adds only the span bookkeeping
        "trace.overhead_s": (tr.bookkeeping_s, "s"),
    }
    for name in ("graph", "components", "shapes", "gtfs_feed"):
        m.update(_layer_block(layer, name, "wall_s", "jobs"))
    m.update(_layer_block(layer, "viterbi_full", "wall_s", "jobs", "task_skew"))
    m.update(_layer_block(layer, "candidates", "wall_s", "jobs", "task_s", "task_skew",
                          "shuffle_bytes", "spill_bytes"))
    m.update(_whole_run(whole, 1, wall, sc.defaultParallelism))
    _reconcile(tr, [run], wall - tr.bookkeeping_s)
    tr.write(os.path.join(work_dir, "trace.jsonl"))
    return m, 2, 1 if bad else 0


# --------------------------------------------------------------------
# per-layer aggregation
# --------------------------------------------------------------------

def _under(tr: Tracer, roots: list[int]):
    """Spans that descend from any of ``roots``."""
    keep, ids = [], set(roots)
    for sp in tr.spans:            # spans are recorded parent-first
        if sp.parent in ids:
            ids.add(sp.span_id)
            keep.append(sp)
    return keep


def _layer_metrics(tr: Tracer, ledger: SparkLedger, roots: list[int]) -> dict:
    """Per layer name: self time summed over its spans, divided by the
    number of roots (per pass), plus the Spark totals of its own jobs."""
    by_name: dict[str, list] = {}
    for sp in _under(tr, roots):
        by_name.setdefault(sp.name, []).append(sp)
    out = {}
    for name, spans in by_name.items():
        s = ledger.groups_summary([sp.group for sp in spans])
        for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_bytes", "spill_bytes"):
            s[k] = s[k] / len(roots)
        s["self_s"] = sum(tr.self_time(sp) for sp in spans) / len(roots)
        out[name] = s
    return out


UNITS = {"wall_s": "s", "jobs": "count", "task_s": "s", "task_skew": "ratio",
         "shuffle_bytes": "bytes", "spill_bytes": "bytes"}


def _layer_block(layer: dict, name: str, *keys: str) -> dict:
    """``{"<name>.<key>": (value, unit)}``; ``wall_s`` is the self time."""
    s = layer[name]
    return {f"{name}.{k}": (s["self_s" if k == "wall_s" else k], UNITS[k]) for k in keys}


def _self(tr: Tracer, name: str) -> float:
    return sum(tr.self_time(sp) for sp in tr.spans if sp.name == name)


def _whole_run(whole: dict, n_roots: int, wall: float, cores: int) -> dict:
    per = {k: whole[k] / n_roots for k in ("jobs", "stages", "tasks", "task_s", "gc_s")}
    return {
        "spark.jobs": (per["jobs"], "count"),
        "spark.stages": (per["stages"], "count"),
        "spark.tasks": (per["tasks"], "count"),
        "spark.core_util": (per["task_s"] / (wall * cores), "ratio"),
        "spark.gc_s": (per["gc_s"], "s"),
    }


def _reconcile(tr: Tracer, roots, untraced_wall: float) -> None:
    """Log how per-layer self times add up against the untraced wall."""
    n = len(roots)
    total = sum(r.end - r.start for r in roots) / n
    parts = {}
    for sp in _under(tr, [r.span_id for r in roots]):
        parts[sp.name] = parts.get(sp.name, 0.0) + tr.self_time(sp) / n
    root_self = sum(tr.self_time(r) for r in roots) / n
    log("self times: " + ", ".join(f"{k} {v:.3f}" for k, v in parts.items())
        + f", unattributed {root_self:.3f}; traced {total:.3f} s, untraced {untraced_wall:.3f} s")
