"""Checkpointed, resumable pipeline runner (north-rule requirement).

Each pipeline stage materializes to parquet under ``<root>/<stage>/``
and records a manifest line in ``<root>/MANIFEST.jsonl``::

    {"stage", "status", "wall_s", "n_rows", "inputs": [...lineage...],
     "partitions": [{"file", "rows", "bytes"}, ...], "ts"}

Resume semantics: a stage whose manifest entry is ``complete`` and
whose parquet still exists is NOT recomputed — the runner returns the
materialized DataFrame, so a killed job re-runs only the stages after
the last durable checkpoint. Lineage is the declared input-stage list;
metrics are per-partition (per output file) row/byte counts read from
the parquet footers.

This mirrors what the reference cannot do (single-shot C++ batch,
``src/apps/pfaedle/app.cpp:130-417`` recomputes everything on restart)
and what a 1000-executor job needs: partition-grained restartability
and an audit trail of row counts per stage.

Scale notes: the manifest is one small driver-side JSON file per run;
per-partition stats come from parquet footers (no extra Spark job), and
a stage's parquet is read back with the schema the manifest records
(inferring it is a Spark job per read).
Stages write with ``maxRecordsPerFile``-bounded files so partition
metrics stay meaningful at any input size.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.manifest_path = os.path.join(root, "MANIFEST.jsonl")
        os.makedirs(root, exist_ok=True)
        self._entries = self._load()
        self.computed: list[str] = []   # stages actually executed this run
        self.skipped: list[str] = []    # stages resumed from checkpoint

    # -- manifest ------------------------------------------------------
    def _load(self) -> dict[str, dict]:
        entries: dict[str, dict] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    if line.strip():
                        e = json.loads(line)
                        entries[e["stage"]] = e
        return entries

    def _append(self, entry: dict) -> None:
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(entry) + "\n")
        self._entries[entry["stage"]] = entry

    # -- stage runner --------------------------------------------------
    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _partition_stats(self, path: str) -> list[dict]:
        import pyarrow.parquet as pq

        stats = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                fp = os.path.join(path, fn)
                stats.append(
                    {
                        "file": fn,
                        "rows": pq.ParquetFile(fp).metadata.num_rows,
                        "bytes": os.path.getsize(fp),
                    }
                )
        return stats

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        inputs: list[str] | None = None,
        repartition: int | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the materialized DataFrame."""
        path = self._stage_dir(name)
        entry = self._entries.get(name)
        # lineage cascade: if any declared input was recomputed in this
        # run, this stage's checkpoint is stale — recompute it too.
        inputs_fresh = not any(i in self.computed for i in (inputs or []))
        if (
            entry
            and entry.get("status") == "complete"
            and os.path.isdir(path)
            and inputs_fresh
        ):
            self.skipped.append(name)
            return self._read(path, entry)

        t0 = time.perf_counter()
        df = fn()
        if repartition:
            df = df.repartition(repartition)
        df.write.mode("overwrite").parquet(path)
        wall = time.perf_counter() - t0
        parts = self._partition_stats(path)
        self._append(
            {
                "stage": name,
                "status": "complete",
                "wall_s": round(wall, 3),
                "n_rows": sum(p["rows"] for p in parts),
                "inputs": inputs or [],
                "partitions": parts,
                "schema": df.schema.jsonValue(),
                "ts": time.time(),
            }
        )
        self.computed.append(name)
        return self._read(path, self._entries[name])

    def _read(self, path: str, entry: dict) -> DataFrame:
        reader = self.spark.read
        if "schema" in entry:  # manifests written before it was recorded infer it
            reader = reader.schema(StructType.fromJson(entry["schema"]))
        return reader.parquet(path)

    def effect_stage(
        self,
        name: str,
        fn: Callable[[], None],
        inputs: list[str] | None = None,
        marker: str | None = None,
    ) -> None:
        """Checkpoint a non-DataFrame side effect (e.g. the GTFS feed
        CSV sink): skipped on resume when already complete, no declared
        input recomputed this run, and the marker path still exists —
        so a clean resume is metadata-only instead of re-paying the full
        feed rewrite."""
        entry = self._entries.get(name)
        inputs_fresh = not any(i in self.computed for i in (inputs or []))
        if (
            entry
            and entry.get("status") == "complete"
            and inputs_fresh
            and (marker is None or os.path.exists(marker))
        ):
            self.skipped.append(name)
            return
        t0 = time.perf_counter()
        fn()
        self._append(
            {
                "stage": name,
                "status": "complete",
                "wall_s": round(time.perf_counter() - t0, 3),
                "n_rows": None,
                "inputs": inputs or [],
                "partitions": [],
                "ts": time.time(),
            }
        )
        self.computed.append(name)

    def invalidate(self, name: str) -> None:
        """Drop a stage's checkpoint (forces recompute on next run)."""
        if name in self._entries:
            self._entries[name]["status"] = "invalidated"
            with open(self.manifest_path, "w") as f:
                for e in self._entries.values():
                    f.write(json.dumps(e) + "\n")


def checkpointed_flagship(
    spark: SparkSession, sf_dir: str, root: str
) -> tuple[DataFrame, CheckpointedPipeline]:
    """The flagship matching pipeline, checkpointed per stage:
    points -> candidate join -> viterbi alignment -> tile assignment.

    Killing the job after any stage and re-running resumes from the
    last completed checkpoint (see tests/test_checkpoint.py)."""
    from pyspark.sql import functions as F

    from .. import datagen
    from ..operators import candidates, cells, graph_ops, routing

    cp = CheckpointedPipeline(spark, root)
    pts = cp.stage("points", lambda: datagen.points(spark, sf_dir), inputs=["documents"])
    eds = cp.stage("edges", lambda: graph_ops.write_odir_edges(datagen.edges(spark)))
    cand = cp.stage(
        "candidates",
        lambda: candidates.candidate_edges(pts, datagen.edges(spark)),
        inputs=["points", "edges"],
    )
    aligned = cp.stage(
        "viterbi",
        lambda: routing.viterbi_align(cand, eds),
        inputs=["candidates", "edges"],
    )
    tiles = cp.stage(
        "tiles",
        lambda: cells.tile_assign(
            aligned.join(pts.select("image_id", "x", "y"), "image_id")
        ),
        inputs=["viterbi", "points"],
    )
    return tiles, cp
