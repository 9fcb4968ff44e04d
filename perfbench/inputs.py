"""Seeded input generator.

The engine derives every point from ``documents.doc_id`` alone:
``trip_id = doc_id // TRIP_LEN`` and ``seq = doc_id % TRIP_LEN``, and the
phash coordinates follow from ``doc_id`` (``pfaedle_spark.datagen.points``).
So one seeded draw of trip ids, without replacement, fixes points, trips
and coordinates. The same ``(seed, stream)`` always writes a byte-identical
``documents.parquet``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRIP_LEN = 8              # stops per trip; equals pfaedle_spark.constants.TRIP_LEN
TRIP_SPACE = 1 << 20      # trip ids are drawn from [0, TRIP_SPACE)


def trip_ids(n_trips: int, seed: int, stream: int) -> np.ndarray:
    """Sorted distinct trip ids for one input. ``stream`` separates the
    independent inputs of one run."""
    rng = np.random.default_rng([seed, stream])
    return np.sort(rng.choice(TRIP_SPACE, size=n_trips, replace=False)).astype(np.int64)


def doc_ids(trips: np.ndarray) -> np.ndarray:
    return (trips[:, None] * TRIP_LEN + np.arange(TRIP_LEN, dtype=np.int64)).ravel()


def write_documents(out_dir: str, trips: np.ndarray) -> str:
    """Write ``<out_dir>/documents.parquet`` for the given trips; returns
    ``out_dir`` (the engine's ``sf_dir``)."""
    ids = doc_ids(trips)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([f"doc {i}" for i in ids.tolist()], pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"), compression="zstd")
    return out_dir
