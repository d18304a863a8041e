"""Checkpoint / resume: the persist-state + bookmark analogue.

The reference acks messages backwards to release the source window and
persists bookmarks so a restart resumes where it left off
(/root/reference/lib/ack-tracker/bookmark.h:39-48,
lib/persist-state.h:90-122).

Batch rebuild: work is split into **idempotent units** (here: input
partition values, e.g. a date or conv_id bucket); each unit's sink write
is overwrite-by-unit, and a marker row (with lineage + throughput
metrics) is committed AFTER the write. Resume = skip units with markers.
Re-running after a kill cannot change per-sink totals — replayed units
overwrite themselves (the Iceberg-snapshot analogue on plain parquet).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointedRun:
    """Tracks completed units in a JSON-lines marker file.

    Markers are keyed by ``str(unit)``, so any unit value (a date, an
    int bucket) commits. The marker file is the persist-state file; one
    line per completed unit carries the lineage/metrics payload
    (FIXTURES.md F7 shape). It is read once per instance; ``commit``
    keeps the in-memory done set current.
    """

    def __init__(self, state_dir: str, run_id: str = "run"):
        self.state_dir = state_dir
        self.run_id = run_id
        os.makedirs(state_dir, exist_ok=True)
        self.marker_path = os.path.join(state_dir, f"{run_id}.markers.jsonl")
        self._done: set[str] = set()
        if os.path.exists(self.marker_path):
            with open(self.marker_path) as fh:
                self._done = {json.loads(line)["unit"] for line in fh if line.strip()}

    def is_done(self, unit) -> bool:
        return str(unit) in self._done

    def commit(self, unit, **metrics) -> None:
        key = str(unit)
        rec = {"unit": key, "run_id": self.run_id, "wall_ts": time.time(), **metrics}
        with open(self.marker_path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        self._done.add(key)

    def run_unit(self, unit, fn) -> dict | None:
        """Execute ``fn()`` for a unit unless already done; commit after.
        ``fn`` must be idempotent (overwrite-by-unit writes) and returns
        a dict of marker fields; a ``rows`` field also yields
        ``throughput_rows_per_s``."""
        if self.is_done(unit):
            return None
        t0 = time.time()
        result = fn() or {}
        wall = time.time() - t0
        marker = {"wall_ms": int(wall * 1000), **result}
        if "rows" in result:
            marker["throughput_rows_per_s"] = (
                round(result["rows"] / wall, 1) if wall > 0 else None
            )
        self.commit(unit, **marker)
        return result

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.json(self.marker_path)


def process_partitioned(
    df: DataFrame,
    unit_col: str,
    units: list,
    ckpt: CheckpointedRun,
    write_unit,
) -> list:
    """Drive a resumable run: for each unit value, filter (partition
    pruning when unit_col is the table's partition key), write, mark.
    ``write_unit(part, unit)`` returns a row count, a dict of marker
    fields, or None. Returns the units processed in THIS invocation."""
    processed = []
    for u in units:
        def job(u=u):
            res = write_unit(df.filter(F.col(unit_col) == u), u)
            return {"rows": res} if isinstance(res, int) else res

        if ckpt.run_unit(u, job) is not None:
            processed.append(u)
    return processed
