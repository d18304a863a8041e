"""Resumable routed pipeline: checkpoint/lineage/metrics integration.

The north-rule requirement: the parse→route→write pipeline must be
resumable from per-partition checkpoints carrying lineage and throughput
metrics. Units of work are partition values (a date, a conv_id bucket);
each unit's sink writes are overwrite-by-unit (idempotent), and the
marker — committed only after all sinks land — records per-sink counts
and wall time. A killed run re-executes only missing units, and replays
cannot change totals (persist-state/bookmark analogue,
/root/reference/lib/ack-tracker/bookmark.h:39-48).

Skipping, timing and committing are ``process_partitioned``'s; this
module only routes and writes one unit.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..sources.checkpoint import CheckpointedRun, process_partitioned
from .pipeline import Pipeline


def run_resumable(
    df: DataFrame,
    pipeline: Pipeline,
    base_path: str,
    ckpt: CheckpointedRun,
    unit_col: str,
    units: list | None = None,
    fmt: str = "parquet",
) -> list:
    """Process every unit not yet marked done. Returns units processed
    in THIS invocation (empty = fully resumed already)."""
    if units is None:
        units = sorted(
            r[0] for r in df.select(unit_col).distinct().collect()
        )

    def write_unit(part: DataFrame, u) -> dict:
        routed = pipeline.route(part, persist=True)
        try:
            for p in pipeline.paths:
                routed.sink(p.name).write.mode("overwrite").format(fmt).save(
                    f"{base_path}/{p.name}/{unit_col}={u}"
                )
            sinks = {
                r.path: {"in": r.route_ingress_total, "out": r.route_egress_total}
                for r in routed.metrics().collect()
            }
        finally:
            routed.unpersist()
        return {"rows": sum(v["out"] for v in sinks.values()), "sinks": sinks}

    return process_partitioned(df, unit_col, units, ckpt, write_unit)


def sink_totals(
    spark: SparkSession, base_path: str, pipeline: Pipeline, fmt: str = "parquet"
) -> dict:
    """Read back every sink's total row count (the resume-parity oracle).
    A sink that was never written counts 0; one that cannot be read
    raises."""
    out = {}
    for p in pipeline.paths:
        try:
            out[p.name] = spark.read.format(fmt).load(f"{base_path}/{p.name}").count()
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            out[p.name] = 0
    return out
