"""Checkpoint/resume tests: persist-state analogue (FIXTURES.md F7) —
re-running after a simulated kill must not change per-sink totals."""

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.sources.checkpoint import CheckpointedRun, process_partitioned


def test_resume_is_idempotent(spark, tmp_path, transcripts_df):
    sink = str(tmp_path / "sink")
    ckpt = CheckpointedRun(str(tmp_path / "state"), run_id="r1")

    units = [r.role for r in transcripts_df.select("role").distinct().collect()]

    def write_unit(part, unit):
        part.write.mode("overwrite").parquet(f"{sink}/{unit}")
        return part.count()

    # first run "dies" after two units
    done1 = process_partitioned(transcripts_df, "role", units[:2], ckpt, write_unit)
    assert sorted(done1) == sorted(units[:2])

    # resumed run processes only the remaining units
    done2 = process_partitioned(transcripts_df, "role", units, ckpt, write_unit)
    assert sorted(done2) == sorted(units[2:])

    # totals equal the source, and a third run is a no-op
    total = spark.read.parquet(*(f"{sink}/{u}" for u in units)).count()
    assert total == transcripts_df.count()
    assert process_partitioned(transcripts_df, "role", units, ckpt, write_unit) == []

    # markers carry lineage/metrics
    m = ckpt.metrics_df(spark)
    assert m.count() == len(units)
    assert {"unit", "run_id", "rows", "wall_ms"} <= set(m.columns)
    assert m.agg(F.sum("rows")).collect()[0][0] == transcripts_df.count()


def test_date_units_commit(spark, tmp_path, transcripts_df):
    """Units need not be JSON types: markers are keyed by str(unit), so a
    date unit commits, and a fresh run over the same state skips it."""
    df = transcripts_df.withColumn("day", F.to_date("ts"))
    units = sorted(r.day for r in df.select("day").distinct().collect())[:3]
    state = str(tmp_path / "state")

    def write_unit(part, unit):
        part.write.mode("overwrite").parquet(str(tmp_path / "sink" / f"day={unit}"))
        return part.count()

    done = process_partitioned(df, "day", units, CheckpointedRun(state), write_unit)
    assert done == units
    again = CheckpointedRun(state)
    assert all(again.is_done(u) for u in units)
    assert process_partitioned(df, "day", units, again, write_unit) == []
    m = CheckpointedRun(state).metrics_df(spark)
    assert {r.unit for r in m.collect()} == {str(u) for u in units}
    assert m.agg(F.sum("rows")).collect()[0][0] == df.filter(F.col("day").isin(units)).count()


def test_sink_totals_raises_on_corrupt_sink(spark, tmp_path):
    """A missing sink counts 0, but a sink that cannot be read must raise
    rather than read back as an empty sink."""
    from syslog_ng_spark.plans import LogPath, Pipeline
    from syslog_ng_spark.plans.resumable import sink_totals

    pipe = Pipeline([LogPath("a", None), LogPath("b", None)])
    base = tmp_path / "sinks"
    (base / "a").mkdir(parents=True)
    (base / "a" / "part-00000.parquet").write_text("not parquet\n")
    with pytest.raises(Exception, match="(?i)parquet"):
        sink_totals(spark, str(base), pipe)
    assert sink_totals(spark, str(base), Pipeline([LogPath("b", None)])) == {"b": 0}
