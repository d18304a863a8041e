"""Sources & sinks (SURVEY.md §2.1/§2.2).

The reference's file/socket/kafka sources collapse to plain parquet
table reads here. Framing / header-parse concerns become columns at
generation/ingest time.

Sinks are table writes. Routed sinks are written by
``RoutedFrame.write_sinks`` (plans/pipeline.py); this module keeps the
$HOST-templated partitioned writer and the pre-bucketed table helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_sink_templated(
    df: DataFrame,
    path: str,
    partition_templates: dict[str, str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """$HOST-templated destination filenames (affile-dest.c) → partitioned
    table layout: each template becomes a partition column, so
    ``file("/log/$HOST/app.log")`` ≙ ``.partitionBy("host_dir")`` and the
    directory fan-out happens in ONE write job instead of per-key files."""
    from ..functions.templates import compile_template  # noqa: PLC0415

    cols = set(df.columns)
    out = df
    for name, tpl in partition_templates.items():
        out = out.withColumn(name, compile_template(tpl, cols))
    out.write.mode(mode).format(fmt).partitionBy(*partition_templates).save(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Pre-bucketed managed table (SURVEY §4's co-location lever): two
    tables bucketed the same way join/aggregate on the bucket key with
    ZERO exchange — at 100 TB this turns the enrichment join's per-run
    shuffle into a one-time layout cost at write time (plan-asserted in
    tests). ``sort_cols`` additionally pre-sorts within buckets, removing
    the sort from sort-merge joins."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(name)


def read_bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed managed table — bucket metadata rides the catalog,
    so downstream joins on the bucket key skip their exchange."""
    return spark.table(name)
