"""Iceberg-shaped documents source/sink indirection (SURVEY.md §7.0).

No Iceberg runtime jar ships in this sandbox, so the reader/writer pair is
layout-compatible parquet behind one switch: when ``table`` names a catalog
table (contains '.') it uses ``spark.read.table`` / ``writeTo`` (Iceberg
semantics: snapshot reads, overwritePartitions); otherwise it treats the
location as a parquet directory.  The rest of the engine only sees
DataFrames with the span schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Resolve any registered source spec (``scheme://locator`` or bare
    path/table) to a span-schema DataFrame via
    :mod:`chug_spark.sources.registry` — the alternate-connector invariant:
    the reference runs the identical task pipeline over wds or HF-datasets
    sources (README.md:84); here the same extraction plan runs over any
    scan that yields the span schema."""
    from .registry import read_source

    return read_source(spark, source)


def write_spans(
    df: DataFrame,
    target: str,
    partition_cols: tuple[str, ...] = (),
    max_records_per_file: int = 0,
) -> None:
    """Write the span table to a path or a catalog table.

    ``max_records_per_file`` > 0 caps parquet file size via Spark's
    ``maxRecordsPerFile`` — the no-extra-job guard against BOTH failure
    modes of a 100 TB write (a giant task emitting one multi-GB file, and
    relying on task count alone for file sizing).  The small-file side is
    AQE's job (``spark.sql.adaptive.coalescePartitions`` merges undersized
    shuffle partitions before the write) — no ``count()``+``repartition()``
    pre-pass needed on either side."""
    if "." in target and "/" not in target:
        writer = df.writeTo(target)
        if partition_cols:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.createOrReplace()
        return
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(target)


def overwrite_partition(df: DataFrame, col: str, value, path: str) -> None:
    """Write ``df`` as the single partition ``col=value`` of the parquet dir
    at ``path``, replacing only that partition (dynamic partition-overwrite,
    scoped to this writer so the session conf never changes).  Re-running
    the same write replaces its own output instead of appending duplicates:
    the idempotent unit of the bucket checkpoint loop and of every
    foreachBatch sink (at-least-once replay becomes effectively-once)."""
    from pyspark.sql import functions as F

    (
        df.withColumn(col, F.lit(value))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )
