"""Structured Streaming variant of the extraction job.

The reference is an unbounded-stream loader with *no* event-time semantics —
no watermarks, windows, or stateful ops (SURVEY.md §2.11); its resampled
shard mode yields shards forever (src/chug/wds/shardlists.py:115-119).  The
streaming analogue that matters for a batch extraction engine is
*incremental ingest*: new document files appear, only they get decoded.

``run_stream_extract`` reads the span table as a file stream and runs the
identical batch plan per micro-batch via foreachBatch —
``Trigger.AvailableNow`` drains everything currently available and stops;
the streaming checkpoint tracks file-level progress, so re-runs after
failure or after new files arrive decode only unseen input (the streaming
twin of the bucket checkpoint table).

foreachBatch delivery is at-least-once: a crash after the data write but
before the checkpoint commit replays the batch on restart.  The per-batch
writes are therefore made idempotent by partitioning the output on
``batch_id`` with dynamic partition-overwrite — a replayed batch overwrites
its own partition instead of appending duplicates, so resumed output equals
a clean run (end-to-end effectively-once).
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader

from ..config import ExtractJobCfg
from ..extract import extract_docread, flatten_spans
from ..schema import DOCUMENTS_SCHEMA
from ..sources.documents import overwrite_partition


def drain_available_now(
    reader: DataStreamReader,
    source: str,
    process_batch: Callable[[DataFrame, int], None],
    ckpt: str,
    max_files_per_trigger: Optional[int] = None,
    transform: Callable[[DataFrame], DataFrame] = lambda stream: stream,
    output_mode: str = "append",
) -> None:
    """Drain every file currently in ``source`` through ``process_batch``
    (foreachBatch, Trigger.AvailableNow) and return once done.  The
    streaming checkpoint at ``ckpt`` records file-level progress (and any
    operator state), so a later call processes only files it has not seen.
    ``transform`` maps the file stream before the sink (a stateful operator
    needs ``output_mode='update'``)."""
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        transform(reader.load(source))
        .writeStream.foreachBatch(process_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def process_one_batch(
    batch_df: DataFrame,
    batch_id: int,
    cfg: ExtractJobCfg,
    spans_path: str,
    errors_path: str,
) -> None:
    """The foreachBatch body, idempotent under at-least-once replay: output
    is partitioned by batch_id and written with dynamic partition-overwrite,
    so re-processing a batch replaces its own partition instead of appending
    duplicates."""
    ss = batch_df.sparkSession
    spans_out, errors = extract_docread(ss, batch_df, cfg)
    overwrite_partition(flatten_spans(spans_out), "batch_id", int(batch_id), spans_path)
    overwrite_partition(errors, "batch_id", int(batch_id), errors_path)


def run_stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: Optional[ExtractJobCfg] = None,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Drain all currently-available document files through the extraction
    plan (Trigger.AvailableNow); idempotent per-batch writes (see module
    docstring) make restarts effectively-once.

    Layout under ``output_dir``: spans/ errors/ _checkpoint/; data files are
    partitioned by batch_id (dropped again by :func:`read_stream_output`).
    """
    cfg = (cfg or ExtractJobCfg()).validate()
    spans_path = os.path.join(output_dir, "spans")
    errors_path = os.path.join(output_dir, "errors")
    ckpt = os.path.join(output_dir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_one_batch(batch_df, batch_id, cfg, spans_path, errors_path)

    drain_available_now(
        spark.readStream.schema(DOCUMENTS_SCHEMA).format("parquet"),
        input_dir, process_batch, ckpt, max_files_per_trigger,
    )


def read_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "spans")).drop("batch_id")


def run_stream_tar_ingest(
    spark: SparkSession,
    shard_dir: str,
    output_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Incremental wds-shard ingestion: drop new ``.tar`` shards into
    ``shard_dir`` and each drain ingests ONLY unseen shards — the streaming
    file-source checkpoint does the shard-level bookkeeping the reference
    delegates to epoch bookkeeping in its loader.

    readStream(binaryFile) → the same tarfile expansion + adjacency grouping
    as the batch path (sources/tar.py) → grouped samples written to
    ``samples/`` partitioned by batch_id with dynamic partition-overwrite
    (idempotent under foreachBatch's at-least-once replay, like
    :func:`run_stream_extract`).  Each shard is one input file → one task;
    zero shuffles per micro-batch.
    """
    from ..sources.tar import group_members_adjacent, expand_tar_blob, MEMBER_SCHEMA

    samples_path = os.path.join(output_dir, "samples")
    ckpt = os.path.join(output_dir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from typing import Iterator

        import pandas as pd

        def expand(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for pdf in batches:
                for shard, blob in zip(pdf["path"], pdf["content"]):
                    yield expand_tar_blob(shard, blob)

        members = batch_df.select("path", "content").mapInPandas(
            expand, schema=MEMBER_SCHEMA
        )
        overwrite_partition(
            group_members_adjacent(members), "batch_id", int(batch_id), samples_path
        )

    drain_available_now(
        spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, length long, content binary"
        ),
        shard_dir, process_batch, ckpt, max_files_per_trigger,
    )


def run_stream_warc_ingest(
    spark: SparkSession,
    shard_dir: str,
    output_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Incremental web-crawl ingestion: drop new ``.warc``/``.warc.gz``
    shards into ``shard_dir`` and each drain parses ONLY unseen shards —
    the streaming twin of :func:`run_stream_tar_ingest` for the WARC
    source (sources/warc.py; Content-Length framing, record typing, gzip,
    truncation-as-data all identical to the batch path).

    Records land under ``records/`` partitioned by batch_id with dynamic
    partition-overwrite (idempotent under foreachBatch's at-least-once
    replay).  One shard file → one parse task; zero shuffles per
    micro-batch."""
    from ..sources.warc import records_from_binary_df

    records_path = os.path.join(output_dir, "records")
    ckpt = os.path.join(output_dir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the SAME parse entry point as the batch reader — the
        # streaming≡batch oracle must never mask a parser fork
        overwrite_partition(
            records_from_binary_df(batch_df), "batch_id", int(batch_id), records_path
        )

    drain_available_now(
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.warc*"),
        shard_dir, process_batch, ckpt, max_files_per_trigger,
    )


def read_warc_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "records")).drop("batch_id")


def run_stream_html_ingest(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Incremental web-crawl ingestion: drop new parquet files of raw pages
    ``(doc_id, html)`` into ``pages_dir`` and each drain converts ONLY
    unseen files into docread samples (the html:// batch source's
    :func:`~chug_spark.ops.html.html_to_docread_samples`, which is a pure
    map — stateless, so it streams with no watermark and zero shuffles per
    micro-batch).  Samples land under ``samples/`` partitioned by batch_id
    with dynamic partition-overwrite, idempotent under foreachBatch's
    at-least-once replay — same contract as :func:`run_stream_tar_ingest`.
    """
    from ..ops.html import html_to_docread_samples

    samples_path = os.path.join(output_dir, "samples")
    ckpt = os.path.join(output_dir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partition(
            html_to_docread_samples(batch_df), "batch_id", int(batch_id), samples_path
        )

    drain_available_now(
        spark.readStream.schema("doc_id string, html string").format("parquet"),
        pages_dir, process_batch, ckpt, max_files_per_trigger,
    )
