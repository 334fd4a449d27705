"""Stateful Structured Streaming: cross-micro-batch keep-first dedup.

The batch engine dedups with one keyed aggregation
(:func:`chug_spark.ops.dedup.exact_dedup_keep_first`); on an UNBOUNDED
ingest the "have I seen this fingerprint" set must outlive every
micro-batch.  That is exactly Spark's keyed state store:
``groupBy(fp).applyInPandasWithState`` keeps one tiny state row per
distinct fingerprint, partitioned by key hash across executors (RocksDB
state backend in production — the state never funnels through the driver
and never lives in one task).  The streaming checkpoint persists BOTH the
file-source progress and the state store, so a later run with the same
checkpoint dedups new files against everything already seen — the
streaming twin of the snapshot/incremental dedup semi-join
(``ops/dedup.snapshot_dedup``), without re-reading the old corpus.

Keep-first contract: within a micro-batch the minimum doc_id for the
fingerprint wins; a fingerprint whose state row exists emits nothing ever
again.  Deliveries compose to effectively-once the same way
``run_stream_extract`` does — the foreachBatch sink partitions output by
batch_id with dynamic partition-overwrite, so an at-least-once replay
overwrites its own partition (state updates replay identically because
the state commit is part of the batch the checkpoint tracks).

Skew note: a pathologically hot fingerprint (one boilerplate page
uploaded a billion times) concentrates its *per-batch* occurrences in one
group — the per-group work is a single ``min`` over that batch's rows,
linear and spill-free; nothing accumulates across batches because the
state row is one integer.
"""

from __future__ import annotations

import os
from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..ops.dedup import normalize_text
from ..sources.documents import overwrite_partition
from .stream import drain_available_now

DEDUP_INPUT_SCHEMA = "doc_id long, text string"
DEDUP_OUTPUT_SCHEMA = "doc_id long, fp string"
_STATE_SCHEMA = "seen int"


def _keep_first_fn(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Emit the batch-minimum doc_id for an unseen fingerprint; nothing for
    a seen one.  State is existence-only (one int) — the smallest possible
    per-key footprint."""
    if state.exists:
        return
    best = None
    for pdf in pdfs:
        m = int(pdf["doc_id"].min())
        best = m if best is None else min(best, m)
    if best is None:
        return
    state.update((1,))
    yield pd.DataFrame({"doc_id": [best], "fp": [key[0]]})


def run_stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all currently-available ``(doc_id, text)`` parquet files
    through the stateful keep-first dedup (Trigger.AvailableNow).  Calling
    again with the same ``output_dir`` after new files arrive processes
    only the new files, deduped against the persisted state.

    Layout under ``output_dir``: kept/ _checkpoint/; kept/ is partitioned
    by batch_id (dropped by :func:`read_dedup_output`).
    """
    kept_path = os.path.join(output_dir, "kept")
    ckpt = os.path.join(output_dir, "_checkpoint")

    def keep_first(stream: DataFrame) -> DataFrame:
        fp = F.md5(F.coalesce(normalize_text(F.col("text")), F.lit("")))
        return (
            stream.select("doc_id", fp.alias("fp"))
            .groupBy("fp")
            .applyInPandasWithState(
                _keep_first_fn,
                outputStructType=DEDUP_OUTPUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partition(batch_df, "batch_id", int(batch_id), kept_path)

    drain_available_now(
        spark.readStream.schema(DEDUP_INPUT_SCHEMA).format("parquet"),
        input_dir, process_batch, ckpt, max_files_per_trigger,
        transform=keep_first, output_mode="update",
    )


def read_dedup_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "kept")).drop("batch_id")
