"""Checkpoint / lineage table: idempotent resume of failed shards.

The reference has no checkpointing — only the SharedCount epoch counter
(src/chug/common/types.py:9-17) and skip-and-continue error handlers
(src/chug/wds/helpers.py:41-68).  The north rule requires per-partition
lineage + metrics and resumable batch extraction, so this module adds:

- a *bucket* notion: ``bucket = pmod(xxhash64(doc_id, seed), n_buckets)`` —
  the resume granularity (the Spark analogue of a shard; stable under any
  partitioning);
- :func:`write_with_checkpoint` — runs extraction bucket-wise append-only,
  recording (run_id, bucket, doc_count, span_count, error_count, status,
  attempt, wall_ms) per completed bucket;
- resume = anti-join of the input against buckets already ``done``
  (SURVEY.md §4 'Checkpoint/resume'), so a re-run after a crash decodes only
  the missing buckets and the final table equals a single clean run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), nullable=False),
        T.StructField("bucket", T.IntegerType(), nullable=False),
        T.StructField("doc_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("error_count", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def bucket_col(seed: int, n_buckets: int, engine: str = "xxhash64"):
    """Deterministic bucket assignment: pmod(hash(doc_id, seed), n_buckets).

    ``engine='xxhash64'`` (default) is the JVM fast path; ``engine='md5'``
    computes the same kind of draw portably (md5 exists in every engine, so
    a DuckDB oracle can replay the exact bucket assignment and check the
    per-bucket lineage metrics value-for-value).  The draw is the single
    shared portable hash (ops/dataflow.shuffle_hash) — one definition to
    keep byte-identical with the DuckDB _HEX15 replay."""
    from .ops.dataflow import shuffle_hash

    return F.pmod(shuffle_hash(seed, 0, "doc_id", engine), F.lit(n_buckets)).cast("int")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — works for any
    scheme the cluster's Hadoop conf knows (file://, hdfs://, s3a://...),
    unlike driver-local ``os.path`` probes (round-2 advice: an os.path.exists
    check made every HDFS/S3 resume silently re-stage the full input)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


def read_checkpoint(spark: SparkSession, checkpoint_dir: str, run_id: str) -> DataFrame:
    path = os.path.join(checkpoint_dir, "checkpoint")
    try:
        cp = spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], CHECKPOINT_TABLE_SCHEMA)
    return cp.filter(F.col("run_id") == run_id)


def done_buckets(spark: SparkSession, checkpoint_dir: str, run_id: str) -> DataFrame:
    return (
        read_checkpoint(spark, checkpoint_dir, run_id)
        .filter(F.col("status") == "done")
        .select("bucket")
        .distinct()
    )


def _partition_count(spark: SparkSession, path: str):
    """Read one written partition dir back; zero-row partitions write no
    directory at all, so a missing path means empty."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    return df


def write_with_checkpoint(
    spark: SparkSession,
    docs: DataFrame,
    cfg,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    single_pass: bool = False,
    bucket_engine: str = "xxhash64",
) -> None:
    """Run doc-read extraction bucket-by-bucket with checkpointed lineage.

    ``fail_after`` (tests only): raise after completing that many buckets to
    simulate a mid-job crash; a subsequent call resumes the remaining buckets.
    Output parquet is partitioned by bucket so each bucket's write is
    idempotent (overwrite-by-partition).

    ``single_pass=True`` removes the serial barrier chain: ALL unfinished
    buckets run as ONE extraction over ``bucket IN (unfinished)`` with
    dynamic-partition writes, then every checkpoint row lands in one append.
    Per-bucket idempotency is preserved — a crash before the checkpoint
    append leaves zero ``done`` rows for this pass and the resume dynamically
    overwrites exactly the same partitions.  Resume granularity is coarser
    (the whole pass repeats, not per bucket), which is the right trade when
    few buckets remain or the cluster is reliable; the serial mode remains
    the fine-grained default.  ``fail_after`` is a serial-mode concept and
    rejected here.

    Read-amplification contract (scale design):

    - the input is STAGED once, written partitioned by bucket: each bucket
      iteration then scans only its own partition via partition pruning —
      total input read = 2× (one stage write + one partitioned read) instead
      of n_buckets× full scans of a computed bucket column;
    - per-bucket lineage metrics (doc/span/error counts) are computed from
      the parquet just written, never by re-running the extraction plan;
    - the staging dir is keyed by run_id — a resumed run reuses it (probed
      via the Hadoop FileSystem API, so reuse works on HDFS/S3 paths too),
      a new run_id re-stages — and it is deleted once every bucket is done.
    """
    from .extract import extract_docread, flatten_spans  # local import, no cycle

    cfg.validate()
    cp_path = os.path.join(out_dir, "checkpoint")
    data_path = os.path.join(out_dir, "spans")
    err_path = os.path.join(out_dir, "errors")

    done = {r["bucket"] for r in done_buckets(spark, out_dir, cfg.run_id).collect()}
    attempt = 1 + (
        read_checkpoint(spark, out_dir, cfg.run_id)
        .agg(F.max("attempt"))
        .collect()[0][0]
        or 0
    )

    # partitionOverwriteMode is scoped per-writer via .option(...) below (a
    # session conf.set here would leak dynamic mode to unrelated writes).
    # The staging write deliberately stays STATIC overwrite: a re-stage after
    # a mid-stage crash must truncate the whole dir, not merge with leftover
    # partial partitions.
    staged_path = os.path.join(out_dir, f"staged_{cfg.run_id}")
    if not _fs_exists(spark, os.path.join(staged_path, "_SUCCESS")):
        (
            docs.withColumn("bucket", bucket_col(cfg.seed, n_buckets, bucket_engine))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staged_path)
        )
    docs_b = spark.read.parquet(staged_path)

    if single_pass:
        if fail_after is not None:
            raise ValueError("fail_after is serial-mode only (one job here)")
        unfinished = sorted(set(range(n_buckets)) - done)
        if unfinished:
            t0 = time.monotonic()
            sub = docs_b.filter(F.col("bucket").isin(unfinished)).drop("bucket")
            spans_out, errors = extract_docread(spark, sub, cfg)
            # bucket is a pure function of doc_id — recompute on the outputs
            # instead of threading it through the extraction plan
            flat = flatten_spans(spans_out).withColumn(
                "bucket", bucket_col(cfg.seed, n_buckets, bucket_engine)
            )
            (flat.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(data_path))
            err_rows = errors.withColumn(
                "bucket", bucket_col(cfg.seed, n_buckets, bucket_engine)
            )
            (err_rows.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(err_path))
            wall_ms = int((time.monotonic() - t0) * 1000)

            # per-bucket lineage from the WRITTEN parquet (plan never re-runs);
            # zero-row buckets write no partition dir → fill with zeros
            stats = {
                r["bucket"]: r
                for r in spark.read.parquet(data_path)
                .filter(F.col("bucket").isin(unfinished))
                .groupBy("bucket")
                .agg(
                    F.countDistinct("doc_id").alias("doc_count"),
                    F.count(F.lit(1)).alias("span_count"),
                )
                .collect()
            }
            err_stats = {}
            werr = _partition_count(spark, err_path)
            if werr is not None:
                err_stats = {
                    r["bucket"]: r["error_count"]
                    for r in werr.filter(F.col("bucket").isin(unfinished))
                    .groupBy("bucket")
                    .agg(F.count(F.lit(1)).alias("error_count"))
                    .collect()
                }
            rows = [
                (
                    cfg.run_id,
                    b,
                    stats[b]["doc_count"] if b in stats else 0,
                    stats[b]["span_count"] if b in stats else 0,
                    err_stats.get(b, 0),
                    "done",
                    attempt,
                    wall_ms,
                )
                for b in unfinished
            ]
            spark.createDataFrame(rows, CHECKPOINT_TABLE_SCHEMA).write.mode(
                "append"
            ).parquet(cp_path)
            spark.catalog.clearCache()
        if _fs_exists(spark, staged_path):
            _fs_delete(spark, staged_path)
        return

    completed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        t0 = time.monotonic()
        sub = docs_b.filter(F.col("bucket") == b).drop("bucket")
        spans_out, errors = extract_docread(spark, sub, cfg)
        flat = flatten_spans(spans_out).withColumn("bucket", F.lit(b))
        (flat.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(data_path))
        err_rows = errors.withColumn("bucket", F.lit(b))
        (err_rows.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(err_path))

        # lineage metrics from the *written* partitions — the extraction plan
        # (incl. the policy/decode UDFs) never re-runs for stats
        written = _partition_count(spark, os.path.join(data_path, f"bucket={b}"))
        if written is not None:
            stats = written.agg(
                F.countDistinct("doc_id").alias("doc_count"),
                F.count(F.lit(1)).alias("span_count"),
            ).collect()[0]
            doc_count, span_count = stats["doc_count"], stats["span_count"]
        else:
            doc_count = span_count = 0
        written_err = _partition_count(spark, os.path.join(err_path, f"bucket={b}"))
        err_count = written_err.count() if written_err is not None else 0
        wall_ms = int((time.monotonic() - t0) * 1000)
        row = [
            (cfg.run_id, b, doc_count, span_count,
             err_count, "done", attempt, wall_ms)
        ]
        spark.createDataFrame(row, CHECKPOINT_TABLE_SCHEMA).write.mode("append").parquet(cp_path)
        # drop this bucket's persisted decode output before the next one —
        # bounds the cached working set to one bucket
        spark.catalog.clearCache()
        completed += 1
        if fail_after is not None and completed >= fail_after:
            raise RuntimeError(f"simulated failure after {completed} buckets")

    # all buckets checkpointed done → the staged full-corpus copy has served
    # its purpose; delete it so a completed run leaves no 1×-corpus residue
    # (a crashed run keeps it for the resume — that's the 2×-read contract)
    if _fs_exists(spark, staged_path):
        _fs_delete(spark, staged_path)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the flat span output of a (possibly resumed) checkpointed run."""
    return spark.read.parquet(os.path.join(out_dir, "spans")).drop("bucket")
