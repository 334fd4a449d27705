"""Checkpoint / lineage table: idempotent resume of failed shards.

The reference has no checkpointing — only the SharedCount epoch counter
(src/chug/common/types.py:9-17) and skip-and-continue error handlers
(src/chug/wds/helpers.py:41-68).  The north rule requires per-partition
lineage + metrics and resumable batch extraction, so this module adds:

- a *bucket* notion: ``bucket = pmod(md5 draw of (doc_id, seed), n_buckets)``
  — the resume granularity (the Spark analogue of a shard; stable under any
  partitioning, and replayable by a DuckDB oracle);
- :func:`write_with_checkpoint` — runs extraction bucket-wise append-only,
  recording (run_id, bucket, doc_count, span_count, error_count, status,
  attempt, wall_ms) per completed bucket;
- resume = skip the buckets already ``done`` (SURVEY.md §4
  'Checkpoint/resume'), so a re-run after a crash decodes only the missing
  buckets and the final table equals a single clean run.
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import ERRORS_SCHEMA, FLAT_SPANS_SCHEMA

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


def bucket_col(seed: int, n_buckets: int):
    """Deterministic bucket assignment: pmod(md5 draw of doc_id, n_buckets).

    The draw is the single shared portable hash (ops/dataflow.shuffle_hash,
    md5): md5 exists in every engine, so a DuckDB oracle replays the exact
    bucket assignment (the _HEX15 replay in entry_ext) and checks the
    per-bucket lineage metrics value-for-value."""
    from .ops.dataflow import shuffle_hash

    return F.pmod(shuffle_hash(seed, 0, "doc_id", "md5"), F.lit(n_buckets)).cast("int")


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
    """The lineage rows of ``run_id``; a missing table means none yet.  Any
    other read failure (a corrupt file) propagates: treating it as "no
    buckets done" would silently re-run every bucket."""
    path = os.path.join(checkpoint_dir, "checkpoint")
    if not _fs_exists(spark, path):
        return spark.createDataFrame([], CHECKPOINT_TABLE_SCHEMA)
    # explicit schema: a table dir holding no committed file yet (a crash
    # during the first append) reads as zero rows instead of failing
    # schema inference
    return (
        spark.read.schema(CHECKPOINT_TABLE_SCHEMA).parquet(path)
        .filter(F.col("run_id") == run_id)
    )


def _read_partition(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame | None:
    """Read one written partition dir back with its known ``schema`` (no
    schema-inference job), or None when it does not exist: zero-row
    partitions write no directory at all, so missing means empty.  A
    partition that exists but does not read fails the job rather than
    recording a zero-count ``done`` row."""
    if not _fs_exists(spark, path):
        return None
    return spark.read.schema(schema).parquet(path)


def _lineage_row(spark: SparkSession, values) -> DataFrame:
    """One CHECKPOINT_TABLE_SCHEMA row as JVM-side literals: no Python RDD, so
    no Python worker starts to ship a single row."""
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(v).cast(f.dataType).alias(f.name)
          for v, f in zip(values, CHECKPOINT_TABLE_SCHEMA.fields)]
    )


def write_with_checkpoint(
    spark: SparkSession,
    docs: DataFrame,
    cfg,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
) -> None:
    """Run doc-read extraction bucket-by-bucket with checkpointed lineage.

    ``fail_after`` (tests only): raise after completing that many buckets to
    simulate a mid-job crash; a subsequent call resumes the remaining buckets.
    Output parquet is partitioned by bucket so each bucket's write is
    idempotent (overwrite-by-partition).

    Spark jobs per call (``tests/test_checkpoint.py`` guards the budget):

    - the lineage table is read once: one collect, none when the table does
      not exist yet.  ``done`` buckets and the attempt number come from its
      rows.  When every bucket is ``done`` the call is a no-op: nothing is
      staged, probed or extracted (a staged copy left behind is deleted);
    - the input is staged once (one write, see below; a resume reuses it),
      and for ``cfg.branch='auto'`` the branch shape is resolved ONCE over the
      unfinished buckets' staged rows (``extract.resolve_branch``, two LIMIT-1
      jobs).  A bucket is a subset of those rows, so the answer holds for
      each bucket and no bucket probes again;
    - 8 per unfinished bucket: the spans and errors partition writes, the
      read-back aggregates over them (3 jobs for the distinct-doc and span
      counts, 2 for the error count, under AQE; read with their known
      schemas, so no schema-inference job) and the lineage row append (JVM
      literals, no Python worker).

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
    from .extract import extract_docread, flatten_spans, resolve_branch  # local import, no cycle
    from .sources.documents import overwrite_partition

    cfg.validate()
    cp_path = os.path.join(out_dir, "checkpoint")
    data_path = os.path.join(out_dir, "spans")
    err_path = os.path.join(out_dir, "errors")
    staged_path = os.path.join(out_dir, f"staged_{cfg.run_id}")

    # one row per bucket, so the whole lineage of run_id fits the driver
    lineage = (
        read_checkpoint(spark, out_dir, cfg.run_id).collect()
        if _fs_exists(spark, cp_path) else []
    )
    done = {r["bucket"] for r in lineage if r["status"] == "done"}
    attempt = 1 + max((r["attempt"] or 0 for r in lineage), default=0)
    todo = [b for b in range(n_buckets) if b not in done]

    if todo:
        # partitionOverwriteMode is scoped per-writer (overwrite_partition); a
        # session conf.set here would leak dynamic mode to unrelated writes.
        # The staging write deliberately stays STATIC overwrite: a re-stage
        # after a mid-stage crash must truncate the whole dir, not merge with
        # leftover partial partitions.
        if not _fs_exists(spark, os.path.join(staged_path, "_SUCCESS")):
            (
                docs.withColumn("bucket", bucket_col(cfg.seed, n_buckets))
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(staged_path)
            )
        # the staged schema is known: reading with it runs no inference job
        docs_b = spark.read.schema(
            T.StructType(docs.schema.fields + [T.StructField("bucket", T.IntegerType())])
        ).parquet(staged_path)
        branch = resolve_branch(
            docs_b.filter(F.col("bucket").isin(todo)).drop("bucket"), cfg.branch
        )
        cfg = dataclasses.replace(cfg, branch=branch)

    for completed, b in enumerate(todo, start=1):
        t0 = time.monotonic()
        sub = docs_b.filter(F.col("bucket") == b).drop("bucket")
        spans_out, errors = extract_docread(spark, sub, cfg)
        overwrite_partition(flatten_spans(spans_out), "bucket", b, data_path)
        overwrite_partition(errors, "bucket", b, err_path)

        # lineage metrics from the *written* partitions — the extraction plan
        # (incl. the policy/decode UDFs) never re-runs for stats
        written = _read_partition(
            spark, os.path.join(data_path, f"bucket={b}"), FLAT_SPANS_SCHEMA
        )
        if written is not None:
            stats = written.agg(
                F.countDistinct("doc_id").alias("doc_count"),
                F.count(F.lit(1)).alias("span_count"),
            ).collect()[0]
            doc_count, span_count = stats["doc_count"], stats["span_count"]
        else:
            doc_count = span_count = 0
        written_err = _read_partition(
            spark, os.path.join(err_path, f"bucket={b}"), ERRORS_SCHEMA
        )
        err_count = written_err.count() if written_err is not None else 0
        wall_ms = int((time.monotonic() - t0) * 1000)
        _lineage_row(
            spark, (cfg.run_id, b, doc_count, span_count, err_count, "done", attempt, wall_ms)
        ).write.mode("append").parquet(cp_path)
        # drop this bucket's persisted decode output before the next one —
        # bounds the cached working set to one bucket
        spark.catalog.clearCache()
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
