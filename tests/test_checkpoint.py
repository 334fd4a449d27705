"""Checkpointed bucket-wise run + resume: kill after k buckets, rerun, final
output equals a single clean run; no duplicate spans (SURVEY.md §5.4)."""

import pytest

from pyspark.sql import functions as F

from chug_spark.checkpoint import read_checkpoint, read_output, write_with_checkpoint
from chug_spark.config import ExtractJobCfg
from chug_spark.extract import extract_docread, flatten_spans
from chug_spark.schema import DOCUMENTS_SCHEMA
from chug_spark.synth import make_doc


def _corpus(spark, n=80):
    return spark.createDataFrame([make_doc(i, seed=31) for i in range(n)], DOCUMENTS_SCHEMA)


def _flat_set(df):
    return {
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in df.collect()
    }


def test_resume_after_simulated_crash(spark, tmp_path):
    docs = _corpus(spark)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runA")
    out_dir = str(tmp_path / "out")

    with pytest.raises(RuntimeError, match="simulated failure"):
        write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=6, fail_after=2)
    cp = read_checkpoint(spark, out_dir, "runA")
    assert cp.filter(F.col("status") == "done").count() == 2

    # resume: remaining 4 buckets only
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=6)
    cp = read_checkpoint(spark, out_dir, "runA")
    assert cp.filter(F.col("status") == "done").count() == 6
    assert cp.agg(F.max("attempt")).collect()[0][0] == 2  # second attempt recorded

    resumed = _flat_set(read_output(spark, out_dir))

    # reference: single clean run
    spans_out, _ = extract_docread(spark, docs, cfg)
    clean = _flat_set(flatten_spans(spans_out))
    assert resumed == clean

    # idempotent: a third invocation is a no-op and changes nothing
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=6)
    assert _flat_set(read_output(spark, out_dir)) == clean


def test_staged_input_partition_prunes(spark, tmp_path):
    """The per-bucket read must scan only its own staged partition: the
    physical plan carries the bucket predicate as a PartitionFilter (100 TB
    contract: 2x total input read, not n_buckets full scans).  The staged
    copy survives a crash (resume reuses it) and is deleted once every
    bucket is done."""
    import os

    docs = _corpus(spark, n=30)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runC")
    out_dir = str(tmp_path / "outC")
    try:
        write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=4, fail_after=2)
    except RuntimeError:
        pass

    # crashed mid-run: staged copy still there, partition-pruned per bucket
    staged = spark.read.parquet(f"{out_dir}/staged_runC")
    plan = (
        staged.filter(F.col("bucket") == 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]

    # resume to completion → staged full-corpus copy is cleaned up
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=4)
    assert not os.path.exists(f"{out_dir}/staged_runC")

    # error-bucket accounting comes from the written partitions
    cp = read_checkpoint(spark, out_dir, "runC")
    total_err = sum(r["error_count"] for r in cp.collect())
    err = spark.read.parquet(f"{out_dir}/errors")
    assert total_err == err.count()


def test_checkpoint_lineage_metrics(spark, tmp_path):
    docs = _corpus(spark, n=40)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runB")
    out_dir = str(tmp_path / "outB")
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=3)
    cp = read_checkpoint(spark, out_dir, "runB")
    rows = cp.collect()
    assert len(rows) == 3
    total_spans = sum(r["span_count"] for r in rows)
    assert total_spans == read_output(spark, out_dir).count()
    assert all(r["wall_ms"] >= 0 and r["status"] == "done" for r in rows)

def test_buckets_in_range_and_no_conf_leak(spark, tmp_path):
    """Bucket assignment stays in [0, n_buckets); and the job must not leak
    partitionOverwriteMode into the session conf (it is scoped
    per-writer)."""
    from chug_spark.checkpoint import bucket_col

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")

    docs = _corpus(spark, n=50)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runM")
    write_with_checkpoint(spark, docs, cfg, str(tmp_path / "m"), n_buckets=4)

    b = docs.select(bucket_col(0, 4).alias("b")).distinct().collect()
    assert {r["b"] for r in b} <= set(range(4))

    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    assert after == before


def test_default_buckets_replay_in_duckdb(spark, tmp_path):
    """Every doc lands in the bucket the lineage_report oracle computes:
    DuckDB's md5 replay of the draw (``_HEX15`` over md5(doc_id || '|seed'))
    mod n_buckets, with write_with_checkpoint's defaults."""
    import os

    import duckdb

    from chug_spark.entry_ext import _HEX15

    docs = _corpus(spark, n=40)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runR")
    out_dir = str(tmp_path / "outR")
    write_with_checkpoint(spark, docs, cfg, out_dir)

    spans = os.path.join(out_dir, "spans")
    written = sorted(d for d in os.listdir(spans) if d.startswith("bucket="))
    assert len(written) > 1
    expr = _HEX15.format(m=f"md5(doc_id || '|{cfg.seed}')")
    for part in written:
        b = int(part.split("=", 1)[1])
        ids = [r["doc_id"] for r in
               spark.read.parquet(os.path.join(spans, part)).select("doc_id").distinct().collect()]
        got = duckdb.execute(
            f"SELECT DISTINCT CAST({expr} % 8 AS INT) FROM (SELECT unnest(?) AS doc_id)",
            [ids],
        ).fetchall()
        assert got == [(b,)], (part, got)


def test_corrupt_lineage_reads_fail_closed(spark, tmp_path):
    """An unreadable lineage file is an error, not "nothing done yet": a
    corrupt checkpoint table must stop the resume instead of silently
    re-running every bucket, and a corrupt written partition must not be
    recorded as an empty ``done`` bucket.  A missing path still means
    empty."""
    import glob

    from chug_spark.checkpoint import _read_partition
    from chug_spark.schema import FLAT_SPANS_SCHEMA

    docs = _corpus(spark, n=20)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runX")
    out_dir = str(tmp_path / "outX")
    with pytest.raises(RuntimeError, match="simulated failure"):
        write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=3, fail_after=1)

    parts = glob.glob(f"{out_dir}/checkpoint/part-*.parquet")
    assert parts
    for part in parts:
        with open(part, "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=3)

    absent = str(tmp_path / "absent" / "bucket=0")
    assert _read_partition(spark, absent, FLAT_SPANS_SCHEMA) is None
    bad = tmp_path / "spans" / "bucket=0"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        _read_partition(spark, str(bad), FLAT_SPANS_SCHEMA).count()


def _passthrough_parquet(spark, path, n=60):
    from chug_spark.synth import generate_docs

    generate_docs(spark, n_docs=n, seed=31, payload_every=0).write.parquet(path)
    return spark.read.parquet(path)


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` with its Spark jobs tagged ``group``; return their count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_done_run_is_a_noop(spark, tmp_path):
    """A re-run of a fully done run_id reads the lineage table and stops: it
    does not re-stage (or even read) the input, creates no ``staged_*`` dir
    and leaves the output as it was."""
    import os
    import shutil

    src = str(tmp_path / "in")
    docs = _passthrough_parquet(spark, src, n=30)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runN")
    out_dir = str(tmp_path / "outN")
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=3)
    before = _flat_set(read_output(spark, out_dir))
    lineage = sorted(tuple(r) for r in read_checkpoint(spark, out_dir, "runN").collect())

    shutil.rmtree(src)
    jobs = _jobs_in_group(
        spark, "noop_rerun",
        lambda: write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=3),
    )
    assert jobs <= 1  # the lineage read only
    assert not [d for d in os.listdir(out_dir) if d.startswith("staged_")]
    assert _flat_set(read_output(spark, out_dir)) == before
    assert sorted(tuple(r) for r in read_checkpoint(spark, out_dir, "runN").collect()) == lineage


def test_checkpoint_job_budget(spark, tmp_path):
    """Spark jobs per bucket stay at 8: the two partition writes, the
    read-back aggregates (3 jobs for the spans, 2 for the errors, under AQE)
    and the lineage append.  A per-bucket branch probe or a schema-inference
    read-back would add to it."""
    docs = _passthrough_parquet(spark, str(tmp_path / "in"))
    cfg = ExtractJobCfg(render_dpi=12, run_id="runJ")
    jobs = {
        nb: _jobs_in_group(
            spark, f"budget_{nb}",
            lambda nb=nb: write_with_checkpoint(
                spark, docs, cfg, str(tmp_path / f"out{nb}"), n_buckets=nb),
        )
        for nb in (2, 4)
    }
    per_bucket = (jobs[4] - jobs[2]) / 2
    assert per_bucket <= 8, jobs
    # the per-call cost: staging write + the two branch-probe jobs
    assert jobs[2] - 2 * per_bucket <= 3, jobs


def test_lineage_row_types(spark, tmp_path):
    """The lineage table as written has CHECKPOINT_TABLE_SCHEMA's column
    types, read back without a schema.  A literal row with a missing cast
    writes ``int`` counts where the schema says ``long``: the resume's typed
    read widens them silently, so only a schema-less reader would see it."""
    from chug_spark.checkpoint import CHECKPOINT_TABLE_SCHEMA

    docs = _corpus(spark, n=20)
    cfg = ExtractJobCfg(render_dpi=12, run_id="runT")
    out_dir = str(tmp_path / "outT")
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=2)
    written = spark.read.parquet(f"{out_dir}/checkpoint")
    assert [(f.name, f.dataType) for f in written.schema.fields] == [
        (f.name, f.dataType) for f in CHECKPOINT_TABLE_SCHEMA.fields
    ]
    assert written.count() == 2
