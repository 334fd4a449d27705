"""The spark-submit entrypoint (chug_spark/job.py) run in-process: the
checkpointed default and ``--no-checkpoint`` both write exactly the spans of
one clean batch extraction, and the printed JSON counts what was written."""

import json

import pytest

from chug_spark import job
from chug_spark.config import ExtractJobCfg
from chug_spark.extract import extract_docread, flatten_spans
from chug_spark.synth import generate_docs

_N_DOCS = 40


def _span_set(df):
    return {
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def expected(spark):
    docs = generate_docs(spark, n_docs=_N_DOCS, seed=7)
    spans_out, _ = extract_docread(spark, docs, ExtractJobCfg(render_dpi=12))
    return _span_set(flatten_spans(spans_out))


@pytest.mark.parametrize("mode", [["--buckets", "3"], ["--no-checkpoint"]],
                         ids=["checkpoint", "no_checkpoint"])
def test_job_main_writes_clean_run_spans(spark, tmp_path, capsys, expected, mode):
    out = str(tmp_path / "out")
    rc = job.main(["--synth-docs", str(_N_DOCS), "--render-dpi", "12",
                   "--no-warmup", "--output", out, *mode])
    spark.sparkContext.setLogLevel("ERROR")  # main() sets WARN
    assert rc == 0

    spans = spark.read.parquet(f"{out}/spans")
    assert ("bucket" in spans.columns) == (mode[0] == "--buckets")
    assert _span_set(spans) == expected

    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_out"] == spans.select("doc_id").distinct().count()
    assert report["docs_out"] > 0
