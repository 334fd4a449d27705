"""Physical-plan regression guards: the performance properties the engine is
designed around must survive refactors (SURVEY.md §4)."""

import pytest

from pyspark.sql import functions as F

from chug_spark.config import ExtractJobCfg
from chug_spark.extract import extract_docread, flatten_spans
from chug_spark.schema import DOCUMENTS_SCHEMA
from chug_spark.synth import make_doc


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def span_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "documents")
    rows = [make_doc(i, seed=41, payload_every=2) for i in range(40)]
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).write.parquet(path)
    return path


def test_exchange_and_udf_budget(spark, span_parquet):
    """Shuffle/Python-eval canary: the plan's *unique* exchanges must stay at
    the designed set (the payload salted repartition and the payload groupBy
    reassembly, which also carries the ``__error__`` markers) and the policy
    UDF must not multiply back into a per-branch diamond (regression guard
    for the 5-subtree plan this replaced).  Textual counts over-count reused
    subtrees, so unique plan_ids are counted for exchanges."""
    import re

    docs = spark.read.parquet(span_parquet)
    spans_out, _ = extract_docread(spark, docs, ExtractJobCfg(render_dpi=12))
    plan = _phys(spans_out)
    unique_exchanges = {
        m.group(1)
        for m in re.finditer(r"Exchange .*?\[plan_id=(\d+)\]", plan)
    }
    assert len(unique_exchanges) <= 7, plan
    assert plan.count("ArrowEval") <= 6, plan
    # decode output is cached (rendered once, consumed by 3 branches)
    assert "InMemoryTableScan" in plan, plan


def test_passthrough_plans_zero_exchange(spark, tmp_path):
    """A pure-passthrough corpus ('auto' resolves it with the LIMIT-1
    probes) is assembled per row with no shuffle at all: the flat span
    output plans with zero Exchange nodes."""
    path = str(tmp_path / "documents")
    rows = [make_doc(i, seed=41, payload_every=0) for i in range(40)]
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).write.parquet(path)
    docs = spark.read.parquet(path)
    spans_out, _ = extract_docread(spark, docs, ExtractJobCfg(branch="auto"))
    plan = _phys(flatten_spans(spans_out))
    assert "Exchange" not in plan, plan


def test_flat_filter_pushdown_to_scan(spark, span_parquet):
    """A doc_id predicate above the whole extraction must reach the parquet
    scan as a data filter (Catalyst pushdown through the plan head)."""
    docs = spark.read.parquet(span_parquet).filter(F.col("doc_id") == "doc000002")
    spans_out, _ = extract_docread(spark, docs, ExtractJobCfg(render_dpi=12))
    plan = _phys(spans_out)
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,doc000002)" in plan, plan


def test_column_pruning_derived_corpus(spark):
    """The derived-corpus derivation must scan only (doc_id, text) of the
    flat documents table — 2 of 5 columns (explicit pruning check).

    r6: docread_flat consumes the derivation through a localCheckpoint
    barrier (flagship.py rationale), which truncates the visible lineage to
    Scan ExistingRDD — so the pruning assertion moved to the derivation
    plan itself (spans_from_documents), where the FileScan lives."""
    from chug_spark.synth import spans_from_documents

    docs = spans_from_documents(spark, "/root/testdata/sf0.001")
    plan = _phys(docs)
    assert "FileScan parquet [doc_id" in plan
    for unused in ("lang", "source", "n_chars"):
        assert f"{unused}#" not in plan.split("FileScan", 1)[1][:400], plan


def test_decode_stage_is_partitioned(spark, span_parquet):
    """The payload decode runs after an explicit repartition on
    (doc_id, chunk_id) — the salted fan-out the north rule requires."""
    docs = spark.read.parquet(span_parquet)
    spans_out, _ = extract_docread(spark, docs, ExtractJobCfg(render_dpi=12))
    plan = _phys(spans_out)
    assert "hashpartitioning(doc_id" in plan and "chunk_id" in plan, plan


def test_curation_ops_never_cartesian(spark):
    """LSH/IVF candidate generation must stay bucket/broadcast joins — a
    CartesianProduct in any of these plans is the all-pairs scale killer."""
    from chug_spark.ops.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
        simhash_hamming_pairs,
    )
    from chug_spark.ops.similarity import ann_topk_lsh, cosine_pairs_threshold, ivf_topk

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z common tail", "en", "s", 20) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    for name, df in [
        ("minhash", minhash_candidate_pairs(docs)),
        ("jaccard", ngram_jaccard_pairs(docs)),
        ("simhash_pairs", simhash_hamming_pairs(docs)),
        ("ann_lsh", ann_topk_lsh(emb)),
        ("ivf", ivf_topk(emb, n_centroids=8)),
        ("cosine", cosine_pairs_threshold(emb)),
    ]:
        plan = _phys(df)
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"

    # the small sides really broadcast
    for name, df in [
        ("cosine", cosine_pairs_threshold(emb)),
        ("ann_lsh", ann_topk_lsh(emb)),
        ("ivf", ivf_topk(emb, n_centroids=8)),
    ]:
        assert "Broadcast" in _phys(df), name


def test_vocab_topk_plan_is_heap_topk(spark):
    """vocab_topk must plan as TakeOrderedAndProject (per-partition heaps +
    driver merge of k rows) — never a full global sort of the vocabulary."""
    from chug_spark.ops.textstats import vocab_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (i % 3 + 1)) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _phys(vocab_topk(docs, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_library_ops_keep_scan_partitioning(spark, tmp_path):
    """Library ops leave the caller's partitioning alone: a single-file
    documents table of >= 4 MB (small enough for a one-file scan, large
    enough that a byte-threshold heuristic would repartition it) plans with
    no Exchange between the FileScan and the first aggregate."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chug_spark.ops.dsir import doc_gram_counts
    from chug_spark.ops.entry import _docs

    n_docs, words = 600, 512
    texts = [" ".join(os.urandom(8).hex() for _ in range(words)) for _ in range(n_docs)]
    table = pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                      "text": pa.array(texts)})
    path = tmp_path / "documents.parquet"
    pq.write_table(table, path)
    assert path.stat().st_size >= 4 * 1024 * 1024

    docs = _docs(spark, str(tmp_path))
    assert "Exchange" not in _phys(docs), _phys(docs)

    # the plan is linear: everything below the partial aggregate is scan side
    plan = _phys(doc_gram_counts(docs, F.col("doc_id") % 2 == 0))
    scan_side = plan.rsplit("HashAggregate", 1)[1]
    assert "FileScan" in scan_side and "Exchange" not in scan_side, plan
