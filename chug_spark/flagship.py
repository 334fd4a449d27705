"""Flagship query wiring: doc-read extraction over the span table derived
deterministically from the driver's flat documents.parquet (see
synth.spans_from_documents for the construction contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import ExtractJobCfg
from .extract import extract_docread, flatten_spans
from .synth import spans_from_documents


def docread_flat(
    spark: SparkSession, sf_dir: str, page_sampling: str = "all_valid", seed: int = 0
) -> DataFrame:
    """Derived span corpus → doc-read extraction → flat span rows
    (doc_id, offset, kind, text, media_ref) — the same extract_docread →
    flatten_spans tail the production writers run."""
    # Materialize the derived corpus before extraction (lazy localCheckpoint,
    # re-computed on every invocation — nothing persists across query
    # builds): fusing the span construction into the extraction stage made
    # the CodegenFallback array ops (array_sort/filter HOFs in _prepare)
    # an order of magnitude slower than the same ops over stored rows
    # (A/B at the driver's sf1.0: 12.2 s fused vs 2.0 s materialized; the
    # parquet-backed bench leg measures the same machinery at 1.3 s).  The
    # trade is one bounded materialization of the DERIVED corpus — this
    # wiring is the synthetic-corpus scaffold; production extraction reads
    # a stored span table and extracts from it directly.
    docs = spans_from_documents(spark, sf_dir).localCheckpoint(eager=False)
    # the derived corpus is passthrough BY CONSTRUCTION (media_refs are md5
    # hex, never the synth:// payload prefix) — declare the known shape so
    # no LIMIT-1 probe jobs run and the payload subtree is never scheduled
    # (the documented production mode for known-shape tables; the 'auto'
    # payload probe scanned the whole derivation to find zero payload rows)
    cfg = ExtractJobCfg(page_sampling=page_sampling, seed=seed, branch="passthrough")
    return flatten_spans(extract_docread(spark, docs, cfg)[0])
