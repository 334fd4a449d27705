"""Schemas and key-priority constants for the chug_spark extraction engine.

The input/output data model is the span table mandated by BASELINE.json
``input_hint``::

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

Span kinds on *input* (raw, as a wds-style reader would surface the grouped
sample members, cf. reference ``src/chug/wds/tariterators.py:28-59``):

- ``text``  — a raw text fragment (passes through extraction with cleanup)
- ``anno``  — an OCR/page-annotation JSON payload (the ``json``/``pages`` member
  of a chug sample, cf. ``src/chug/doc/doc_processor.py:184-190``)
- ``media`` — a media payload reference; either a pre-resolved page reference
  or a decodable ``synth://`` payload (stand-in for pdf/tiff bytes, see
  :mod:`chug_spark.media`)

Span kinds on *output*: ``text`` and ``media`` only, offsets dense 0..n-1 in
document order.  Per-row invariant vs the reference: span-sequence equality on
``(kind, text, media_ref, order)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Key-priority constants (mirrors reference src/chug/doc/constants.py:3-6 and
# src/chug/task_pipeline/pipeline_image_text.py:10-11)
# ---------------------------------------------------------------------------

DEFAULT_DOC_KEY = "pdf;tif;png;jpeg;jpg;webp;image"
DEFAULT_QUESTION_KEY = "question;query"
DEFAULT_QUESTION_ID_KEY = "question_id;query_id"
DEFAULT_ANSWER_KEY = "answer;answers"
DEFAULT_IMG_KEY = "jpg;png;jpeg;webp;tif"
DEFAULT_TXT_KEY = "txt"
DEFAULT_GT_KEY = "ground_truth"

# Donut-style VQA prompt tokens (reference src/chug/doc/doc_vqa_processor.py:21-24)
DEFAULT_QUESTION_PREFIX = "<s_question>"
DEFAULT_QUESTION_SUFFIX = "</s_question>"
DEFAULT_ANSWER_PREFIX = "<s_answer>"
DEFAULT_ANSWER_SUFFIX = "</s_answer>"

# ---------------------------------------------------------------------------
# Span table schemas
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

# Output of the extraction job, nested form (same span schema as input).
SPANS_OUT_SCHEMA = DOCUMENTS_SCHEMA

# Flat (exploded) span rows — the working representation inside the job and
# the easiest shape to compare/hash.
FLAT_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("offset", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Page-annotation schema (the two formats the reference supports,
# src/chug/doc/doc_read_processor.py:82-111):
#   flat:   {"pages": [{"text": [...], "bbox": [[...]]}]}
#   nested: {"pages": [{"lines": {"text": [...], "bbox": [...]},
#                       "words": {"text": [...], "bbox": [...]}}]}
# One permissive StructType covers both; F.from_json leaves absent branches
# null, which is exactly chug's `anno_page.get('lines', anno_page)` fallback.
# ---------------------------------------------------------------------------

_LINES_STRUCT = T.StructType(
    [
        T.StructField("text", T.ArrayType(T.StringType())),
        T.StructField("bbox", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)

PAGE_STRUCT = T.StructType(
    [
        T.StructField("text", T.ArrayType(T.StringType())),
        T.StructField("bbox", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("lines", _LINES_STRUCT),
        T.StructField("words", _LINES_STRUCT),
    ]
)

ANNO_SCHEMA = T.StructType([T.StructField("pages", T.ArrayType(PAGE_STRUCT))])

# ---------------------------------------------------------------------------
# Error side-output (the checkpoint lineage table's schema is
# checkpoint.CHECKPOINT_TABLE_SCHEMA)
# ---------------------------------------------------------------------------

# Per-document error/lineage rows emitted by the extract UDF when the error
# policy is a *continue* flavor (reference handler registry
# src/chug/wds/helpers.py:57-65).
ERRORS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("stage", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
