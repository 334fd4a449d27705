"""Deterministic synthetic corpus generators.

Two corpora:

1. :func:`generate_docs` — adversarial span-table corpus for tests/bench:
   multi-page docs (heavy-tailed page counts for skew), pages with empty text
   (valid-page skipping, ref doc_processor.py:18-45), docs with zero valid
   pages, corrupt anno JSON, corrupt media payloads, docs without media,
   interleaved raw text fragments.  Seeded; no external data.

2. :func:`spans_from_documents` — pure-Spark (no UDF, no RNG) derivation of a
   clean span table from the driver's flat ``documents.parquet``
   (doc_id:int64, text, lang, source, n_chars).  Every construction step is
   deterministic and SQL-portable, so the *same* table can be rebuilt in
   DuckDB SQL for the driver's oracle comparison (see __spark_entry__.py).
"""

from __future__ import annotations

import json
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import media as media_mod
from .schema import DOCUMENTS_SCHEMA

# layout constants for spans_from_documents — shared with the DuckDB oracle SQL
WORDS_PER_LINE = 4
LINES_PER_PAGE = 2
WORDS_PER_PAGE = WORDS_PER_LINE * LINES_PER_PAGE


def generate_docs(
    spark: SparkSession,
    n_docs: int = 200,
    seed: int = 7,
    max_pages: int = 12,
    heavy_tail_every: int = 37,
    heavy_tail_pages: int = 120,
    corrupt_every: int = 23,
    no_media_every: int = 41,
    payload_every: int = 2,
    invalid_page_rate: float = 0.25,
) -> DataFrame:
    """Adversarial span-table corpus (see module docstring). Deterministic in
    all arguments; independent of partitioning."""
    rows = [make_doc(i, seed, max_pages, heavy_tail_every, heavy_tail_pages,
                     corrupt_every, no_media_every, payload_every, invalid_page_rate)
            for i in range(n_docs)]
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def make_doc(
    i: int,
    seed: int,
    max_pages: int = 12,
    heavy_tail_every: int = 37,
    heavy_tail_pages: int = 120,
    corrupt_every: int = 23,
    no_media_every: int = 41,
    payload_every: int = 2,
    invalid_page_rate: float = 0.25,
) -> tuple:
    """One synthetic document as a (doc_id, spans) tuple (plain Python, usable
    without Spark by the pytest oracle)."""
    rng = random.Random(f"{seed}:{i}")
    doc_id = f"doc{i:06d}"
    n_pages = heavy_tail_pages if (heavy_tail_every and i % heavy_tail_every == 0) \
        else rng.randint(1, max_pages)

    pages = []
    for p in range(n_pages):
        r = rng.random()
        if r < invalid_page_rate / 2:
            lines = []  # empty page → invalid
        elif r < invalid_page_rate:
            lines = [""] if rng.random() < 0.5 else []  # [''] is *valid* (truthy list)
        else:
            lines = [
                f"w{rng.randint(0, 9999)} line{p}-{j} of {doc_id}"
                for j in range(rng.randint(1, 4))
            ]
        # null/absent adversarial page shapes are confined to every 13th doc:
        # per-page probabilities would compound (a 12-page doc with ~9%/page
        # weird rate errors out 50%+ of the corpus) and starve the normal
        # decode/skew paths of coverage
        shape = rng.random() if i % 13 == 5 else 1.0
        if shape < 0.25:
            # 'lines' branch lacking 'text' → missing key even though a
            # top-level 'text' exists (no cross-branch fallback)
            pages.append({"lines": {"bbox": []}, "text": lines})
        elif shape < 0.5:
            pages.append({"text": None})  # explicit null == missing (contract)
        elif shape < 0.65:
            pages.append(None)  # null page element == missing
        elif shape < 0.9:
            pages.append({"lines": None, "text": lines})  # null lines → top-level
        elif rng.random() < 0.5:
            pages.append({"text": lines, "bbox": [[0.0, 0.0, 1.0, 1.0]] * len(lines)})
        else:  # nested 'lines' format (doc_read_processor.py:94-108)
            pages.append(
                {
                    "lines": {"text": lines, "bbox": [[0.0, 0.0, 1.0, 1.0]] * len(lines)},
                    "words": {"text": [w for l in lines for w in l.split()], "bbox": []},
                }
            )

    anno_text = json.dumps({"pages": pages})
    if corrupt_every and i % corrupt_every == 0:
        anno_text = anno_text[: max(3, len(anno_text) // 2)]  # truncated → corrupt JSON

    spans = []
    off = 0
    spans.append(("text", f"header fragment of {doc_id}", None, off)); off += 1
    spans.append(("anno", anno_text, None, off)); off += 1
    if not (no_media_every and i % no_media_every == 0):
        if payload_every and i % payload_every == 0:
            mode = ["L", "RGB", "RGBA"][i % 3]
            # media page count sometimes != anno page count (mismatch-warning
            # path, doc_processor.py:136-140); wrap p % n_media applies
            n_media = max(1, n_pages + rng.randint(-2, 2))
            ref = media_mod.make_payload_ref(mode, n_media, seed * 1000 + i)
            if i % 46 == 0:
                ref = media_mod.SYNTH_PREFIX + "L/not_a_number"  # corrupt payload
            spans.append(("media", None, ref, off)); off += 1
        else:
            n_media = max(1, n_pages + (1 if i % 11 == 0 else 0))
            for m in range(n_media):
                spans.append(("media", None, f"page:{doc_id}:{m}", off)); off += 1
    if rng.random() < 0.5:
        spans.append(("text", f"  trailing\t fragment\n of {doc_id}  ", None, off)); off += 1

    # shuffle input span order (offsets keep the truth; extraction must not
    # depend on array order — array_sort on offset is the invariant)
    rng.shuffle(spans)
    return (doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans])


# ---------------------------------------------------------------------------
# clean derived corpus (SQL-portable): driver documents.parquet → span table
# ---------------------------------------------------------------------------


def payload_corpus_from_documents(
    spark: SparkSession, sf_dir: str, corrupt_every: int = 23,
    anno_corrupt_every: int = 31,
) -> DataFrame:
    """Span corpus whose media is a SINGLE synthetic payload ref per doc —
    routes every document down the payload-decode branch (D1/D2, ref
    wds/decode.py:49-164) of extract_docread, unlike
    :func:`spans_from_documents` whose per-page refs take the passthrough
    branch.  Catalyst-only construction, mirrored 1:1 by the
    ``extract_synth_struct`` DuckDB oracle in __spark_entry__.py:

    - span 0: raw text header ``hdr <doc_id>``
    - span 1: anno JSON (same page derivation as spans_from_documents)
    - span 2: payload media ref ``synth://v1/<mode>/<n_media>/<seed>`` with
      mode = [L,RGB,RGBA][doc_id%3], n_media = max(1, n_pages + doc_id%5 - 2)
      (media/anno page-count mismatch → index wrap p % n_media,
      ref doc_processor.py:136-140), seed = doc_id%997;
      every ``corrupt_every``-th doc gets a malformed ref (corrupt-PDF
      analogue → decode error rows + whole-sample skip, wds/helpers.py:41-68);
      every ``anno_corrupt_every``-th doc gets a TRUNCATED anno JSON
      (anno_parse policy error at the anno stage — fires before decode, so a
      doc corrupt in both ways reports only the anno error)
    - span 3 (even doc_id): raw trailing text ``tail <doc_id>``
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    words = F.split(F.col("text"), " ")
    n_pages = F.ceil(F.size(words) / F.lit(WORDS_PER_PAGE)).cast("int")
    page_lines = _page_lines_expr(words, n_pages)
    anno_json = _anno_json_expr(page_lines)

    did = F.col("doc_id").cast("long")
    sid = F.col("doc_id").cast("string")
    mode = F.element_at(
        F.array(F.lit("L"), F.lit("RGB"), F.lit("RGBA")), (F.pmod(did, 3) + 1).cast("int")
    )
    n_media = F.greatest(F.lit(1), n_pages + F.pmod(did, 5).cast("int") - 2)
    ref = F.when(
        F.pmod(did, corrupt_every) == 0,
        F.lit(media_mod.SYNTH_PREFIX + "L/x"),
    ).otherwise(
        F.concat(
            F.lit(media_mod.SYNTH_PREFIX), mode, F.lit("/"),
            n_media.cast("string"), F.lit("/"), F.pmod(did, 997).cast("string"),
        )
    )

    def span(kind, text, media_ref, offset):
        return F.struct(
            F.lit(kind).alias("kind"),
            (text if text is not None else F.lit(None).cast("string")).alias("text"),
            (media_ref if media_ref is not None else F.lit(None).cast("string")).alias(
                "media_ref"
            ),
            F.lit(offset).cast("int").alias("offset"),
        )

    anno_txt = F.when(
        F.pmod(did, anno_corrupt_every) == 0,
        F.substring(anno_json, 1, (F.length(anno_json) / 2).cast("int")),
    ).otherwise(anno_json)
    spans = F.concat(
        F.array(
            span("text", F.concat(F.lit("hdr "), sid), None, 0),
            span("anno", anno_txt, None, 1),
            span("media", None, ref, 2),
        ),
        F.when(
            F.pmod(did, 2) == 0,
            F.array(span("text", F.concat(F.lit("tail "), sid), None, 3)),
        ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")),
    )
    # same nondeterminism guard as spans_from_documents: one evaluation of
    # the span construction, never one per downstream filter/projection
    spans = F.when(F.rand(0) > -1.0, spans).otherwise(spans)
    return docs.select(sid.alias("doc_id"), spans.alias("spans"))


def json_escape(col):
    """JSON string-escape a column (backslash, quote, tab, LF, CR) so the
    hand-built anno JSON stays valid for ANY input text — identity on the
    driver fixture's plain words.  (r5 adversarial-fixture lesson: a word
    containing a double quote or an embedded newline silently corrupted the
    anno JSON, and the doc was dropped as an anno_parse error.)  Mirrored
    1:1 by the chr()-based replace chain in __spark_entry__._SQL_JSON_ESC.
    Control characters other than tab/LF/CR stay out of contract."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    return F.replace(out, F.lit("\r"), F.lit("\\r"))


def _page_lines_expr(words, n_pages):
    """pages as array<array<line-string>>: 8 words/page, 2 lines of 4; empty
    line slices are dropped (shared by both corpus builders)."""
    wpp, wpl = WORDS_PER_PAGE, WORDS_PER_LINE
    return F.transform(
        F.sequence(F.lit(0), n_pages - 1),
        lambda p: F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(wpp // wpl - 1)),
                lambda l: F.array_join(F.slice(words, p * wpp + l * wpl + 1, wpl), " "),
            ),
            lambda s: s != F.lit(""),
        ),
    )


def _anno_json_expr(page_lines):
    """{"pages": [{"text": [...]}, ...]} with JSON-escaped line strings."""
    return F.concat(
        F.lit('{"pages": ['),
        F.array_join(
            F.transform(
                page_lines,
                lambda lines: F.concat(
                    F.lit('{"text": ['),
                    F.array_join(
                        F.transform(
                            lines,
                            lambda s: F.concat(F.lit('"'), json_escape(s), F.lit('"')),
                        ),
                        ", ",
                    ),
                    F.lit("]}"),
                ),
            ),
            ", ",
        ),
        F.lit("]}"),
    )


def spans_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the span-schema documents table from the driver's flat documents
    table, deterministically and with Catalyst expressions only.

    Construction contract (mirrored 1:1 by DuckDB SQL in __spark_entry__.py):

    - words  = split(text, ' ')
    - pages  = consecutive groups of 8 words; lines = groups of 4 words
    - span 0 = anno JSON {"pages":[{"text": [line, ...]}, ...]}
    - span i (1..n_pages) = media span, media_ref = md5(doc_id||':'||page_idx)
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    words = F.split(F.col("text"), " ")
    n_pages = F.ceil(F.size(words) / F.lit(WORDS_PER_PAGE)).cast("int")
    page_lines = _page_lines_expr(words, n_pages)
    anno_json = _anno_json_expr(page_lines)

    anno_span = F.struct(
        F.lit("anno").alias("kind"),
        anno_json.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_spans = F.transform(
        F.sequence(F.lit(0), n_pages - 1),
        lambda p: F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), p.cast("string"))).alias(
                "media_ref"
            ),
            (p + 1).cast("int").alias("offset"),
        ),
    )

    spans = F.concat(F.array(anno_span), media_spans)
    # Nondeterminism guard (the plan-level twin of the policy UDF's
    # asNondeterministic() in extract.py; optimization guide §4.4): the value IS
    # deterministic (rand(0) > -1 is always true), but marking it stops the
    # optimizer substituting this whole construction into pushed-down
    # filters and collapsed projections downstream — measured: the in-flight
    # extraction re-evaluated the anno-JSON build several times per row
    # (filter gate, branch probe, every column referencing it), 11.2 s vs
    # 2.5 s for one evaluation at the driver's sf1.0.
    spans = F.when(F.rand(0) > -1.0, spans).otherwise(spans)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.alias("spans"),
    )
