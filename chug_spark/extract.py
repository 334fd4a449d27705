"""Doc-read extraction pipeline — the flagship job.

Reimplements the semantics of the reference's fused decode+process stage
(``src/chug/task_pipeline/pipeline_doc_read.py:20-62`` →
``src/chug/doc/doc_read_processor.py:43-154`` + ``doc_processor.py:183-232``)
as an idiomatic Spark plan over the span table (BASELINE.json ``input_hint``)::

    documents(doc_id, spans)                               -- Iceberg-shaped scan
      → valid_sample gate (size(spans) > 0)                -- tariterators.py:53
      → Catalyst: anno pick / from_json / validity flags   -- doc_processor.py:184-190
      → pandas UDF: page-sampling policy per doc           -- doc_read_processor.py:52-68
      → payload docs: cap pages per sub-row, salted        -- north rule skew handling
        repartition, decode UDF (render→hash→drop)         -- wds/decode.py:49-122
      → passthrough docs: pure-SQL page pairing            -- no Python at all
      → assemble: groupBy(doc_id) + array_sort → dense offsets
      → errors side-output (doc_id, stage, error)          -- wds/helpers.py:41-68

Design rules (SURVEY.md §4/§7):

- every stochastic choice is a pure function of (doc_id, seed) — output is
  identical at any parallelism;
- filters/projections are Column expressions so Catalyst pushes them into the
  scan; only the page-policy scan (tiny) and payload rendering (heavy) run in
  Python, both Arrow-vectorized;
- a giant multi-page doc is split into ≤max_pages_per_task sub-rows *before*
  the decode UDF and re-assembled by ``array_sort(collect_list(...))`` — span
  order is restored by sort keys, never by collect order.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from . import media as media_mod
from .config import CONTINUE_POLICIES, VALID_PAGE_RETRIES, ExtractJobCfg
from .determinism import doc_rand_below
from .functions import clean_text
from .schema import ANNO_SCHEMA, ERRORS_SCHEMA

# page-validity flags computed SQL-side and consumed by the policy UDF
_FLAG_INVALID = 0   # page has a text list, but it is empty
_FLAG_VALID = 1     # page has a non-empty text list
_FLAG_MISSING = 2   # page lacks both 'lines.text' and 'text' → KeyError in ref


def _policy_udf(page_sampling: str, seed: int):
    """Vectorized page-sampling policy: (doc_id, flags, has_anno, has_media)
    → struct(indices array<int>, error string).

    Faithful to the reference's control flow:
    - ``get_next_valid_page_index`` advance-with-wraparound, ≤10 retries,
      RuntimeError when exhausted (doc_processor.py:18-45);
    - policy branches random/first/last/all_valid/all
      (doc_read_processor.py:52-68; 'last' from the decode path,
      wds/decode.py:228-231), including the wraparound *duplicates*
      ``all_valid`` produces when invalid pages exist;
    - mid-loop RuntimeError in all_valid keeps indices collected so far
      (doc_read_processor.py:69-70 ``except RuntimeError: pass``);
    - a scanned page lacking a text key entirely → KeyError → document error;
    - 'random' start = randrange(-1, num_pages-1) (doc_read_processor.py:55),
      re-keyed on (doc_id, seed) for schedule independence (SURVEY.md §7.4.1).
    """

    ret_type = T.StructType(
        [
            T.StructField("indices", T.ArrayType(T.IntegerType())),
            T.StructField("error", T.StringType()),
        ]
    )

    def next_valid(cur: int, n: int, flags) -> int:
        for _ in range(VALID_PAGE_RETRIES):
            cur = (cur + 1) % n
            f = flags[cur]
            if f == _FLAG_MISSING:
                raise KeyError("text")
            if f == _FLAG_VALID:
                return cur
        raise RuntimeError("no non-empty page found")

    def one(doc_id, flags, has_anno, has_media):
        if not has_anno:
            return None, "no_annotation"
        if flags is None:
            return None, "anno_parse"
        n = len(flags)
        if n == 0:
            return None, "empty_annotation"
        idx: list[int] = []
        try:
            if page_sampling == "random":
                start = doc_rand_below(doc_id, seed, n, tag="page") - 1
                idx = [next_valid(start, n, flags)]
            elif page_sampling == "first":
                idx = [next_valid(-1, n, flags)]
            elif page_sampling == "last":
                # literal last page, no valid-page scan: the reference's
                # 'last' exists only in the decode path, as page_indices=[-1]
                # (wds/decode.py:228-231); an empty page yields an empty text
                # span, a missing text key is still a document error
                if flags[n - 1] == _FLAG_MISSING:
                    raise KeyError("text")
                idx = [n - 1]
            elif page_sampling == "all_valid":
                cur = -1
                for _ in range(n):
                    cur = next_valid(cur, n, flags)
                    idx.append(cur)
            elif page_sampling == "all":
                # text assembly raises on the FIRST empty/missing page, in
                # page order (doc_read_processor.py:118-119 + KeyError on a
                # missing text key) → whole-sample skip
                for f in flags:
                    if f == _FLAG_MISSING:
                        return None, "missing_text_key"
                    if f == _FLAG_INVALID:
                        return None, "empty_page_in_all"
                idx = list(range(n))
            else:  # pragma: no cover
                return None, f"bad_policy:{page_sampling}"
        except RuntimeError:
            pass
        except KeyError:
            return None, "missing_text_key"
        if not idx:
            return None, "no_valid_pages"
        if not has_media:
            return None, "no_page_images"
        return idx, None

    @F.pandas_udf(ret_type)
    def select_pages(
        doc_id: pd.Series, flags: pd.Series, has_anno: pd.Series, has_media: pd.Series
    ) -> pd.DataFrame:
        out_idx, out_err = [], []
        for d, fl, ha, hm in zip(doc_id, flags, has_anno, has_media):
            i, e = one(d, None if fl is None else list(fl), bool(ha), bool(hm))
            out_idx.append(i)
            out_err.append(e)
        return pd.DataFrame({"indices": out_idx, "error": out_err})

    # The function IS pure (hash-keyed determinism), but marking it
    # nondeterministic stops Catalyst from substituting the UDF call into
    # Filter conditions (where PythonUDF is unevaluable) and from duplicating
    # it across the ok/error branches via CollapseProject.
    return select_pages.asNondeterministic()


def _decode_udf(image_mode: str, render_dpi: int, max_pages: int):
    """mapInPandas body for the payload branch: render selected pages of the
    synthetic media payload → stable content refs (decode semantics of
    wds/decode.py:49-122: index wrap p % num_pages, render scale dpi/72,
    mode conversion).  Pixels are hashed and dropped inside the loop —
    nothing pixel-sized crosses Arrow (SURVEY.md §7.4.5)."""

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("anchor", T.IntegerType()),
            T.StructField("k_global", T.IntegerType()),
            T.StructField("page_text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def decode(batches):
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "anchor", "k_global", "page_text", "media_ref", "error")}
            for doc_id, anchor, chunk_id, payload, indices, texts in zip(
                pdf["doc_id"], pdf["anchor"], pdf["chunk_id"],
                pdf["payload"], pdf["chunk_indices"], pdf["chunk_texts"],
            ):
                try:
                    mode_in, num_pages, seed = media_mod.parse_payload_ref(payload)
                    for pos, (page_idx, page_text) in enumerate(zip(indices, texts)):
                        arr = media_mod.render_page(
                            seed, int(page_idx) % num_pages,
                            image_mode=image_mode, render_dpi=render_dpi,
                        )
                        ref = media_mod.content_ref(arr)
                        del arr
                        rows["doc_id"].append(doc_id)
                        rows["anchor"].append(anchor)
                        rows["k_global"].append(int(chunk_id) * max_pages + pos)
                        rows["page_text"].append(page_text)
                        rows["media_ref"].append(ref)
                        rows["error"].append(None)
                except Exception as exn:  # corrupt payload → error row, keep going
                    rows["doc_id"].append(doc_id)
                    rows["anchor"].append(anchor)
                    rows["k_global"].append(None)
                    rows["page_text"].append(None)
                    rows["media_ref"].append(None)
                    rows["error"].append(f"media_decode:{type(exn).__name__}")
            yield pd.DataFrame(rows)

    return decode, out_schema


def _prepare(docs: DataFrame, cfg: ExtractJobCfg) -> DataFrame:
    """Catalyst-only derivation of per-doc working columns from the span
    array.  No shuffle, no Python; everything prunes/pushes down."""
    ss = F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)")
    annos = F.filter(ss, lambda s: s["kind"] == F.lit("anno"))
    medias = F.filter(ss, lambda s: s["kind"] == F.lit("media"))
    texts = F.filter(ss, lambda s: s["kind"] == F.lit("text"))

    df = (
        docs
        # valid_sample gate: drop empty samples silently (tariterators.py:53)
        .filter(F.size("spans") > 0)
        .select(
            "doc_id",
            annos.alias("_annos"),
            medias.alias("_medias"),
            texts.alias("text_spans"),
        )
        .select(
            "doc_id",
            "text_spans",
            F.get("_annos", 0)["text"].alias("anno_txt"),
            F.get("_annos", 0)["offset"].alias("anchor"),
            F.get("_medias", 0)["media_ref"].alias("first_media"),
            F.transform("_medias", lambda s: s["media_ref"]).alias("media_refs"),
        )
        .withColumn("pages", F.from_json("anno_txt", ANNO_SCHEMA)["pages"])
        # Effective page text: lines.text when a 'lines' branch exists, else
        # top-level text — NO cross-branch fallback: a 'lines' struct lacking
        # 'text' is a missing key (ref doc_processor.py:40-43 KeyError), even
        # if a top-level 'text' also exists.  from_json conflates absent keys
        # with explicit JSON nulls, so the engine contract is null == missing
        # on both branches; the pytest oracle (tests/oracle.py:_page_lines)
        # mirrors this exactly.
        .withColumn(
            "page_texts",
            F.transform(
                "pages",
                lambda p: F.when(p["lines"].isNotNull(), p["lines"]["text"]).otherwise(
                    p["text"]
                ),
            ),
        )
        .withColumn(
            "flags",
            F.transform(
                "pages",
                lambda p: F.when(
                    (p["lines"].isNotNull() & p["lines"]["text"].isNull())
                    | (p["lines"].isNull() & p["text"].isNull()),
                    F.lit(_FLAG_MISSING),
                )
                .when(
                    F.size(
                        F.when(p["lines"].isNotNull(), p["lines"]["text"]).otherwise(
                            p["text"]
                        )
                    )
                    > 0,
                    F.lit(_FLAG_VALID),
                )
                .otherwise(F.lit(_FLAG_INVALID)),
            ),
        )
        .withColumn("is_payload", F.col("first_media").startswith(media_mod.SYNTH_PREFIX))
        .withColumn("n_media", F.size("media_refs"))
    )
    return df


def _raw_items(text_spans_col):
    """raw input text spans, whitespace-cleaned, as (anchor, sub, kind,
    text, media_ref) items"""
    return F.transform(
        text_spans_col,
        lambda t: F.struct(
            t["offset"].alias("anchor"),
            F.lit(0).alias("sub"),
            F.lit("text").alias("kind"),
            clean_text(t["text"]).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
        ),
    )


def _finish_items(items):
    """sort by (anchor, sub) — leading struct fields, so the default
    array_sort comparator applies — then dense-renumber offsets"""
    return F.transform(
        F.array_sort(items),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def _payload_probe():
    """True for a doc whose first media span (by offset) is a payload ref.

    Cheap branch probe evaluated BEFORE any heavy work: payload vs
    passthrough is decided from the first media span's ref prefix alone (no
    json parse, no UDF), so each branch runs the heavy derivation only over
    its own subset of rows; for a pure-passthrough corpus the payload
    subtree filters everything out at the scan.

    Deliberate trade-off: the two branches each scan the input (2x read)
    instead of materializing a probe-tagged intermediate.  The probe is a
    cheap columnar expression evaluated during the scan, while a shared
    intermediate would cost a full-corpus shuffle or cache — infeasible at
    10^12 docs — and would drag passthrough rows (zero-shuffle path) through
    the payload subtree's exchanges.  Scans are the cheap,
    horizontally-scaling resource here; shuffles are not."""
    return F.coalesce(
        F.get(
            F.expr(
                "array_sort(filter(spans, s -> s.kind = 'media'),"
                " (a, b) -> a.offset - b.offset)"
            ),
            0,
        )["media_ref"].startswith(media_mod.SYNTH_PREFIX),
        F.lit(False),
    )


def _gated(docs: DataFrame) -> DataFrame:
    # valid_sample gate: drop empty samples silently (tariterators.py:53)
    return docs.filter(F.size("spans") > 0)


def resolve_branch(docs: DataFrame, branch: str) -> str:
    """The corpus branch shape: ``branch`` itself unless it is 'auto'.

    An absent branch still schedules its whole subtree (second scan, policy
    UDF stage, chunk explode, repartition exchange, mapInPandas Python
    workers, persist, window) — measured 3.0 s of fixed overhead at sf0.1
    for a pure-passthrough corpus.  'auto' resolves the shape with two
    LIMIT-1 probe jobs: on a mixed corpus each stops at the first matching
    row (~one scan partition); on a homogeneous corpus one probe pays a
    single-column scan and buys skipping the entire other subtree.  At
    10^12 rows the shape is a known table property — set cfg.branch
    explicitly and no probe job runs.

    The answer holds for any subset of ``docs``: a subset of a homogeneous
    corpus is homogeneous, and 'mixed' is correct for any input (an absent
    branch filters to nothing)."""
    if branch != "auto":
        return branch
    gated, probe = _gated(docs), _payload_probe()
    has_pl = not gated.filter(probe).isEmpty()
    has_pt = not gated.filter(~probe).isEmpty()
    return "mixed" if (has_pl and has_pt) else ("payload" if has_pl else "passthrough")


def _extract_core(
    spark: SparkSession, docs: DataFrame, cfg: ExtractJobCfg
):
    """Front of the extraction pipeline: branch resolution + split,
    per-branch derivation + page-sampling policy, payload chunking + decode
    UDF.  Returns ``(pt_ok, pl_ok, policy_errors, decoded_ok,
    decode_errors)``; :func:`extract_docread` assembles the spans from these.
    """
    branch = resolve_branch(docs, cfg.branch)
    gated, probe = _gated(docs), _payload_probe()
    pt_in = gated.filter(~probe) if branch in ("mixed", "passthrough") else None
    pl_in = gated.filter(probe) if branch in ("mixed", "payload") else None

    select_pages = _policy_udf(cfg.page_sampling, cfg.seed)

    def prepared(branch_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """heavy derivation + page policy over one branch; returns (ok, errors)"""
        df = _prepare(branch_docs, cfg)
        sel = select_pages(
            F.col("doc_id"), F.col("flags"),
            F.col("anno_txt").isNotNull(), F.col("n_media") > 0,
        )
        df = df.withColumn("sel", sel).select(
            "doc_id", "text_spans", "anchor", "first_media", "media_refs",
            "page_texts", "n_media",
            F.col("sel")["indices"].alias("indices"),
            F.col("sel")["error"].alias("error"),
        )
        errs = df.filter(F.col("error").isNotNull()).select(
            "doc_id", F.lit("anno").alias("stage"), F.col("error").alias("error")
        )
        # pre-join selected page text SQL-side: only the selected pages'
        # strings cross into any UDF (explicit column pruning, SURVEY.md §4)
        ok = (
            df.filter(F.col("error").isNull())
            .withColumn(
                "sel_texts",
                F.transform(
                    "indices",
                    lambda i: F.array_join(F.get("page_texts", i), cfg.line_break),
                ),
            )
            .drop("page_texts")
        )
        return ok, errs

    pt_ok, pt_errors = prepared(pt_in) if pt_in is not None else (None, None)
    if pl_in is None:
        policy_errors = pt_errors if pt_errors is not None else empty_errors(spark)
        return pt_ok, None, policy_errors, None, None
    pl_ok, pl_errors = prepared(pl_in)
    policy_errors = pl_errors if pt_errors is None else pt_errors.unionByName(pl_errors)

    # ---------------- payload branch: cap -> salt -> decode UDF --------------
    k = cfg.max_pages_per_task
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    payload_rows = (
        pl_ok
        .select(
            "doc_id", "anchor", F.col("first_media").alias("payload"),
            F.posexplode(
                # per-partition size cap: <=k pages decoded per task row
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor((F.size("indices") - 1) / k).cast("int")
                    ),
                    lambda c: F.struct(
                        F.slice("indices", c * k + 1, k).alias("chunk_indices"),
                        F.slice("sel_texts", c * k + 1, k).alias("chunk_texts"),
                    ),
                )
            ).alias("chunk_id", "chunk"),
        )
        .select(
            "doc_id", "anchor", "payload", "chunk_id",
            F.col("chunk")["chunk_indices"].alias("chunk_indices"),
            F.col("chunk")["chunk_texts"].alias("chunk_texts"),
        )
        # salted repartition on (doc_id, chunk_id): a giant doc's chunks fan
        # out across executors instead of stalling one (north rule)
        .repartition(n_parts, "doc_id", "chunk_id")
    )
    decode_fn, decode_schema = _decode_udf(cfg.image_mode, cfg.render_dpi, k)
    decoded = payload_rows.mapInPandas(decode_fn, schema=decode_schema)
    # consumed three times (ok rows, __error__ markers, errors side-output):
    # never render a page more than once
    decoded = decoded.persist(StorageLevel.MEMORY_AND_DISK)
    decode_errors = decoded.filter(F.col("error").isNotNull()).select(
        "doc_id", F.lit("media").alias("stage"), F.col("error").alias("error")
    )
    decoded_ok = decoded.filter(F.col("error").isNull())
    return pt_ok, pl_ok, policy_errors, decoded_ok, decode_errors


def extract_docread(
    spark: SparkSession, docs: DataFrame, cfg: Optional[ExtractJobCfg] = None
) -> tuple[DataFrame, DataFrame]:
    """Run doc-read extraction.  Returns ``(spans_out, errors)``:

    - ``spans_out``: nested ``(doc_id, spans)`` with the output span contract —
      per selected page k: a text span (lines joined by cfg.line_break,
      doc_read_processor.py:121) then its paired media span, anchored at the
      annotation's input position; raw input text spans pass through
      (cleaned) at their own positions; offsets renumbered densely 0..n-1.
    - ``errors``: (doc_id, stage, error) lineage rows for skipped documents
      (continue-policy analogue of wds/helpers.py:41-68).

    Documents that error at any stage contribute *no* output spans (the
    reference's whole-sample skip).  Flat consumers take
    ``flatten_spans(spans_out)``.
    """
    cfg = (cfg or ExtractJobCfg()).validate()
    pt_ok, pl_ok, policy_errors, decoded_ok, decode_errors = _extract_core(
        spark, docs, cfg
    )
    if pl_ok is None:
        return _passthrough_nested(pt_ok), policy_errors
    payload_nested = _payload_nested(pl_ok, decoded_ok, decode_errors)
    errors = policy_errors.unionByName(decode_errors)
    if pt_ok is None:
        return payload_nested, errors
    return _passthrough_nested(pt_ok).unionByName(payload_nested), errors


def _payload_nested(
    pl_ok: DataFrame, decoded_ok: DataFrame, decode_errors: DataFrame
) -> DataFrame:
    """payload assembly: decode rows + raw input spans -> span items ->
    regroup per doc.

    Dense offset renumbering + nesting happen in ONE shuffle; span order is
    restored by sort keys, never by collect_list order (SURVEY.md §7.4.3).
    Each decode-error chunk adds one ``__error__`` marker item that rides
    the SAME doc_id shuffle, so the whole-sample skip (a doc with any decode
    error contributes nothing) is an exists-predicate on the grouped array
    instead of a ``broadcast(bad_docs)`` anti-join — which both forced a
    full decode pass to finish before the main stage could start AND
    broadcast a set whose size scales with the error count (unbounded at
    10^12 docs)."""
    page_spans = decoded_ok.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("anchor").alias("anchor"),
                    (F.col("k_global") * 2).alias("sub"),
                    F.lit("text").alias("kind"),
                    F.col("page_text").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                ),
                F.struct(
                    F.col("anchor").alias("anchor"),
                    (F.col("k_global") * 2 + 1).alias("sub"),
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.col("media_ref").alias("media_ref"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.*")
    raw_spans = (
        pl_ok
        .select("doc_id", F.explode(_raw_items(F.col("text_spans"))).alias("s"))
        .select("doc_id", "s.*")
    )
    marks = decode_errors.select(
        "doc_id",
        F.lit(-1).alias("anchor"),
        F.lit(-1).alias("sub"),
        F.lit("__error__").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )
    return (
        page_spans.unionByName(raw_spans).unionByName(marks)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct("anchor", "sub", "kind", "text", "media_ref")
            ).alias("items")
        )
        .filter(~F.exists("items", lambda s: s["kind"] == F.lit("__error__")))
        .select("doc_id", _finish_items(F.col("items")).alias("spans"))
    )


def _passthrough_nested(pt_ok: DataFrame) -> DataFrame:
    # ---------------- passthrough branch: one projection, ZERO shuffle -------
    # pre-resolved media docs never touch Python and never explode: the final
    # ordered span array is assembled per-row with higher-order functions
    pt_page_items = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("indices") - 1),
            lambda j: F.array(
                F.struct(
                    F.col("anchor").alias("anchor"),
                    (j * 2).alias("sub"),
                    F.lit("text").alias("kind"),
                    F.get("sel_texts", j).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                ),
                F.struct(
                    F.col("anchor").alias("anchor"),
                    (j * 2 + 1).alias("sub"),
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.get(
                        "media_refs",
                        F.pmod(F.get("indices", j), F.col("n_media")).cast("int"),
                    ).alias("media_ref"),
                ),
            ),
        )
    )
    return pt_ok.select(
        "doc_id",
        _finish_items(
            F.concat(_raw_items(F.col("text_spans")), pt_page_items)
        ).alias("spans"),
    )


def flatten_spans(spans_out: DataFrame) -> DataFrame:
    """Nested (doc_id, spans) → flat (doc_id, offset, kind, text, media_ref)."""
    return spans_out.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s")["offset"].alias("offset"),
        F.col("s")["kind"].alias("kind"),
        F.col("s")["text"].alias("text"),
        F.col("s")["media_ref"].alias("media_ref"),
    )


def run_extract(
    spark: SparkSession, docs: DataFrame, cfg: Optional[ExtractJobCfg] = None
) -> tuple[DataFrame, DataFrame]:
    """extract_docread + error-policy enforcement (stop policies fail the job,
    mirroring the reference handler registry wds/helpers.py:57-65)."""
    cfg = (cfg or ExtractJobCfg()).validate()
    spans_out, errors = extract_docread(spark, docs, cfg)
    if cfg.error_handler not in CONTINUE_POLICIES:
        first = errors.limit(1).collect()
        if first:
            r = first[0]
            raise RuntimeError(
                f"extraction error (policy={cfg.error_handler}): "
                f"doc={r['doc_id']} stage={r['stage']} error={r['error']}"
            )
    return spans_out, errors


def empty_errors(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], ERRORS_SCHEMA)


#: span kinds the engine emits (extract pipeline: text/media; the derived
#: span corpus additionally carries 'anno' annotation spans)
KNOWN_SPAN_KINDS = ("text", "media", "anno")


def audit_spans(
    spans: DataFrame, known_kinds: tuple = KNOWN_SPAN_KINDS
) -> DataFrame:
    """Span-table data-quality audit: one row per doc over a FLAT span
    relation (doc_id, offset, kind, text, media_ref), checking the
    engine's interleaved-span invariants:

    - ``dense``: offsets are exactly 0..n-1 with no gaps or duplicates
    - media spans carry a media_ref and no text (``n_bad_media`` counts
      violations); non-media spans carry no media_ref (``n_bad_ref``)
    - every kind is known (``n_unknown``)

    ``ok`` folds them all.  At 10^12 rows this is the cheap standing
    gate between extraction and consumers — ONE map-side-combined agg
    keyed on doc_id, no joins, no windows.
    """
    off = F.col("offset")
    kind = F.col("kind")
    n = F.count(F.lit(1))
    g = spans.groupBy("doc_id").agg(
        n.cast("int").alias("n_spans"),
        F.sum((kind == "text").cast("int")).cast("int").alias("n_text"),
        F.sum((kind == "media").cast("int")).cast("int").alias("n_media"),
        F.sum((kind == "anno").cast("int")).cast("int").alias("n_anno"),
        # fail CLOSED: a NULL kind makes isin() NULL, which sum() would
        # silently skip — coalesce so NULL kinds count as unknown (ADVICE r5)
        F.sum((~F.coalesce(kind.isin(*known_kinds), F.lit(False))).cast("int"))
        .cast("int").alias("n_unknown"),
        # fail CLOSED: a group whose offsets are all NULL yields NULL
        # min/max — a broken table must audit false, not NULL (ADVICE r5)
        F.coalesce(
            (F.min(off) == 0)
            & (F.max(off) == n - 1)
            & (F.countDistinct(off) == n),
            F.lit(False),
        ).alias("dense"),
        F.sum(
            (
                (kind == "media")
                & (F.col("media_ref").isNull() | F.col("text").isNotNull())
            ).cast("int")
        ).cast("int").alias("n_bad_media"),
        F.sum(
            ((kind != "media") & F.col("media_ref").isNotNull()).cast("int")
        ).cast("int").alias("n_bad_ref"),
    )
    ok = F.coalesce(
        F.col("dense")
        & (F.col("n_unknown") == 0)
        & (F.col("n_bad_media") == 0)
        & (F.col("n_bad_ref") == 0),
        F.lit(False),
    )
    return g.select("*", ok.alias("ok"))
