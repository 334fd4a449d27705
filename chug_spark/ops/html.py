"""HTML main-content extraction: boilerplate strip + block heuristics.

The north rule's extraction triad is "HTML boilerplate strip, PDF/layout
parse, DOM heuristics" — PDF/layout lives in ``extract.py``/``media.py``;
this module is the HTML leg, built as pure Column expressions (JVM-side,
WholeStageCodegen, zero Python) in the jusText/readability tradition:

1. kill non-content subtrees wholesale (``script style nav header footer
   aside`` — the DOM regions that are boilerplate by construction);
2. segment what remains into block-level units (p/div/h*/li/td/br
   boundaries — the flat-text analogue of DOM block nodes);
3. score each block: visible-text length and LINK DENSITY (share of the
   block's text inside <a> anchors — the single most effective
   main-vs-chrome discriminator in the readability literature);
4. keep blocks that are long enough and not link-dominated; join in
   document order; unescape the basic entities.

Everything is deterministic regex/HOF work, so the DuckDB oracle reproduces
it bit-for-bit and the driver value-checks the whole pipeline.  At corpus
scale the op is a pure map (no shuffle, pushes behind scans); a giant page
costs O(page bytes) like any other row — page-size capping upstream is the
skew control, same as the PDF path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: subtrees removed wholesale before block segmentation (head first: title
#: is extracted separately from the raw html, the rest of head is metadata)
BOILERPLATE_TAGS = ("head", "script", "style", "nav", "header", "footer", "aside")

#: tags treated as block boundaries
_BLOCK_TAG_RE = r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|br)[^>]*>"

#: quoted-src image tags (RE2/Java compatible; backref syntax differs per engine)
_IMG_TAG_RE = "(?is)<img[^>]*src\\s*=\\s*[\"']([^\"']*)[\"'][^>]*>"

_SEP = "\x1e"  # record separator: never appears in text
_IMG_MARK = "IMG\x1f"  # unit separator keeps the marker un-typeable in text


def strip_boilerplate(html: Column) -> Column:
    for t in BOILERPLATE_TAGS:
        html = F.regexp_replace(html, f"(?is)<{t}[^>]*>.*?</{t}>", " ")
    return html


def strip_tags(s: Column) -> Column:
    return F.regexp_replace(s, r"<[^>]*>", " ")


def unescape_entities(s: Column) -> Column:
    # &amp; LAST so '&amp;lt;' round-trips to '&lt;' on both engines
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return s


def _norm_ws(s: Column) -> Column:
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def extract_title(html: Column) -> Column:
    return _norm_ws(F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1))


def html_main_content(
    docs: DataFrame,
    html_col: str = "html",
    min_block_chars: int = 20,
    max_link_density: float = 0.5,
) -> DataFrame:
    """(doc_id, title, main_text, n_kept, n_dropped): jusText-style
    main-content extraction over an HTML string column.  ``main_text`` is
    the kept blocks joined by '\\n' in document order."""
    # NULL pages behave as empty pages (empty outputs, zero counts) rather
    # than poisoning every downstream column with NULL
    html = F.coalesce(F.col(html_col), F.lit(""))
    body = strip_boilerplate(html)

    # block segmentation: block tags become separators, then split
    blocks_raw = F.split(
        F.regexp_replace(body, _BLOCK_TAG_RE, _SEP), _SEP
    )

    scored = F.transform(
        blocks_raw,
        lambda b: F.struct(
            _norm_ws(unescape_entities(strip_tags(b))).alias("text"),
            _link_text_len(b).alias("link_len"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["text"]) >= min_block_chars)
        & (
            s["link_len"]
            <= F.greatest(F.length(s["text"]), F.lit(1)) * max_link_density
        ),
    )
    n_total = F.size(F.filter(scored, lambda s: F.length(s["text"]) > 0))

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        extract_title(html).alias("title"),
        F.array_join(F.transform(kept, lambda s: s["text"]), "\n").alias("main_text"),
        F.size(kept).cast("int").alias("n_kept"),
        (n_total - F.size(kept)).cast("int").alias("n_dropped"),
    )


def _link_text_len(b: Column) -> Column:
    """total visible chars inside <a> anchors of one block"""
    return F.aggregate(
        F.regexp_extract_all(b, F.lit(r"(?is)<a[^>]*>(.*?)</a>"), F.lit(1)),
        F.lit(0),
        lambda acc, a: acc + F.length(_norm_ws(strip_tags(a))),
    )


def _html_pieces(html: Column) -> Column:
    """boilerplate-stripped, img-marked, block-segmented pieces array"""
    body = strip_boilerplate(F.coalesce(html, F.lit("")))
    # quoted <img src> becomes its own segment: SEP + marker + src + SEP
    body = F.regexp_replace(body, _IMG_TAG_RE, _SEP + _IMG_MARK + "$1" + _SEP)
    return F.split(F.regexp_replace(body, _BLOCK_TAG_RE, _SEP), _SEP)


def _score_struct(
    b: Column, min_block_chars: int, max_link_density: float, media_kind: str
) -> Column:
    """(kind, text, media_ref, keep) struct for one segment"""
    is_img = F.startswith(b, F.lit(_IMG_MARK))
    clean = _norm_ws(unescape_entities(strip_tags(b)))
    keep_text = (F.length(clean) >= min_block_chars) & (
        _link_text_len(b)
        <= F.greatest(F.length(clean), F.lit(1)) * max_link_density
    )
    return F.struct(
        F.when(is_img, F.lit(media_kind)).otherwise(F.lit("text")).alias("kind"),
        F.when(is_img, F.lit(None).cast("string")).otherwise(clean).alias("text"),
        F.when(is_img, F.substring(b, len(_IMG_MARK) + 1, 1 << 30))
        .otherwise(F.lit(None).cast("string"))
        .alias("media_ref"),
        (is_img | keep_text).alias("keep"),
    )


def html_to_docread_samples(
    docs: DataFrame,
    html_col: str = "html",
    min_block_chars: int = 20,
    max_link_density: float = 0.5,
) -> DataFrame:
    """Raw HTML → a proper *docread sample* per page, ``(doc_id string,
    spans [anno, media...])``: the kept text blocks become the annotation's
    pages (one page per block, ``{"pages": [{"text": ["..."]}, ...]}`` via
    ``to_json`` so escaping is engine-correct) and each ``<img src>`` target
    becomes a page-image media span.  This is the shape
    :func:`chug_spark.extract.extract_docread` consumes — page-sampling
    policies, pairing, and error lineage (``no_page_images`` for image-less
    pages, ``empty_annotation`` for content-less ones) all apply to web
    pages exactly as to wds shards.  Map-only; zero shuffle."""
    pieces = _html_pieces(F.col(html_col))
    kept = F.filter(
        F.transform(
            pieces,
            lambda b: _score_struct(b, min_block_chars, max_link_density, "media"),
        ),
        lambda s: s["keep"],
    )
    texts = F.transform(
        F.filter(kept, lambda s: s["kind"] == "text"), lambda s: s["text"]
    )
    medias = F.transform(
        F.filter(kept, lambda s: s["kind"] == "media"), lambda s: s["media_ref"]
    )
    anno_json = F.to_json(
        F.struct(
            F.transform(texts, lambda t: F.struct(F.array(t).alias("text"))).alias(
                "pages"
            )
        )
    )
    spans = F.concat(
        F.array(
            F.struct(
                F.lit("anno").alias("kind"),
                anno_json.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ),
        F.transform(
            medias,
            lambda m, i: F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                m.alias("media_ref"),
                (i + 1).cast("int").alias("offset"),
            ),
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )


def html_to_span_arrays(
    docs: DataFrame,
    html_col: str = "html",
    min_block_chars: int = 20,
    max_link_density: float = 0.5,
    media_kind: str = "media",
) -> DataFrame:
    """Input-contract twin of :func:`html_to_spans`: one row per doc,
    ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`` —
    the exact span-table shape the extraction job consumes, with image
    spans emitted under ``media_kind`` ('media' = the input contract's
    media kind, so extracted ``<img>`` targets flow through the pipeline
    as pre-resolved media references).

    Built entirely map-side (array transform/filter, offsets from the
    element index) — ZERO shuffle, because a source adapter should add no
    exchange of its own; the extraction job downstream owns the shuffles.
    The per-element lambdas run interpreted (the HOF tax), which is the
    right trade here: a source feeding the full extraction pipeline is
    not the hot loop, and shuffle-free beats 2× per-element CPU at scan
    time.  Row-granular analytics should use :func:`html_to_spans`.
    """
    pieces = _html_pieces(F.col(html_col))
    kept = F.filter(
        F.transform(
            pieces,
            lambda b: _score_struct(b, min_block_chars, max_link_density, media_kind),
        ),
        lambda s: s["keep"],
    )
    spans = F.transform(
        kept,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )


def html_to_spans(
    docs: DataFrame,
    html_col: str = "html",
    min_block_chars: int = 20,
    max_link_density: float = 0.5,
) -> DataFrame:
    """HTML -> the engine's interleaved span model: one ordered row per kept
    span, ``(doc_id, offset, kind, text, media_ref)`` — ``kind='text'`` rows
    carry the cleaned block text (``media_ref`` NULL), ``kind='image'`` rows
    carry the ``<img src>`` target (``text`` NULL).  ``offset`` is the 0-based
    document-order index over kept spans, matching the flagship's
    ``spans:array<struct<kind,text,media_ref,offset>>`` contract
    (reference: interleaved image-text pairing in chug/wds decode,
    ``/root/reference/src/chug/wds/decode.py``): this op makes raw HTML a
    first-class source for the extraction pipeline.

    Heuristics are the same jusText-style gates as :func:`html_main_content`
    (boilerplate subtrees die first — so a logo inside ``<nav>`` never becomes
    a media span — then blocks gate on length + link density).  Images always
    survive the gate: a figure between two dropped chrome blocks still lands
    at its document-order position.

    Plan shape: posexplode FIRST, then score each segment as plain codegen
    columns — the same explode-over-HOF rewrite as the shingle pipeline
    (interpreted per-element lambdas measured 2.3× slower here, bit-identical
    output); dense per-doc offsets come from one row_number window, i.e. ONE
    keyed shuffle whose volume is the output span stream itself.
    """
    pieces = _html_pieces(F.col(html_col))
    b = F.col("_b")
    is_img = F.startswith(b, F.lit(_IMG_MARK))
    clean = _norm_ws(unescape_entities(strip_tags(b)))
    keep_text = (F.length(clean) >= min_block_chars) & (
        _link_text_len(b)
        <= F.greatest(F.length(clean), F.lit(1)) * max_link_density
    )
    w = Window.partitionBy("doc_id").orderBy("_pos")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.posexplode(pieces).alias("_pos", "_b"),
        )
        .filter(is_img | keep_text)
        .select(
            "doc_id",
            "_pos",
            F.when(is_img, F.lit("image")).otherwise(F.lit("text")).alias("kind"),
            F.when(is_img, F.lit(None).cast("string")).otherwise(clean).alias("text"),
            F.when(is_img, F.substring(b, len(_IMG_MARK) + 1, 1 << 30))
            .otherwise(F.lit(None).cast("string"))
            .alias("media_ref"),
        )
        .select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("int").alias("offset"),
            "kind",
            "text",
            "media_ref",
        )
    )


# ---------------------------------------------------------------------------
# publish-date extraction (trafilatura-style metadata mining)
# ---------------------------------------------------------------------------

#: ISO-ish date inside an attribute value: YYYY-MM-DD with optional time tail
_DATE_CORE = r"((?:19|20)\d{2}-\d{2}-\d{2})"

_META_PUBLISHED_RE = (
    r"""(?is)<meta[^>]*(?:property|name|itemprop)\s*=\s*["'](?:article:"""
    r"""published_time|datepublished|date)["'][^>]*content\s*=\s*["']"""
    + _DATE_CORE
)
_TIME_TAG_RE = r"""(?is)<time[^>]*datetime\s*=\s*["']""" + _DATE_CORE
_URL_DATE_RE = r"/((?:19|20)\d{2})/(\d{2})/(\d{2})(?:/|$)"


def extract_publish_date(
    df: DataFrame, html_col: str = "html", url_col: str | None = "url"
) -> DataFrame:
    """Adds (pub_date, pub_src): the document's publish date mined from its
    HTML metadata, trafilatura-precedence — ``<meta property=
    "article:published_time">`` / ``<meta name="date">`` / ``itemprop=
    datePublished`` first, then ``<time datetime=...>``, then a
    ``/YYYY/MM/DD/`` path segment in the URL.  ``pub_src`` records which
    tier matched ('meta' | 'time' | 'url' | NULL).  Dates are validated
    (month 01-12, day 01-31) — an out-of-range candidate falls through to
    the next tier.  Pure codegen regex, map-only, zero shuffle."""
    html = F.col(html_col)
    meta = F.nullif(F.regexp_extract(html, _META_PUBLISHED_RE, 1), F.lit(""))
    ttag = F.nullif(F.regexp_extract(html, _TIME_TAG_RE, 1), F.lit(""))
    if url_col is not None:
        u = F.col(url_col)
        url_d = F.nullif(
            F.concat_ws(
                "-",
                F.regexp_extract(u, _URL_DATE_RE, 1),
                F.regexp_extract(u, _URL_DATE_RE, 2),
                F.regexp_extract(u, _URL_DATE_RE, 3),
            ),
            F.lit(""),
        )
    else:
        url_d = F.lit(None).cast("string")

    def _valid(d: Column) -> Column:
        # try_cast: under ANSI (Spark 4 default) a non-match's '' slice
        # must yield NULL, not a stage-killing cast error
        m = F.substring(d, 6, 2).try_cast("int")
        day = F.substring(d, 9, 2).try_cast("int")
        return F.when(
            m.between(1, 12) & day.between(1, 31), d
        )

    meta_v, time_v, url_v = _valid(meta), _valid(ttag), _valid(url_d)
    pub_date = F.coalesce(meta_v, time_v, url_v)
    pub_src = (
        F.when(meta_v.isNotNull(), F.lit("meta"))
        .when(time_v.isNotNull(), F.lit("time"))
        .when(url_v.isNotNull(), F.lit("url"))
    )
    return df.select(
        "*", pub_date.alias("pub_date"), pub_src.alias("pub_src")
    )
