"""HTML main-content extraction: boilerplate strip + block heuristics."""

from __future__ import annotations

from chug_spark.ops.html import html_main_content, html_to_spans


def test_html_main_content_extraction(spark):
    page = (
        "<html><head><title> The  Title </title>"
        "<style>p { color: red }</style></head>"
        "<body>"
        "<nav><a href='/'>home</a> <a href='/a'>about</a></nav>"
        "<header>SiteName — tagline here</header>"
        "<h1>A Heading Long Enough To Keep</h1>"
        "<p>This is the first real paragraph of the article body.</p>"
        "<div>Second block with an inline <a href='x'>link</a> inside "
        "a long sentence that should survive.</p>"
        "<p>tiny</p>"  # below min_block_chars -> dropped
        "<p><a href='/sub'>click here to subscribe now and save money</a></p>"
        "<p>Entities: &amp;lt; stays, &lt;b&gt; becomes angle brackets, "
        "&quot;quoted&quot; &#39;x&#39; &nbsp;ok</p>"
        "<script>var x = '<p>not content</p>';</script>"
        "<footer>copyright 2024 somebody</footer>"
        "</body></html>"
    )
    docs = spark.createDataFrame([(1, page)], ["doc_id", "html"])
    row = html_main_content(docs).collect()[0]
    assert row["title"] == "The Title"
    blocks = row["main_text"].split("\n")
    assert blocks[0] == "A Heading Long Enough To Keep"
    assert blocks[1] == "This is the first real paragraph of the article body."
    assert blocks[2] == (
        "Second block with an inline link inside a long sentence that should survive."
    )
    assert blocks[3] == (
        "Entities: &lt; stays, <b> becomes angle brackets, \"quoted\" 'x' ok"
    )
    assert len(blocks) == 4
    # dropped: tiny (too short), subscribe (link density 1.0);
    # nav/header/footer/script/style never reach scoring
    assert row["n_kept"] == 4
    assert row["n_dropped"] == 2
    text = row["main_text"]
    assert "home" not in text and "SiteName" not in text
    assert "subscribe" not in text and "copyright" not in text
    assert "color: red" not in text and "not content" not in text


def test_html_main_content_is_map_only(spark):
    docs = spark.createDataFrame(
        [(i, f"<p>block {i} with enough characters to keep</p>") for i in range(20)],
        ["doc_id", "html"],
    )
    plan = (
        html_main_content(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure map: no shuffle at any scale


def test_html_adversarial_inputs(spark):
    """Malformed HTML must degrade gracefully, never throw: unclosed tags,
    nested anchors, attributes containing '>', empty/None pages."""
    pages = [
        (1, "<p>unclosed paragraph with plenty of characters to keep"),
        (2, "<div><a href='x'><b>nested anchor text</b></a> plus sufficient "
            "surrounding prose to stay under the link-density cap</div>"),
        (3, '<p title="a > b">attribute with gt sign and enough text to keep</p>'),
        (4, ""),
        (5, None),
        (6, "<script>while(1){}</script>"),
        (7, "no tags at all but definitely long enough to be a kept block"),
    ]
    docs = spark.createDataFrame(pages, "doc_id long, html string")
    rows = {r["doc_id"]: r for r in html_main_content(docs).collect()}
    assert rows[1]["main_text"].startswith("unclosed paragraph")
    assert "nested anchor text" in rows[2]["main_text"]
    # regex tag-stripping truncates at the first '>' inside the attribute —
    # the documented non-DOM tradeoff; the block text must still be kept
    assert rows[3]["n_kept"] == 1 and "enough text to keep" in rows[3]["main_text"]
    assert rows[4]["main_text"] == "" and rows[4]["n_kept"] == 0
    assert rows[5]["main_text"] == "" and rows[5]["n_kept"] == 0
    assert rows[6]["main_text"] == "" and rows[6]["n_kept"] == 0
    assert rows[7]["n_kept"] == 1


def test_html_to_spans_interleaving(spark):
    """Document-order interleaved (text|image) spans with dense offsets;
    boilerplate media dies with its subtree; images survive between dropped
    chrome blocks; single- and double-quoted src both parse."""
    page = (
        "<html><head><title>t</title></head><body>"
        "<nav><img src='/logo.png'> <a href='/'>home</a></nav>"
        "<p>First paragraph long enough to be kept as a span.</p>"
        '<img alt="fig" src="img/a_0.jpg">'
        "<p>tiny</p>"
        "<img src='media/hero.png'>"
        "<p><a href='/sub'>click here to subscribe to everything</a></p>"
        "<p>Closing paragraph, also long enough to keep around.</p>"
        "<footer><img src='/foot.png'>bye</footer>"
        "</body></html>"
    )
    docs = spark.createDataFrame([(7, page)], ["doc_id", "html"])
    rows = html_to_spans(docs).orderBy("offset").collect()
    seq = [(r["offset"], r["kind"], r["text"], r["media_ref"]) for r in rows]
    assert seq == [
        (0, "text", "First paragraph long enough to be kept as a span.", None),
        (1, "image", None, "img/a_0.jpg"),
        (2, "image", None, "media/hero.png"),
        (3, "text", "Closing paragraph, also long enough to keep around.", None),
    ]


def test_html_to_spans_edge_pages(spark):
    """Empty / NULL / media-only / boilerplate-only pages."""
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "<img src='only.png'>"),
            (4, "<nav><img src='x.png'>chrome</nav>"),
        ],
        "doc_id long, html string",
    )
    out = html_to_spans(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc and 2 not in by_doc and 4 not in by_doc
    assert [(r["kind"], r["media_ref"]) for r in by_doc[3]] == [
        ("image", "only.png")
    ]


def test_html_to_span_arrays_parity_and_shape(spark):
    """The map-only array variant must agree row-for-row with the exploded
    op (modulo the image->media kind mapping) and add zero exchanges."""
    from pyspark.sql import functions as F

    from chug_spark.ops.html import html_to_span_arrays

    docs = spark.createDataFrame(
        [(i, f"<p>paragraph {i} long enough to clear the block gate</p>"
             f"<img src='m/{i}.png'><p>tiny</p>") for i in range(10)]
        + [(99, None)],
        "doc_id long, html string",
    )
    arr = html_to_span_arrays(docs)
    plan = arr._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # a source adapter adds no shuffle
    exploded = (
        arr.select("doc_id", F.explode("spans").alias("s"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("s.offset").alias("offset"),
            F.when(F.col("s.kind") == "media", "image")
            .otherwise(F.col("s.kind")).alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )
    from chug_spark.ops.html import html_to_spans

    rows = html_to_spans(docs)
    assert exploded.exceptAll(rows).count() == 0
    assert rows.exceptAll(exploded).count() == 0


def test_html_source_scheme_feeds_extraction(spark, tmp_path):
    """spark-submit's --input 'html://...' path: raw pages -> span-table
    contract -> full doc-read extraction; text blocks come out cleaned,
    <img> targets come out as pre-resolved media refs in order."""
    from chug_spark.config import ExtractJobCfg
    from chug_spark.extract import extract_docread, flatten_spans
    from chug_spark.schema import DOCUMENTS_SCHEMA
    from chug_spark.sources.registry import read_source

    body = "a body paragraph with plenty of words to clear every gate"
    pages = [
        (str(i), f"<nav><a href='/'>home</a></nav><p>{body} {i}</p>"
                 f"<img src='media/{i}.png'>")
        for i in range(4)
    ] + [
        # faithful docread error lineage: image-less and content-less pages
        ("noimg", f"<p>{body} but with no page image anywhere</p>"),
        ("empty", "<nav><a href='/'>chrome only</a></nav>"),
    ]
    path = str(tmp_path / "pages")
    spark.createDataFrame(pages, "doc_id string, html string").write.parquet(path)

    src = read_source(spark, f"html://{path}")
    assert [f.name for f in src.schema.fields] == [
        f.name for f in DOCUMENTS_SCHEMA.fields
    ]
    out, errors = extract_docread(
        spark, src, ExtractJobCfg(page_sampling="all_valid")
    )
    got = {}
    for r in flatten_spans(out).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["offset"], r["kind"], r["text"], r["media_ref"])
        )
    assert set(got) == {str(i) for i in range(4)}
    for i in range(4):
        spans = sorted(got[str(i)])
        kinds = [s[1] for s in spans]
        assert kinds == ["text", "media"]
        assert spans[0][2] == f"{body} {i}"
        assert spans[1][3] == f"media/{i}.png"
    errs = {r["doc_id"]: r["error"] for r in errors.collect()}
    assert errs["noimg"] == "no_page_images"
    assert errs["empty"] == "empty_annotation"


def test_html_to_spans_single_shuffle(spark):
    """Explode + codegen scoring + ONE keyed shuffle for the dense offsets;
    never a cartesian or a second exchange."""
    docs = spark.createDataFrame(
        [(i, f"<p>block {i} with enough characters to keep</p>"
             f"<img src='m/{i}.png'>") for i in range(20)],
        ["doc_id", "html"],
    )
    plan = (
        html_to_spans(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_extract_publish_date_precedence_and_validation(spark):
    from chug_spark.ops.html import extract_publish_date

    rows = [
        # meta outranks time and url
        (1, '<meta property="article:published_time" content="2020-05-06T01:02:03Z">'
            '<time datetime="2019-01-01">x</time>', "https://h/2018/02/03/p"),
        # invalid meta month falls through to the time tag
        (2, '<meta name="date" content="2021-13-01"><time datetime="2021-04-05">x</time>',
         "https://h/p"),
        # url-only
        (3, "<p>no tags</p>", "https://h/2017/11/30/post"),
        # invalid url day (32) -> no date
        (4, "<p>none</p>", "https://h/2017/11/32/post"),
        # nothing anywhere; NULL html survives
        (5, None, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, url string")
    out = {r.doc_id: r for r in extract_publish_date(df).collect()}
    assert (out[1].pub_date, out[1].pub_src) == ("2020-05-06", "meta")
    assert (out[2].pub_date, out[2].pub_src) == ("2021-04-05", "time")
    assert (out[3].pub_date, out[3].pub_src) == ("2017-11-30", "url")
    assert out[4].pub_date is None and out[4].pub_src is None
    assert out[5].pub_date is None
