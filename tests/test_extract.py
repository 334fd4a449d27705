"""Doc-read extraction vs the pure-Python oracle — exact span-sequence
equality (kind, text, media_ref, order) per BASELINE.json input_hint."""

import json

import pytest

from chug_spark.config import ExtractJobCfg
from chug_spark.extract import extract_docread, flatten_spans
from chug_spark.schema import DOCUMENTS_SCHEMA
from chug_spark.synth import generate_docs, make_doc

import oracle

RENDER_DPI = 12  # small pages: fast tests, same semantics


def spark_extract(spark, docs_df, **cfg_kw):
    cfg = ExtractJobCfg(render_dpi=RENDER_DPI, **cfg_kw)
    spans_out, errors = extract_docread(spark, docs_df, cfg)
    got = {}
    for r in flatten_spans(spans_out).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"], r["offset"])
        )
    for v in got.values():
        v.sort(key=lambda s: s[3])
    errs = [(r["doc_id"], r["stage"], r["error"]) for r in errors.collect()]
    return got, errs


def oracle_extract(rows, **kw):
    return oracle.extract_corpus(
        [(d, s) for d, s in rows], render_dpi=RENDER_DPI, **kw
    )


def assert_equal_corpus(got, errs, want, want_errs):
    assert set(got) == set(want), (
        f"doc sets differ: extra={set(got) - set(want)} missing={set(want) - set(got)}"
    )
    for doc_id in want:
        assert got[doc_id] == want[doc_id], f"span mismatch for {doc_id}"
    assert sorted(errs) == sorted(want_errs)


@pytest.mark.parametrize("policy", ["all_valid", "first", "last", "all", "random"])
def test_policies_match_oracle(spark, policy):
    rows = [make_doc(i, seed=11) for i in range(80)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling=policy, seed=3)
    want, want_errs = oracle_extract(rows, page_sampling=policy, seed=3)
    assert_equal_corpus(got, errs, want, want_errs)


def test_all_valid_wraparound_duplicates(spark):
    """all_valid visits num_pages steps of next-valid; with invalid pages the
    scan wraps and REVISITS valid pages (reference doc_read_processor.py:62-66
    behavior) — the duplicates must be preserved."""
    pages = [
        {"text": ["page0"]},
        {"text": []},            # invalid
        {"text": ["page2"]},
    ]
    spans = [
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "page:x:0", "offset": 1},
        {"kind": "media", "text": None, "media_ref": "page:x:1", "offset": 2},
        {"kind": "media", "text": None, "media_ref": "page:x:2", "offset": 3},
    ]
    rows = [("d0", spans)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="all_valid")
    # scan: -1→0, 0→2 (skips 1), 2→wrap→0  ⇒ indices [0, 2, 0]
    texts = [s[1] for s in got["d0"] if s[0] == "text"]
    assert texts == ["page0", "page2", "page0"]
    refs = [s[2] for s in got["d0"] if s[0] == "media"]
    assert refs == ["page:x:0", "page:x:2", "page:x:0"]
    assert errs == []
    want, want_errs = oracle_extract(rows, page_sampling="all_valid")
    assert_equal_corpus(got, errs, want, want_errs)


def test_retry_bound_ten_consecutive_invalid(spark):
    """>10 consecutive invalid pages exhaust get_next_valid_page_index's retry
    budget (doc_processor.py:22 retries=10) — RuntimeError → for 'first' the
    doc is skipped with no_valid_pages."""
    pages = [{"text": []} for _ in range(11)] + [{"text": ["tail"]}]
    spans = [
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "page:y:0", "offset": 1},
    ]
    rows = [("d0", spans)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="first")
    assert got == {}
    assert errs == [("d0", "anno", "no_valid_pages")]
    want, want_errs = oracle_extract(rows, page_sampling="first")
    assert_equal_corpus(got, errs, want, want_errs)


def test_all_policy_fails_on_empty_page(spark):
    """'all' hits the empty-page raise in text assembly
    (doc_read_processor.py:118-119) → whole-sample skip."""
    pages = [{"text": ["a"]}, {"text": []}]
    spans = [
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "page:z:0", "offset": 1},
    ]
    docs = spark.createDataFrame([("d0", spans)], DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="all")
    assert got == {}
    assert errs == [("d0", "anno", "empty_page_in_all")]


def test_nested_lines_format(spark):
    """The 'lines'-nested annotation format is unwrapped before line join
    (doc_read_processor.py:82-111)."""
    pages = [{"lines": {"text": ["l1", "l2"], "bbox": []}, "words": {"text": ["l1"], "bbox": []}}]
    spans = [
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "page:n:0", "offset": 1},
    ]
    docs = spark.createDataFrame([("d0", spans)], DOCUMENTS_SCHEMA)
    got, _ = spark_extract(spark, docs, page_sampling="first")
    assert got["d0"] == [
        ("text", "l1\nl2", None, 0),
        ("media", None, "page:n:0", 1),
    ]


def test_media_index_wrap(spark):
    """Anno/media page-count mismatch: media index wraps p % num_media_pages
    (wds/decode.py:65/:142; mismatch is a warning, not an error,
    doc_processor.py:136-140)."""
    pages = [{"text": [f"p{i}"]} for i in range(3)]
    spans = [
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "m0", "offset": 1},
        {"kind": "media", "text": None, "media_ref": "m1", "offset": 2},
    ]
    docs = spark.createDataFrame([("d0", spans)], DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="all")
    refs = [s[2] for s in got["d0"] if s[0] == "media"]
    assert refs == ["m0", "m1", "m0"]  # page 2 wraps onto media 0
    assert errs == []


def test_corrupt_payload_skips_whole_doc(spark):
    """A corrupt media payload drops every span of the doc (whole-sample skip,
    group_by_keys_nothrow robustness intent, tariterators.py:49-51) and emits
    a lineage row instead of crashing."""
    from chug_spark import media as media_mod

    pages = [{"text": ["hello"]}]
    spans = [
        {"kind": "text", "text": "raw fragment", "media_ref": None, "offset": 0},
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 1},
        {"kind": "media", "text": None,
         "media_ref": media_mod.SYNTH_PREFIX + "L/oops", "offset": 2},
    ]
    docs = spark.createDataFrame([("d0", spans)], DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="first")
    assert got == {}
    assert len(errs) == 1 and errs[0][0] == "d0" and errs[0][1] == "media"


def test_stop_policy_raises(spark):
    from chug_spark.extract import run_extract

    docs = spark.createDataFrame(
        [("d0", [{"kind": "anno", "text": "{not json", "media_ref": None, "offset": 0}])],
        DOCUMENTS_SCHEMA,
    )
    cfg = ExtractJobCfg(error_handler="reraise_exception", render_dpi=RENDER_DPI)
    with pytest.raises(RuntimeError, match="anno_parse"):
        run_extract(spark, docs, cfg)


def test_schedule_independence(spark):
    """Identical output at different partitionings/parallelism — the design
    rule that replaces chug's worker-seeded RNG (SURVEY.md §7.4.1)."""
    rows = [make_doc(i, seed=5) for i in range(60)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    a, ea = spark_extract(spark, docs.repartition(1), page_sampling="random", seed=9)
    b, eb = spark_extract(spark, docs.repartition(13), page_sampling="random", seed=9)
    assert a == b
    assert sorted(ea) == sorted(eb)


def test_skew_capping_preserves_order(spark):
    """A giant payload doc is split into many ≤max_pages_per_task sub-rows and
    reassembled; spans must come back in exact page order."""
    from chug_spark import media as media_mod

    n = 53
    pages = [{"text": [f"page {i} line"]} for i in range(n)]
    spans = [
        {"kind": "anno", "text": json.dumps({"pages": pages}), "media_ref": None, "offset": 0},
        {"kind": "media", "text": None,
         "media_ref": media_mod.make_payload_ref("L", n, 77), "offset": 1},
    ]
    rows = [("big", spans)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="all", max_pages_per_task=4)
    want, want_errs = oracle_extract(rows, page_sampling="all")
    assert_equal_corpus(got, errs, want, want_errs)
    texts = [s[1] for s in got["big"] if s[0] == "text"]
    assert texts == [f"page {i} line" for i in range(n)]


def test_empty_spans_doc_silently_dropped(spark):
    docs = spark.createDataFrame([("d0", [])], DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs)
    assert got == {} and errs == []


def test_generated_corpus_larger(spark):
    rows = [make_doc(i, seed=23) for i in range(150)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="all_valid", seed=1)
    want, want_errs = oracle_extract(rows, page_sampling="all_valid", seed=1)
    assert_equal_corpus(got, errs, want, want_errs)


def _doc(doc_id, pages, n_media=2):
    spans = [{"kind": "anno", "text": json.dumps({"pages": pages}),
              "media_ref": None, "offset": 0}]
    for m in range(n_media):
        spans.append({"kind": "media", "text": None,
                      "media_ref": f"page:{doc_id}:{m}", "offset": m + 1})
    return (doc_id, spans)


def test_last_policy_edge_semantics(spark):
    """'last' is the literal final page (ref wds/decode.py:228-231 [-1]):
    no valid-page scan — an empty last page yields an empty text span; a
    missing text key on the last page errors the whole doc even when every
    other page is valid."""
    rows = [
        _doc("ok", [{"text": ["a"]}, {"text": ["b", "c"]}]),          # → page 1
        _doc("empty_last", [{"text": ["a"]}, {"text": []}]),          # → "" span
        _doc("missing_last", [{"text": ["a"]}, {"bbox": []}]),        # → error
        _doc("wraps", [{"text": ["a"]}] * 5, n_media=2),              # 4 % 2 = 0
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got, errs = spark_extract(spark, docs, page_sampling="last", seed=0)
    want, want_errs = oracle_extract(rows, page_sampling="last", seed=0)
    assert_equal_corpus(got, errs, want, want_errs)

    assert got["ok"] == [("text", "b\nc", None, 0), ("media", None, "page:ok:1", 1)]
    assert got["empty_last"][0] == ("text", "", None, 0)
    assert "missing_last" not in got
    assert ("missing_last", "anno", "missing_text_key") in errs
    # literal index n-1 wraps over the media list: 4 % 2 = 0
    assert got["wraps"][1] == ("media", None, "page:wraps:0", 1)


@pytest.mark.parametrize("shape", ["mixed_corpus", "pure_passthrough"])
def test_branch_modes_equivalent(spark, shape):
    """cfg.branch='auto' (LIMIT-1 probes) must produce the same rows as the
    explicitly declared shape AND as the always-both 'mixed' plan — on a
    mixed corpus and on a pure-passthrough corpus (where 'auto' skips the
    whole payload subtree)."""
    from chug_spark.synth import spans_from_documents

    if shape == "mixed_corpus":
        docs = generate_docs(spark, n_docs=60, seed=21)
        declared = "mixed"
    else:
        docs = spans_from_documents(spark, "/root/testdata/sf0.001")
        declared = "passthrough"

    outs = {}
    for branch in ("auto", declared, "mixed"):
        cfg = ExtractJobCfg(page_sampling="all_valid", render_dpi=16, branch=branch)
        outs[branch] = flatten_spans(extract_docread(spark, docs, cfg)[0])
    for other in (declared, "mixed"):
        assert outs["auto"].exceptAll(outs[other]).count() == 0
        assert outs[other].exceptAll(outs["auto"]).count() == 0


def test_branch_declared_wrong_shape_is_explicit(spark):
    """Declaring 'payload' on a passthrough-only corpus yields no rows (the
    declared branch filters everything) — a knowable, documented contract
    rather than silent wrong answers: the probe mode exists for unknown
    shapes."""
    from chug_spark.synth import spans_from_documents

    docs = spans_from_documents(spark, "/root/testdata/sf0.001")
    cfg = ExtractJobCfg(page_sampling="all_valid", branch="payload")
    assert flatten_spans(extract_docread(spark, docs, cfg)[0]).count() == 0
