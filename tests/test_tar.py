"""Real .tar shard ingestion (chug_spark.sources.tar) — reference parity
with chug's tarfile_samples_nothrow path (src/chug/wds/tariterators.py):
member expansion, base_plus_ext keying, adjacency grouping with the
duplicate-suffix sample split, meta/extension-less skips."""

import hashlib
import tarfile

import pytest

from chug_spark.sources.tar import (
    group_members_adjacent,
    read_tar_samples,
    tar_members,
    write_tar_shards,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Two shards exercising every edge case:

    shard 0: docA (json+txt+pdf), docB with duplicate .txt (sample split),
             an extension-less member (dropped), the __meta__ member
    shard 1: docC (txt only), docD (json only)
    """
    d = tmp_path_factory.mktemp("tars")
    samples = [
        ("a", [("a.json", b'{"k": 1}'), ("a.txt", b"alpha beta"),
               ("a.pdf", b"%PDF-a")]),
        ("b", [("b.json", b'{"k": 2}'), ("b.txt", b"gamma"),
               ("b.txt", b"delta"),  # duplicate suffix → new sample, same key
               ("noext", b"junk")]),  # no extension → dropped
        ("c", [("c.txt", b"epsilon")]),
        ("d", [("d.json", b'{"k": 4}')]),
    ]
    paths = write_tar_shards(samples[:2], str(d), n_shards=1)
    paths += write_tar_shards(samples[2:], str(d / "s1"), n_shards=1)
    return str(d) + "/**"


def test_tar_members_expand_and_skip_meta(spark, corpus):
    m = tar_members(spark, corpus).collect()
    names = sorted(r.fname for r in m)
    assert names == ["a.json", "a.pdf", "a.txt", "b.json", "b.txt", "b.txt",
                     "c.txt", "d.json", "noext"]
    assert all(not r.fname.startswith("__") for r in m)
    # idx preserves tar order within each shard
    by_shard = {}
    for r in m:
        by_shard.setdefault(r.shard, []).append((r.idx, r.fname))
    for rows in by_shard.values():
        assert [i for i, _ in sorted(rows)] == list(range(len(rows)))


def test_adjacency_grouping_with_duplicate_suffix_split(spark, corpus):
    out = read_tar_samples(spark, corpus).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.doc_id, []).append(r)
    # docB split into two samples under the same key (tariterators.py:49-51)
    assert len(by_key["b"]) == 2
    b1, b2 = sorted(by_key["b"], key=lambda r: r.sample_no)
    assert [s.kind for s in b1.spans] == ["anno", "text"]
    assert [s.text for s in b1.spans] == ['{"k": 2}', "gamma"]
    assert [s.kind for s in b2.spans] == ["text"]
    assert b2.spans[0].text == "delta"
    # offsets are tar order within the sample
    a = by_key["a"][0]
    assert [(s.kind, s.offset) for s in a.spans] == [
        ("anno", 0), ("text", 1), ("media", 2)]
    assert a.spans[2].media_ref == "sha256:" + hashlib.sha256(b"%PDF-a").hexdigest()
    # extension-less member left no trace
    assert all("junk" not in (s.text or "") for r in out for s in r.spans)
    # single-member docs survive the valid_sample gate
    assert [s.text for s in by_key["c"][0].spans] == ["epsilon"]
    assert by_key["d"][0].spans[0].kind == "anno"


def test_sample_no_is_per_shard_running_index(spark, corpus):
    out = read_tar_samples(spark, corpus).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.sample_no)
    for nos in by_shard.values():
        assert sorted(nos) == list(range(len(nos)))


def test_group_adjacent_matches_reference_loop(spark, corpus):
    """Oracle: run the reference's grouping algorithm (pure python, straight
    from tariterators.py:40-59) over the same tars and compare sample
    structure exactly."""
    import glob
    import io
    import re

    from chug_spark.functions import BASE_EXT_RE

    base_re = re.compile(BASE_EXT_RE)
    expected = []
    for path in sorted(glob.glob(corpus.replace("**", "**/*.tar"), recursive=True)):
        cur = None
        n = 0
        with tarfile.open(path) as tf:
            for info in tf:
                if not info.isreg() or info.name.startswith("__"):
                    continue
                m = base_re.match(info.name)
                if m is None:
                    continue
                prefix, suffix = m.group(1), m.group(2).lower()
                if cur is None or prefix != cur["__key__"] or suffix in cur:
                    if cur is not None:
                        expected.append((cur.pop("__key__"), n, cur))
                        n += 1
                    cur = {"__key__": prefix}
                cur[suffix] = tf.extractfile(info).read()
            if cur is not None:
                expected.append((cur.pop("__key__"), n, cur))
    got = read_tar_samples(spark, corpus).collect()
    got_set = {
        (r.doc_id, r.sample_no,
         frozenset((s.kind, s.text) for s in r.spans))
        for r in got
    }
    exp_set = set()
    for key, no, mems in expected:
        spans = frozenset(
            ("anno" if sfx.endswith("json") else
             "text" if sfx.endswith("txt") else "media",
             data.decode() if not sfx.endswith("pdf") else None)
            for sfx, data in mems.items()
        )
        exp_set.add((key, no, spans))
    assert got_set == exp_set


def test_large_shard_batch_boundary(spark, tmp_path):
    """A shard with more members than one Arrow batch still groups whole
    samples (the concat-before-group guard)."""
    samples = [(f"k{i:05d}", [(f"k{i:05d}.json", b"{}"),
                              (f"k{i:05d}.txt", f"w{i}".encode())])
               for i in range(500)]
    write_tar_shards(samples, str(tmp_path), n_shards=1)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        out = read_tar_samples(spark, str(tmp_path) + "/*.tar")
        rows = out.collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(rows) == 500
    assert all(len(r.spans) == 2 for r in rows)


def test_tar_scheme_feeds_extraction_end_to_end(spark, tmp_path):
    """tar:// registry scheme → full doc-read extraction: the reference's
    primary ingest path (wds shards → decode pipeline) as one composition."""
    import json

    from chug_spark.config import ExtractJobCfg
    from chug_spark.extract import extract_docread, flatten_spans
    from chug_spark.sources.registry import read_source

    samples = []
    for i in range(12):
        words = [f"w{i}_{j}" for j in range(16)]
        pages = [{"text": [" ".join(words[p*8:p*8+4]), " ".join(words[p*8+4:p*8+8])]}
                 for p in range(2)]
        samples.append((f"k{i}", [
            (f"k{i}.json", json.dumps({"pages": pages}).encode()),
            (f"k{i}.pdf", f"payload{i}".encode()),
        ]))
    write_tar_shards(samples, str(tmp_path), n_shards=2)
    docs = read_source(spark, f"tar://{tmp_path}/*.tar")
    assert docs.columns == ["doc_id", "spans"]
    spans_out, errors = extract_docread(spark, docs, ExtractJobCfg(page_sampling="all_valid"))
    rows = flatten_spans(spans_out).collect()
    assert errors.count() == 0
    assert len(rows) == 12 * 2 * 2  # 12 docs x 2 pages x (text+media)
    texts = {r.text for r in rows if r.kind == "text"}
    assert "w3_0 w3_1 w3_2 w3_3\nw3_4 w3_5 w3_6 w3_7" in texts
    # media spans wrap the sample's single media ref
    media = [r for r in rows if r.kind == "media"]
    assert all(r.media_ref.startswith("sha256:") for r in media)
