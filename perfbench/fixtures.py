"""Seeded benchmark inputs and their expected outputs.

Inputs are written to parquet before anything is timed, so the program only
ever reads parquet.  Expected outputs come from the repository's own
references, computed once per run outside the timed section:

- docread: ``tests/oracle.py:extract_corpus`` on the same generated rows;
- curation: each leg's DuckDB ``oracle_sql()``.

Both sides are reduced to a row count and the order-insensitive value hash of
``tools/check_entry.py``.
"""

from __future__ import annotations

import importlib.util
import multiprocessing
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPAN_COLS = ["doc_id", "offset", "kind", "text", "media_ref"]
ERROR_COLS = ["doc_id", "stage", "error"]

_DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


def load_repo_module(name: str, relpath: str):
    """Import a repository file that is not in a package (tests/, tools/).

    ``tools/check_entry.py`` prepends a fixed checkout path to ``sys.path``
    when imported; the path list is restored so imports keep resolving to
    this checkout."""
    if name in sys.modules:
        return sys.modules[name]
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def value_hash(rows, cols) -> str:
    return load_repo_module("check_entry", "tools/check_entry.py").value_hash(rows, cols)


# --- docread ---------------------------------------------------------------

def docread_rows(n_docs: int, seed: int, payload_every: int) -> list:
    """``synth.generate_docs`` rows without a Spark session (same generator)."""
    from chug_spark.synth import make_doc

    return [make_doc(i, seed, payload_every=payload_every) for i in range(n_docs)]


def write_docs(rows: list, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        table = pa.Table.from_pylist(
            [{"doc_id": d, "spans": s} for d, s in chunk], schema=_DOCS_ARROW
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def _oracle_chunk(args):
    rows, kw = args
    oracle = load_repo_module("chug_oracle", "tests/oracle.py")
    out, errors = oracle.extract_corpus(rows, **kw)
    spans = [(d, off, kind, text, ref)
             for d, ss in out.items() for kind, text, ref, off in ss]
    return spans, errors


def docread_expected(rows: list, workers: int, **kw) -> dict:
    """Oracle output for ``rows``: counts and value hashes of the span rows
    and the error rows.  ``workers`` > 1 splits the rows over spawned
    processes (the payload decode dominates the oracle's cost)."""
    chunks = [(rows[k::workers], kw) for k in range(workers)]
    if workers > 1:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(workers) as pool:
            parts = pool.map(_oracle_chunk, chunks)
            pool.close()
            pool.join()
    else:
        parts = [_oracle_chunk(chunks[0])]
    spans = [r for p in parts for r in p[0]]
    errors = [r for p in parts for r in p[1]]
    return summarize(spans, errors)


def summarize(spans: list, errors: list) -> dict:
    return {
        "span_rows": len(spans),
        "span_hash": value_hash(spans, SPAN_COLS),
        "error_rows": len(errors),
        "error_hash": value_hash(errors, ERROR_COLS),
        "docs_out": len({r[0] for r in spans}),
    }


def read_written(path: str, cols: list) -> list:
    """Rows of a written parquet directory (hive partition dirs ignored)."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    table = ds.dataset(path, format="parquet", partitioning=None).to_table(columns=cols)
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


# --- curation --------------------------------------------------------------

# Same shape as the sf documents/embeddings tables of TESTDATA.md: a 30-word
# vocabulary, 10-100 words per doc, 20 sources, 5 languages (en-heavy), 5 %
# near-duplicates (an earlier doc + " dup"), a few exact duplicates, and
# unit-norm 64-d embeddings with 10 labels.
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def write_curation_tables(sf_dir: str, seed: int, n_docs: int, n_emb: int) -> None:
    import numpy as np

    rng = random.Random(seed)
    texts = []
    for i in range(n_docs):
        if i > 0 and i % 20 == 11:
            text = texts[max(0, i - rng.randint(1, 120))] + " dup"
        elif i > 0 and i % 625 == 313:
            text = texts[rng.randrange(i)]
        else:
            text = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nprng = np.random.default_rng(seed)
    vecs = nprng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nprng.integers(0, 10, n_emb), pa.int32()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))


def curation_expected(sf_dir: str, legs: list, oracle_sql: dict) -> dict:
    """leg -> (row count, value hash) from the leg's DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for leg in legs:
            rel = con.sql(oracle_sql[leg])
            rows = rel.fetchall()
            out[leg] = (len(rows), value_hash(rows, rel.columns))
        return out
    finally:
        con.close()
