"""Adversarial-corpus contract gate: every query/oracle pair must agree on a
documents table containing hostile rows (NULL text, empty text, unicode,
NULL lang/source, embedded tab/newline — tools/adversarial_fixture.py).

The driver's clean fixtures never exercise NULL text, so a NULL-semantics
divergence between the Spark query and its DuckDB oracle would ship silently.
r5 hardened all 107 entries (full sweep: ``python tools/check_entry.py
$(python tools/adversarial_fixture.py)``); this test pins the most
NULL-sensitive subset so regressions fail in CI rather than in the sweep.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from tools.adversarial_fixture import build
from tools.check_entry import value_hash

# The rows where NULL/empty/unicode semantics genuinely bite: the doc-read
# policy family (NULL text → no spans; empty pages → validity policies),
# the payload-decode structural twin, regex/split-based text ops, the html
# and DOM synthesis pipelines (NULL concat propagation), and the
# fingerprint-join ops (NULL text must not read as "absent doc").
SUBSET = [
    "docread_all_valid",
    "docread_random",
    "docread_all",
    "docread_first",
    "docread_last",
    "spans_derive",
    "extract_synth_struct",
    "safe_map",
    "base_plus_ext",
    "weighted_mix",
    "html_extract",
    "dom_extract",
    "snapshot_diff",
    "token_count",
    "lineage_report",
    # hostile events rows (NULL ts/user/value/type, duplicate (user, ts)):
    # NULL event-times are excluded by the operators — Spark sorts NULLs
    # first where DuckDB sorts them last, and F.window drops them silently
    "sessionize",
    "events_window",
    "asof_join",
    # hostile embeddings rows (zero-norm vector, NULL embedding): the
    # valid_embeddings gate — without it ANSI Spark raises DIVIDE_BY_ZERO
    # on the zero vector and kills the job
    "cosine_threshold",
    "knn_exact",
    "semantic_decontam",
    # giant doc (2000 words): drove lm_score's rounded-double mean onto a
    # .00005 boundary where Spark and DuckDB round differently — the mean
    # is now an exact integer micro-nat
    "lm_score",
    # <=4-word doc makes the dup-sample tar member EMPTY: reading it is '',
    # DuckDB's array_to_string of the empty slice was NULL
    "tar_ingest",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    return build(dst=str(tmp_path_factory.mktemp("sfadv") / "sf"))


@pytest.fixture(scope="module")
def duck(adv_dir):
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{adv_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SUBSET)
def test_adversarial_oracle_parity(spark, adv_dir, duck, name):
    import __spark_entry__ as entry_mod

    sdf = entry_mod.queries()[name](spark, adv_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(entry_mod.oracle_sql()[name])
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} != {len(drows)}"
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert value_hash(srows, sdf.columns) == value_hash(drows, rel.columns), (
        f"{name}: value hash mismatch on adversarial corpus"
    )
