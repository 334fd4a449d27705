"""Extra driver-contract queries: operator coverage beyond the flagship
extraction (SURVEY.md §2 inventory + large-scale training-data ops).

Each entry returns (spark, sf_dir) -> DataFrame; the matching DuckDB SQL in
``extra_oracle_sql`` computes identical values over the same parquet tables.
Grown incrementally as operators land.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ops.entry import _docs


def _scratch(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit — the returned
    DataFrames read these dirs lazily, so cleanup can't happen in the query
    function itself; without this every sweep leaked a full extraction
    output into /tmp (same leak class bench.py fixed in r5)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# ---------------------------------------------------------------------------
# P1/P4: coalesce-rename with ';'-fallback keys (pipeline_image_text.py:63-70)
# ---------------------------------------------------------------------------


def q_coalesce_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import coalesce_rename

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("lang") == "en", F.col("text")).alias("txt_en"),
        F.col("text").alias("txt_any"),
        F.when(F.length("text") > 200, F.col("source")).alias("src_long"),
    )
    out = coalesce_rename(
        df, {"doc_id": "doc_id", "caption": "txt_en;txt_any", "origin": "src_long;txt_any"},
        keep=False,
    )
    return out


_SQL_COALESCE_RENAME = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN text END AS txt_en,
         text AS txt_any,
         CASE WHEN length(text) > 200 THEN source END AS src_long
  FROM documents
)
SELECT doc_id,
       coalesce(txt_en, txt_any) AS caption,
       coalesce(src_long, txt_any) AS origin
FROM d
"""


# ---------------------------------------------------------------------------
# P3: validity filter (filter_incomplete, pipeline_image_text.py:22-29)
# ---------------------------------------------------------------------------


def q_filter_incomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import filter_incomplete

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit("img-en")).alias("jpg"),
        F.when(F.col("lang") == "es", F.lit("img-es")).alias("png"),
        F.when(F.col("n_chars") > 400, F.col("text")).alias("txt"),
    )
    return filter_incomplete(df, image_key="jpg;png;jpeg;webp;tif", text_key="txt")


_SQL_FILTER_INCOMPLETE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 'img-en' END AS jpg,
         CASE WHEN lang = 'es' THEN 'img-es' END AS png,
         CASE WHEN n_chars > 400 THEN text END AS txt
  FROM documents
)
SELECT * FROM d
WHERE coalesce(jpg, png) IS NOT NULL AND txt IS NOT NULL
"""


# ---------------------------------------------------------------------------
# S6/F4/F5: base_plus_ext + extension extract + lowercase suffix
# (tariterators.py:8-25, decode.py:217, tariterators.py:47-48)
# ---------------------------------------------------------------------------


def q_base_plus_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import base_plus_ext, file_extension

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("source"), F.lit("/shard-"), F.col("doc_id").cast("string"),
            F.lit("."), F.upper(F.col("lang")), F.lit(".Json.GZ"),
        ).alias("fname"),
    )
    base, ext = base_plus_ext(F.col("fname"))
    return df.select(
        "doc_id", "fname", base.alias("base"), F.lower(ext).alias("suffix"),
        F.lower(file_extension(F.col("fname"))).alias("last_ext"),
    )


_SQL_BASE_PLUS_EXT = r"""
WITH d AS (
  SELECT doc_id,
         source || '/shard-' || CAST(doc_id AS VARCHAR) || '.' || upper(lang) || '.Json.GZ' AS fname
  FROM documents
)
SELECT doc_id, fname,
       CASE WHEN fname IS NULL THEN NULL
            ELSE coalesce(regexp_extract(fname, '^((?:.*/|)[^.]+)[.]([^/]*)$', 1), '')
       END AS base,
       CASE WHEN fname IS NULL THEN NULL
            ELSE lower(coalesce(regexp_extract(fname, '^((?:.*/|)[^.]+)[.]([^/]*)$', 2), ''))
       END AS suffix,
       lower(regexp_replace(fname, '.*[.]', '')) AS last_ext
FROM d
"""


# ---------------------------------------------------------------------------
# F2/F3: VQA prompt assembly + deterministic answer choice
# (doc_vqa_processor.py:77-84, defaults :21-24)
# ---------------------------------------------------------------------------


def q_vqa_prompt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tasks.docvqa import vqa_from_documents

    return vqa_from_documents(_docs(spark, sf_dir))


_SQL_VQA_PROMPT = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS question,
         CASE WHEN text IS NULL
              THEN [CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)]
              ELSE [coalesce(array_to_string(list_slice(string_split(text, ' '), 6, 7), ' '), ''),
                    coalesce(array_to_string(list_slice(string_split(text, ' '), 8, 9), ' '), '')]
         END AS answers
  FROM documents
),
p AS (
  SELECT doc_id, question, answers,
         ((strpos('0123456789abcdef', substr(md5(doc_id), 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(md5(doc_id), 2, 1)) - 1)
           % len(answers) AS pick
  FROM d
)
SELECT doc_id, question,
       answers[pick + 1] AS answer,
       '<s_question>' || question || '</s_question><s_answer>'
         || answers[pick + 1] || '</s_answer>' AS text_input
FROM p
"""


# ---------------------------------------------------------------------------
# F1/F7: line join + empty-text predicate over word chunks
# (doc_read_processor.py:118-121)
# ---------------------------------------------------------------------------


def q_line_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import join_lines

    words = F.split(F.col("text"), " ")
    lines = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(words) - 1) / 10).cast("int")),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
    )
    return _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.size(words).alias("n_words"),
        (F.size(F.filter(lines, lambda s: s != F.lit(""))) > 0).alias("has_text"),
        join_lines(lines, "\n").alias("joined"),
    )


_SQL_LINE_JOIN = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
l AS (
  SELECT doc_id, words,
         list_transform(generate_series(0, CAST(floor((len(words) - 1) / 10) AS INT), 1),
                        i -> array_to_string(list_slice(words, i*10 + 1, i*10 + 10), ' ')) AS lines
  FROM d
)
SELECT doc_id,
       CAST(len(words) AS INT) AS n_words,
       len(list_filter(lines, s -> s <> '')) > 0 AS has_text,
       array_to_string(lines, chr(10)) AS joined
FROM l
"""


# ---------------------------------------------------------------------------
# F10/F11 + D10: toy deterministic tokenizer, prompt_end_pos, target masking
# (text/tokenization.py:7-58)
# ---------------------------------------------------------------------------

_PAD_ID = 0
_END_TOK_ID = 9  # tokens of length 9 % 97 → stand-in prompt-end id
_MAX_LEN = 24


def _ids_csv(col: F.Column) -> F.Column:
    """array<int> -> 'a,b,c' so the driver's pandas hasher (which cannot
    factorize list cells) can canonicalize the result."""
    return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")


def q_target_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text.tokenization import target_ids_col, tokenize_col

    ids = tokenize_col(F.col("text"), max_length=_MAX_LEN, pad_id=_PAD_ID)
    df = _docs(spark, sf_dir).select("doc_id", ids.alias("input_ids"))
    from .functions import prompt_end_pos

    out = df.select(
        "doc_id",
        "input_ids",
        prompt_end_pos(F.col("input_ids"), _END_TOK_ID).alias("end_pos"),
        target_ids_col(F.col("input_ids"), _PAD_ID, _END_TOK_ID).alias("target_ids"),
    )
    # Serialize in a separate select: aliasing the CSV as `input_ids` inside
    # the same projection would lateral-alias-shadow the array column.
    return out.select(
        "doc_id",
        _ids_csv(F.col("input_ids")).alias("input_ids"),
        "end_pos",
        _ids_csv(F.col("target_ids")).alias("target_ids"),
    )


_SQL_TARGET_MASK = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), w -> CAST(length(w) % 97 AS INT)) AS toks
  FROM documents
),
ids AS (
  SELECT doc_id,
         list_transform(generate_series(1, {_MAX_LEN}),
                        i -> CASE WHEN i <= len(toks) THEN toks[i] ELSE {_PAD_ID} END) AS input_ids
  FROM t
),
pos AS (
  SELECT doc_id, input_ids,
         CAST(coalesce((SELECT max(i) FROM unnest(generate_series(1, {_MAX_LEN})) AS u(i)
                        WHERE input_ids[i] = {_END_TOK_ID}), 1) - 1 AS INT) AS end_pos
  FROM ids
)
SELECT doc_id,
       array_to_string(input_ids, ',') AS input_ids,
       end_pos,
       array_to_string(
         list_transform(generate_series(1, {_MAX_LEN}),
                        i -> CASE WHEN i - 1 <= end_pos OR input_ids[i] = {_PAD_ID}
                                  THEN -100 ELSE input_ids[i] END), ',') AS target_ids
FROM pos
"""


# ---------------------------------------------------------------------------
# S5-S7: member grouping (group_by_keys semantics) over a derived member table
# ---------------------------------------------------------------------------


def q_group_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.ingest import group_members

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    members = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.col("source"), F.lit("/s-"),
                             F.col("doc_id").cast("string"), F.lit(".Json")).alias("fname"),
                    F.lit('{"pages": []}').alias("payload_ref"),
                ),
                F.struct(
                    F.concat(F.col("source"), F.lit("/s-"),
                             F.col("doc_id").cast("string"), F.lit(".TXT")).alias("fname"),
                    F.array_join(F.slice(words, 1, 4), " ").alias("payload_ref"),
                ),
                F.struct(
                    F.concat(F.col("source"), F.lit("/s-"),
                             F.col("doc_id").cast("string"), F.lit(".pdf")).alias("fname"),
                    F.concat(F.lit("ref:"), F.md5(F.col("doc_id").cast("string"))).alias("payload_ref"),
                ),
                # extension-less member → dropped (prefix is None,
                # tariterators.py:44-45)
                F.struct(
                    F.concat(F.col("source"), F.lit("/noext"),
                             F.col("doc_id").cast("string")).alias("fname"),
                    F.lit("junk").alias("payload_ref"),
                ),
            )
        ).alias("m")
    ).select("m.fname", "m.payload_ref")
    from .extract import flatten_spans

    return flatten_spans(group_members(members))


_SQL_GROUP_MEMBERS = """
WITH m AS (
  SELECT source || '/s-' || CAST(doc_id AS VARCHAR) || '.Json' AS fname,
         '{"pages": []}' AS payload_ref FROM documents
  UNION ALL
  SELECT source || '/s-' || CAST(doc_id AS VARCHAR) || '.TXT',
         array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ') FROM documents
  UNION ALL
  SELECT source || '/s-' || CAST(doc_id AS VARCHAR) || '.pdf',
         'ref:' || md5(CAST(doc_id AS VARCHAR)) FROM documents
),
p AS (
  SELECT regexp_extract(fname, '^((?:.*/|)[^.]+)[.]([^/]*)$', 1) AS doc_id,
         fname,
         lower(regexp_extract(fname, '^((?:.*/|)[^.]+)[.]([^/]*)$', 2)) AS ext,
         payload_ref
  FROM m WHERE fname IS NOT NULL
),
k AS (
  SELECT doc_id, fname,
         CASE WHEN regexp_replace(ext, '.*[.]', '') IN ('json','anno') THEN 'anno'
              WHEN regexp_replace(ext, '.*[.]', '') IN ('txt','text','caption') THEN 'text'
              ELSE 'media' END AS kind,
         payload_ref
  FROM p
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fname) - 1 AS INT) AS "offset",
       kind,
       CASE WHEN kind <> 'media' THEN payload_ref END AS text,
       CASE WHEN kind = 'media' THEN payload_ref END AS media_ref
FROM k
"""


# ---------------------------------------------------------------------------
# §2.7: document-level weighted multi-source mixing (split_sources /
# source_to_shard_spec analogue, ref common/config.py:181-258)
# ---------------------------------------------------------------------------


def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.mixing import weighted_union

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    names = [f"src{i}" for i in range(20)]
    sources = [
        (n, d.filter(F.col("source") == n), (i % 4 + 1) / 4.0)
        for i, n in enumerate(names)
    ]
    return weighted_union(sources, seed=0)


_SQL_WEIGHTED_MIX = """
WITH s AS (
  -- only src0..src19 participate (the Spark query unions exactly those
  -- named sources); TRY_CAST so foreign source names can't crash the probe
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         TRY_CAST(substr(source, 4) AS INT) AS si
  FROM documents
  WHERE source IS NOT NULL AND regexp_full_match(source, 'src[0-9]+')
)
SELECT doc_id, source
FROM s
WHERE si < 20
  AND list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 16),
            i -> CAST(strpos('0123456789abcdef',
                   substr(md5(doc_id || '|0|mix:' || source), i, 1)) - 1
                 AS BIGINT))),
        (a, b) -> (a * 16 + b) % 1000000)
      < ((si % 4) + 1) * 250000
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (w_d ∝ n_d^0.5): targets derived
    in-plan from corpus counts via integer micro-sqrt weights +
    largest-remainder apportionment, map-only Bernoulli keep rule."""
    from .sources.mixing import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), total=500, tau=0.5, seed=0)


_SQL_TEMPERATURE_MIX = """
WITH b AS (
  SELECT doc_id, coalesce(CAST(source AS VARCHAR), '\\N') AS grp FROM documents
),
c AS (SELECT grp, count(*) AS n_grp FROM b GROUP BY grp),
q2 AS (
  -- sw/sw_tot, not s/S: DuckDB identifiers are case-insensitive too
  SELECT grp, n_grp, CAST(floor(sqrt(n_grp * 10000)) AS BIGINT) AS sw,
         sum(CAST(floor(sqrt(n_grp * 10000)) AS BIGINT)) OVER () AS sw_tot
  FROM c
),
q3 AS (
  SELECT grp, n_grp,
         (500 * sw) // sw_tot AS q,
         (500 * sw) % sw_tot AS rem
  FROM q2
),
t AS (
  SELECT grp, n_grp,
         CAST(q + CASE WHEN row_number() OVER (ORDER BY rem DESC, grp)
                       <= 500 - sum(q) OVER () THEN 1 ELSE 0 END AS BIGINT)
           AS target
  FROM q3
)
SELECT b.doc_id, b.grp, t.n_grp, t.target,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 16),
             i -> CAST(strpos('0123456789abcdef',
                    substr(md5(CAST(b.doc_id AS VARCHAR) || '|0|tmix'), i, 1)) - 1
                  AS BIGINT))),
         (a, d) -> (a * 16 + d) % 4294967296)
       < least((t.target * 4294967296) // t.n_grp, 4294967296) AS keep
FROM b JOIN t USING (grp)
"""


def q_urldir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import urldir

    fname = F.concat(F.col("source"), F.lit("/a/b/s-"),
                     F.col("doc_id").cast("string"), F.lit(".tar"))
    return _docs(spark, sf_dir).select(
        "doc_id", fname.alias("url"), urldir(fname).alias("dir")
    )


_SQL_URLDIR = """
SELECT doc_id,
       source || '/a/b/s-' || CAST(doc_id AS VARCHAR) || '.tar' AS url,
       regexp_replace(source || '/a/b/s-' || CAST(doc_id AS VARCHAR) || '.tar',
                      '/[^/]*$', '') AS dir
FROM documents
"""


# ---------------------------------------------------------------------------
# S5: real .tar shard ingestion (binaryFile → tarfile expansion → adjacency
# grouping, tariterators.py:28-67) over a deterministic fixture corpus
# derived from the documents table
# ---------------------------------------------------------------------------


def q_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (wds flatten_nested, ref src/chug/wds/filters.py:129-142): a nested
    json-style struct built from documents is merged up into the row with
    replace-existing semantics (the struct's `lang` wins over the column);
    oracle reproduces the synthesis + flatten in SQL."""
    from .functions import flatten_nested

    df = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.struct(
            F.upper(F.col("lang")).alias("lang"),      # collides -> replaces
            F.length("text").alias("n_chars_meta"),
            F.substring("text", 1, 12).alias("head"),
        ).alias("meta"),
    )
    return flatten_nested(df, "meta")


_SQL_FLATTEN_NESTED = """
SELECT doc_id,
       upper(lang) AS lang,
       CAST(length(text) AS INT) AS n_chars_meta,
       substr(text, 1, 12) AS head
FROM documents
"""


def q_safe_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (map_v2 skip-on-error, ref src/chug/wds/filters.py:49-70): a
    per-row sample function that RAISES on every 13th doc and returns None
    on every 7th runs under safe_map's log_and_continue semantics — raising
    and None rows are silently dropped, everything else is mapped.  The
    oracle reproduces the survivor set + mapping in SQL."""
    from .tasks.manual import safe_map

    def fn(row: dict):
        did = int(row["doc_id"])
        if did % 13 == 0:
            raise ValueError("boom")
        if did % 7 == 0:
            return None
        return {"doc_id": did, "shout": (row["lang"] or "").upper(),
                "n_words": len((row["text"] or "").split())}

    body = safe_map(fn, ["doc_id", "shout", "n_words"])
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "text")
        .mapInPandas(body, "doc_id long, shout string, n_words int")
    )


_SQL_SAFE_MAP = r"""
SELECT doc_id, upper(coalesce(lang, '')) AS shout,
       CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                x -> x <> '')) AS INT) AS n_words
FROM documents
WHERE doc_id % 13 <> 0 AND doc_id % 7 <> 0
"""


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume leg (S10/X7/X13) with a HARD oracle: the bucketed
    checkpointed job is crashed mid-run (fail_after=2 of 6 buckets), resumed
    (remaining 4 buckets only — checkpoint rows prove it), and the stitched
    output must hash-equal the BATCH extraction oracle — resumed ≡ clean
    run, verified by the driver."""
    from chug_spark.checkpoint import read_checkpoint, read_output, write_with_checkpoint
    from chug_spark.config import ExtractJobCfg
    from chug_spark.synth import spans_from_documents

    out_dir = _scratch("q_ckpt_") + "/out"
    docs = spans_from_documents(spark, sf_dir)
    cfg = ExtractJobCfg(page_sampling="all_valid", branch="passthrough",
                        run_id="driver_ckpt")
    try:
        write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=6, fail_after=2)
    except RuntimeError:
        pass  # simulated mid-job crash after 2 buckets
    done = read_checkpoint(spark, out_dir, "driver_ckpt").filter(
        F.col("status") == "done"
    ).count()
    assert done == 2, done
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=6)  # resume
    return read_output(spark, out_dir).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming leg with a HARD oracle: the derived span corpus
    is written as 4 parquet files, drained through run_stream_extract
    (Trigger.AvailableNow, maxFilesPerTrigger=2 → 2 micro-batches, each
    running the identical batch plan via foreachBatch with idempotent
    batch_id-partitioned writes), and the combined streaming output must
    hash-equal the BATCH extraction oracle — streaming ≡ batch on the same
    corpus, verified by the driver."""
    from chug_spark.config import ExtractJobCfg
    from chug_spark.streaming.stream import read_stream_output, run_stream_extract
    from chug_spark.synth import spans_from_documents

    base = _scratch("q_stream_")
    in_dir, out_dir = base + "/in", base + "/out"
    spans_from_documents(spark, sf_dir).repartition(4).write.mode(
        "overwrite"
    ).parquet(in_dir)
    cfg = ExtractJobCfg(page_sampling="all_valid", branch="passthrough")
    run_stream_extract(spark, in_dir, out_dir, cfg, max_files_per_trigger=2)
    return read_stream_output(spark, out_dir)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming keep-first dedup with a HARD oracle: batch 0 is
    the corpus plus in-batch duplicates (+500000 ids, every 5th doc); after
    it drains, batch 1 arrives with cross-batch duplicates (+1000000, every
    2nd doc) and genuinely new texts (+2000000 ids, ' streamnew' suffix,
    every 3rd doc) and drains against the PERSISTED applyInPandasWithState
    state.  Every duplicate's first occurrence has the smaller doc_id, so
    streaming keep-first must equal batch min-doc_id-per-fingerprint over
    the union — which is the DuckDB oracle."""
    from pyspark.sql import functions as F

    from chug_spark.streaming.stateful import read_dedup_output, run_stream_dedup

    base = _scratch("q_sdedup_")
    in_dir, out_dir = base + "/in", base + "/out"
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    b0 = d.union(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"
        )
    )
    b0.coalesce(2).write.mode("overwrite").parquet(in_dir)
    run_stream_dedup(spark, in_dir, out_dir)
    b1 = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    ).union(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" streamnew")).alias("text"),
        )
    )
    b1.coalesce(2).write.mode("append").parquet(in_dir)
    run_stream_dedup(spark, in_dir, out_dir)
    return read_dedup_output(spark, out_dir)


_SQL_STREAM_DEDUP = r"""
WITH b AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' streamnew' FROM documents WHERE doc_id % 3 = 0
),
f AS (
  SELECT doc_id,
         md5(coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '')) AS fp
  FROM b
)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp FROM f GROUP BY fp
"""


# ---------------------------------------------------------------------------
# S1-S4: shard-manifest machinery (expand_urls / shuffled / resampled) as a
# driver-checked surface (ref src/chug/common/urls.py:48-88,
# src/chug/wds/shardlists.py:10-119).  The fixture is a constant two-source
# weighted brace spec, so the oracle is self-contained SQL (env-substitution
# stays pytest-covered — the driver env is not ours to set).
# ---------------------------------------------------------------------------

_SHARD_SPEC = (
    "s3://corpus/train-{000000..000199}.tar::file:/data/extra-{00..19}.tar"
)
_SHARD_WEIGHTS = "2.0::1.0"


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3: '::'-weighted brace expansion -> manifest -> deterministic
    per-epoch shuffle with sub-interval striping (seed=1, interval=3 of 4):
    (shard_url, weight, epoch_pos) for the stripe."""
    from pyspark.sql import Window

    from .sources.manifest import shard_manifest, shuffled_shards

    manifest = shard_manifest(spark, _SHARD_SPEC, _SHARD_WEIGHTS)
    # keep_order_col: rank by the op's OWN sort key rather than re-deriving
    # the eff-seed rule here (a drifting re-encoding was silent before)
    epoch = shuffled_shards(manifest, seed=1, interval=3, num_sub_intervals=4,
                            keep_order_col=True)
    return epoch.select(
        "shard_url", "weight",
        (F.row_number().over(Window.orderBy("shard_order")) - 1)
        .cast("int").alias("epoch_pos"),
    )


def q_shard_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 (ResampledShardsV2): 100 weighted draws with replacement via
    inverse-CDF over md5-derived uniforms — (draw, shard_url)."""
    from .sources.manifest import resampled_shards, shard_manifest

    manifest = shard_manifest(spark, _SHARD_SPEC, _SHARD_WEIGHTS)
    return resampled_shards(manifest, nshards=100, seed=5)


_FOLD12 = (
    "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, {n}), "
    "i -> CAST(strpos('0123456789abcdef', substr(md5({key}), "
    "CAST(i AS INT), 1)) - 1 AS BIGINT))), (a, b) -> a * 16 + b))"
)

_SHARDS_CTE = """
shards AS (
  SELECT printf('s3://corpus/train-%06d.tar', u.i) AS shard_url, CAST(2.0 AS DOUBLE) AS weight
  FROM unnest(generate_series(0, 199)) AS u(i)
  UNION ALL
  SELECT printf('file:/data/extra-%02d.tar', u.i), CAST(1.0 AS DOUBLE)
  FROM unnest(generate_series(0, 19)) AS u(i)
)
"""

_SQL_SHARD_PLAN = f"""
WITH {_SHARDS_CTE},
striped AS (
  SELECT shard_url, weight
  FROM shards
  WHERE {_FOLD12.format(n=8, key="shard_url || '|1'")} % 4 = 3
)
SELECT shard_url, weight,
       CAST(row_number() OVER (ORDER BY md5(shard_url || '|1')) - 1 AS INT)
         AS epoch_pos
FROM striped
"""

_SQL_SHARD_RESAMPLE = f"""
WITH {_SHARDS_CTE},
cdf AS (
  SELECT shard_url,
         sum(weight) OVER (ORDER BY shard_url ROWS UNBOUNDED PRECEDING)
           / sum(weight) OVER () AS cdf
  FROM shards
),
draws AS (
  SELECT CAST(u.i AS INT) AS draw,
         {_FOLD12.format(n=12, key="'draw|' || CAST(u.i AS VARCHAR) || '|5'")}
           / CAST(281474976710656 AS DOUBLE) AS uu
  FROM unnest(generate_series(0, 99)) AS u(i)
)
SELECT d.draw, min_by(c.shard_url, c.cdf) AS shard_url
FROM draws d JOIN cdf c ON c.cdf > d.uu
GROUP BY d.draw
"""


def q_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tar import build_fixture_corpus, read_tar_samples

    corpus = build_fixture_corpus(spark, sf_dir)
    samples = read_tar_samples(spark, corpus + "/*.tar")
    s = F.explode("spans").alias("s")
    return samples.select(
        F.regexp_extract("shard", r"([^/]+)$", 1).alias("shard"),
        "sample_no",
        "doc_id",
        s,
    ).select(
        "shard",
        "sample_no",
        "doc_id",
        F.col("s")["offset"].alias("offset"),
        F.col("s")["kind"].alias("kind"),
        F.col("s")["text"].alias("text"),
        F.col("s")["media_ref"].alias("media_ref"),
    )


# Rebuilds the fixture contract in SQL: docs in doc_id order round-robin over
# 8 shards; per doc one sample [anno, media, text] plus (doc_id%10==0) a
# duplicate-suffix split sample [text2]; sample_no = running per-shard index.
_SQL_TAR_INGEST = """
WITH d AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words,
         row_number() OVER (ORDER BY doc_id) - 1 AS rn
  FROM documents
),
base AS (
  SELECT 's-' || CAST(doc_id AS VARCHAR) AS key,
         CAST(rn % 8 AS BIGINT) AS shard_i, rn, doc_id, words,
         (doc_id % 10 = 0) AS dup
  FROM d
),
s AS (
  SELECT key, shard_i, rn, doc_id, words, 0 AS sub FROM base
  UNION ALL
  SELECT key, shard_i, rn, doc_id, words, 1 FROM base WHERE dup
),
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY shard_i ORDER BY rn, sub) - 1
            AS sample_no
  FROM s
)
SELECT printf('shard-%05d.tar', shard_i) AS shard,
       CAST(sample_no AS BIGINT) AS sample_no,
       key AS doc_id, CAST(0 AS INT) AS "offset", 'anno' AS kind,
       '{"k": ' || CAST(doc_id AS VARCHAR) || '}' AS text,
       CAST(NULL AS VARCHAR) AS media_ref
FROM numbered WHERE sub = 0
UNION ALL
SELECT printf('shard-%05d.tar', shard_i), CAST(sample_no AS BIGINT),
       key, CAST(1 AS INT), 'media', CAST(NULL AS VARCHAR),
       'sha256:' || sha256(md5(CAST(doc_id AS VARCHAR)))
FROM numbered WHERE sub = 0
UNION ALL
SELECT printf('shard-%05d.tar', shard_i), CAST(sample_no AS BIGINT),
       key, CAST(2 AS INT), 'text',
       coalesce(array_to_string(list_slice(words, 1, 4), ' '), ''),
       CAST(NULL AS VARCHAR)
FROM numbered WHERE sub = 0
UNION ALL
SELECT printf('shard-%05d.tar', shard_i), CAST(sample_no AS BIGINT),
       key, CAST(0 AS INT), 'text',
       -- a <=4-word doc leaves this tar member EMPTY; reading an empty
       -- member is '', but DuckDB's array_to_string of an empty slice is
       -- NULL — coalesce to match the bytes actually in the tar
       coalesce(array_to_string(list_slice(words, 5, 8), ' '), ''),
       CAST(NULL AS VARCHAR)
FROM numbered WHERE sub = 1
"""


# ---------------------------------------------------------------------------
# X2 det_shuffle: the deterministic-shuffle schedule (stripe + intra-stripe
# rank) with the portable md5 hash engine, so DuckDB replays the exact
# permutation (ref detshuffle_v2, src/chug/wds/filters.py:11-46)
# ---------------------------------------------------------------------------

_SHUF_SEED, _SHUF_INTERVAL, _SHUF_STRIPES = 3, 2, 8


def q_det_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.dataflow import det_shuffle_plan

    return det_shuffle_plan(
        _docs(spark, sf_dir).select("doc_id"),
        seed=_SHUF_SEED, interval=_SHUF_INTERVAL,
        num_stripes=_SHUF_STRIPES, engine="md5",
    )


_HEX15 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(generate_series(1, 15),"
    " i -> CAST(strpos('0123456789abcdef', substr({m}, i, 1)) - 1 AS BIGINT))),"
    " (a, b) -> a * 16 + b)"
)

_SQL_DET_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         {_HEX15.format(m=f"md5(CAST(doc_id AS VARCHAR) || '|{_SHUF_SEED + _SHUF_INTERVAL}')")} AS shuffle_key
  FROM documents
)
SELECT doc_id,
       CAST(shuffle_key % {_SHUF_STRIPES} AS INT) AS stripe,
       CAST(row_number() OVER (PARTITION BY shuffle_key % {_SHUF_STRIPES}
                               ORDER BY shuffle_key, doc_id) - 1 AS INT) AS pos_in_stripe,
       shuffle_key
FROM h
"""


# ---------------------------------------------------------------------------
# P2 to_tuple + task assembly: the full image-text task pipeline (validity
# filter → coalesce-rename → per-feature map → positional tuple projection,
# ref pipeline_image_text.py:32-90)
# ---------------------------------------------------------------------------


def q_image_text_task(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .config import FeatureInfo, ImageFeatureInfo, ImageTextTaskCfg
    from .tasks.imagetext import build_image_text

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("lang") == "en", F.col("text")).alias("caption_en"),
        F.col("text").alias("caption"),
        F.when(
            F.col("n_chars") >= 100,
            F.concat(F.lit("img://"), F.col("doc_id").cast("string")),
        ).alias("image"),
    )
    cfg = ImageTextTaskCfg(
        image_input_feat=ImageFeatureInfo("image_input", "image", "RGB"),
        text_input_feat=FeatureInfo("text", "caption_en;caption"),
        filter_valid=True,
        output_tuple=True,
    )
    return build_image_text(df, cfg, text_process=lambda c: F.lower(c))


_SQL_IMAGE_TEXT_TASK = """
SELECT 'img://' || CAST(doc_id AS VARCHAR) AS image_input,
       lower(coalesce(CASE WHEN lang = 'en' THEN text END, text)) AS text
FROM documents
WHERE n_chars >= 100 AND text IS NOT NULL
"""


# ---------------------------------------------------------------------------
# D11/D12 prepare_text_input: task-start prefix + eos append + tokenize +
# pad/truncate + target masking (ref src/chug/text/tokenization.py:61-96)
# ---------------------------------------------------------------------------

_TP_MAX_LEN, _TP_PAD = 24, 0


def q_text_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text.tokenization import prepare_text_input_cols

    cols = prepare_text_input_cols(
        F.col("text"), max_length=_TP_MAX_LEN, pad_id=_TP_PAD,
        task_start_token="<s_doc>", eos_token="</s>",
        prompt_end_token_id=None, include_target=True,
    )
    df = _docs(spark, sf_dir).select(
        "doc_id", cols["text_input"].alias("ti"), cols["text_target"].alias("tt")
    )
    return df.select(
        "doc_id",
        _ids_csv(F.col("ti")).alias("text_input"),
        _ids_csv(F.col("tt")).alias("text_target"),
    )


_SQL_TEXT_PREP = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split('<s_doc>' || text || ' </s>', ' '),
                        w -> CAST(length(w) % 97 AS INT)) AS toks
  FROM documents
),
ids AS (
  SELECT doc_id,
         list_transform(generate_series(1, {_TP_MAX_LEN}),
                        i -> CASE WHEN i <= len(toks) THEN toks[i] ELSE {_TP_PAD} END) AS input_ids
  FROM t
)
SELECT doc_id,
       array_to_string(input_ids, ',') AS text_input,
       array_to_string(
         list_transform(input_ids,
                        x -> CASE WHEN x = {_TP_PAD} THEN -100 ELSE x END), ',') AS text_target
FROM ids
"""


# ---------------------------------------------------------------------------
# S8 dataset_size: sizes.json discovery as a one-row distributed aggregate
# (ref src/chug/wds/dataset_info.py:11-28)
# ---------------------------------------------------------------------------


def q_dataset_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.ingest import dataset_size_df

    return dataset_size_df(_docs(spark, sf_dir), shard_size=512)


_SQL_DATASET_SIZE = """
SELECT count(*) AS num_samples,
       CAST(ceil(count(*) / 512.0) AS INT) AS num_shards
FROM documents
"""


# ---------------------------------------------------------------------------
# X7 lineage accounting: the checkpointed job's per-bucket metrics table
# (doc/span/error counts) with the portable md5 bucket engine — DuckDB
# replays the bucket assignment over the docread oracle and checks every
# lineage value (run_id/wall_ms excluded: constant / timing)
# ---------------------------------------------------------------------------

_LIN_BUCKETS = 6


def q_lineage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .checkpoint import read_checkpoint, write_with_checkpoint
    from .config import ExtractJobCfg
    from .synth import spans_from_documents

    out_dir = _scratch("q_lineage_") + "/out"
    docs = spans_from_documents(spark, sf_dir)
    cfg = ExtractJobCfg(page_sampling="all_valid", branch="passthrough",
                        run_id="driver_lineage")
    write_with_checkpoint(spark, docs, cfg, out_dir, n_buckets=_LIN_BUCKETS)
    return read_checkpoint(spark, out_dir, "driver_lineage").select(
        "bucket", "doc_count", "span_count", "error_count", "status", "attempt"
    )


def _lineage_sql() -> str:
    # shared extraction oracle; _PAGES_CTE re-derives the valid-page CTE at
    # this scope so error docs (text present but zero valid pages → one
    # no_valid_pages policy-error row each) are bucket-counted like the
    # engine's errors side-output
    from __spark_entry__ import _PAGES_CTE, _docread_sql

    bucket = _HEX15.format(m="md5(doc_id || '|0')") + f" % {_LIN_BUCKETS}"
    return f"""
{_PAGES_CTE},
errdocs AS (
  SELECT d.doc_id FROM d
  WHERE NOT EXISTS (SELECT 1 FROM valid v WHERE v.doc_id = d.doc_id)
),
spans AS ({_docread_sql("all_valid")}),
per_bucket AS (
  SELECT CAST({bucket} AS INT) AS bucket,
         count(DISTINCT doc_id) AS doc_count,
         count(*) AS span_count
  FROM spans
  GROUP BY 1
),
err_bucket AS (
  SELECT CAST({bucket} AS INT) AS bucket, count(*) AS error_count
  FROM errdocs
  GROUP BY 1
)
SELECT b.bucket,
       CAST(coalesce(p.doc_count, 0) AS BIGINT) AS doc_count,
       CAST(coalesce(p.span_count, 0) AS BIGINT) AS span_count,
       CAST(coalesce(e.error_count, 0) AS BIGINT) AS error_count,
       'done' AS status,
       1 AS attempt
FROM (SELECT u.b AS bucket
      FROM unnest(generate_series(0, {_LIN_BUCKETS - 1})) AS u(b)) b
LEFT JOIN per_bucket p ON b.bucket = p.bucket
LEFT JOIN err_bucket e ON b.bucket = e.bucket
"""


def q_caption_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pairing mined from the interleaved flagship stream: the
    reference's image-text task requires an explicit caption key per sample
    (ref pipeline_image_text.py:23-30); at web scale the caption is mined
    from the text spans ADJACENT to each media span instead
    (ops/interleave.mine_captions).  Runs on the real docread output, so
    the oracle replays the full extraction SQL plus the neighbor windows."""
    from .flagship import docread_flat
    from .ops.interleave import mine_captions

    return mine_captions(docread_flat(spark, sf_dir, page_sampling="all_valid"))


def _caption_mine_sql() -> str:
    from __spark_entry__ import _docread_sql

    neighbor = (
        "CASE WHEN kind = 'text' THEN nullif(trim(text), '') END IGNORE NULLS"
    )
    return f"""
WITH spans AS ({_docread_sql("all_valid")}),
t AS (
  SELECT doc_id, "offset", kind, media_ref,
         last_value({neighbor})
           OVER (PARTITION BY doc_id ORDER BY "offset"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b,
         first_value({neighbor})
           OVER (PARTITION BY doc_id ORDER BY "offset"
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS a
  FROM spans
)
SELECT doc_id, "offset", media_ref,
       substr(b, 1, 160) AS before_text,
       substr(a, 1, 160) AS after_text,
       coalesce(substr(a, 1, 160), substr(b, 1, 160)) AS caption,
       CASE WHEN a IS NOT NULL THEN 'after'
            WHEN b IS NOT NULL THEN 'before'
            ELSE 'none' END AS cap_src
FROM t WHERE kind = 'media'
"""


# ---------------------------------------------------------------------------
# WARC shard ingestion (web-scale counterpart of the wds tar shards, ref
# tariterators.py:28-59 for the per-shard sequential-stream contract) and
# the end-to-end web pipeline: WARC bytes -> records -> HTML main content.
# The oracle replays the deterministic fixture synthesis
# (sources/warc.build_warc_fixture) plus the record-stream arithmetic:
# per shard, rec 0 is warcinfo, each doc appends a response and — when
# doc_id % 5 = 0 — a request, so the k-th doc's response lands at
# rec_no = 1 + k + (# earlier docs in the shard with a request record).
# ---------------------------------------------------------------------------


def _warc_response_projection(recs: DataFrame) -> DataFrame:
    """The response-record projection shared by warc_ingest and stream_warc
    (both validate against _SQL_WARC_INGEST — one projection, two ingestion
    paths)."""
    return recs.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("shard", r"([^/]+?)\.warc", 1).alias("shard"),
        "rec_no",
        "url",
        "warc_date",
        F.col("http_status").alias("status"),
        "content_type",
        F.length("body").cast("int").alias("body_chars"),
        F.regexp_extract("body", r"(?is)<title[^>]*>(.*?)</title>", 1)
        .alias("title"),
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import build_warc_fixture, read_warc_records

    corpus = build_warc_fixture(spark, sf_dir)
    return _warc_response_projection(
        read_warc_records(spark, corpus + "/*.warc*")
    )


# body synthesis replay (sources/warc._fixture_body + record framing): shared
# CTE prefix for both WARC oracles
_WARC_CTE = """
d AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words, source,
         row_number() OVER (ORDER BY doc_id) - 1 AS rn
  FROM documents
),
a AS (
  SELECT doc_id, words, source, rn % 4 AS shard_i,
         row_number() OVER (PARTITION BY rn % 4 ORDER BY rn) - 1 AS k,
         coalesce(sum(CAST(doc_id % 5 = 0 AS INT)) OVER (
            PARTITION BY rn % 4 ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_req
  FROM d
),
b AS (
  SELECT doc_id, source, shard_i, k, prev_req,
    CASE WHEN doc_id % 13 = 0 THEN 'gone'
    ELSE '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      || '</title></head><body>'
      || array_to_string(list_transform(
           generate_series(0, CAST(ceil(len(words) / 12.0) AS INT) - 1),
           p -> '<p>' || array_to_string(list_slice(words, p*12 + 1, p*12 + 12), ' ')
                || '</p>'), '')
      || '<!--' || CASE WHEN doc_id % 17 = 0
                        THEN 'WARC/1.0' || chr(13) || chr(10) || 'not a record boundary'
                        ELSE '' END
      || '--></body></html>' END AS body
  FROM a
)
"""

_SQL_WARC_INGEST = f"""
WITH {_WARC_CTE}
SELECT printf('shard-%05d', shard_i) AS shard,
       CAST(1 + k + prev_req AS INT) AS rec_no,
       'https://' || coalesce(source, 'unknown') || '/doc/'
         || CAST(doc_id AS VARCHAR) AS url,
       strftime(TIMESTAMP '2020-01-01 00:00:00' + to_seconds(doc_id),
                '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS status,
       CASE WHEN doc_id % 13 = 0 THEN 'text/plain' ELSE 'text/html' END
         AS content_type,
       CAST(length(body) AS INT) AS body_chars,
       CASE WHEN doc_id % 13 = 0 THEN ''
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS title
FROM b
"""


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web extraction: WARC shards -> Content-Length-framed
    records -> HTTP 200 text/html responses -> jusText-style main content
    (ops/html.html_main_content).  One scan stage, no shuffle."""
    from .ops.html import html_main_content
    from .sources.warc import build_warc_fixture, read_warc_records

    # 32 shards: parse parallelism = shard files (the oracle is doc-level,
    # so unlike warc_ingest's rec_no arithmetic it doesn't pin shard count)
    corpus = build_warc_fixture(spark, sf_dir, n_shards=32)
    recs = read_warc_records(spark, corpus + "/*.warc*")
    pages = recs.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("content_type") == "text/html")
    ).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("body").alias("html"),
    )
    return html_main_content(pages)


def q_stream_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl ingestion with a HARD oracle: the 4 fixture WARC
    shards arrive in two waves (2 shards, drain; 2 more, drain against the
    streaming checkpoint — the second drain parses ONLY the new files), and
    the combined record output must hash-equal the BATCH warc_ingest
    oracle: streaming ≡ batch on the same archive set."""
    import shutil

    from .sources.warc import build_warc_fixture
    from .streaming.stream import read_warc_stream_output, run_stream_warc_ingest

    corpus = build_warc_fixture(spark, sf_dir)
    base = _scratch("q_swarc_")
    in_dir, out_dir = base + "/in", base + "/out"
    import os

    os.makedirs(in_dir, exist_ok=True)
    shards = sorted(
        f for f in os.listdir(corpus) if ".warc" in f
    )
    for f in shards[:2]:
        shutil.copy(os.path.join(corpus, f), in_dir)
    run_stream_warc_ingest(spark, in_dir, out_dir)
    for f in shards[2:]:
        shutil.copy(os.path.join(corpus, f), in_dir)
    run_stream_warc_ingest(spark, in_dir, out_dir)

    return _warc_response_projection(read_warc_stream_output(spark, out_dir))


def _warc_extract_sql() -> str:
    from .ops.html import BOILERPLATE_TAGS, _BLOCK_TAG_RE

    stripped = "body"
    for t in BOILERPLATE_TAGS:
        stripped = (
            f"regexp_replace({stripped}, '(?is)<{t}[^>]*>.*?</{t}>', ' ', 'g')"
        )
    unesc = "regexp_replace(x, '<[^>]*>', ' ', 'g')"
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        unesc = f"replace({unesc}, '{ent}', '{ch}')"
    clean_text = f"trim(regexp_replace({unesc}, '\\s+', ' ', 'g'))"
    link_len = (
        "coalesce(list_sum(list_transform("
        "regexp_extract_all(x, '(?is)<a[^>]*>(.*?)</a>', 1), "
        "a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), "
        "'\\s+', ' ', 'g'))))), 0)"
    )
    return f"""
WITH {_WARC_CTE},
pages AS (
  SELECT doc_id, body FROM b WHERE doc_id % 13 <> 0
),
s AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_extract(body, '(?is)<title[^>]*>(.*?)</title>', 1),
                             '\\s+', ' ', 'g')) AS title,
         {stripped} AS stripped
  FROM pages
),
sc AS (
  SELECT doc_id, title,
         list_transform(
           string_split_regex(stripped, '{_BLOCK_TAG_RE}'),
           x -> struct_pack(text := {clean_text}, link_len := {link_len})) AS scored
  FROM s
),
k AS (
  SELECT doc_id, title,
         list_filter(scored, s -> length(s.text) >= 20
                     AND s.link_len <= greatest(length(s.text), 1) * 0.5) AS kept,
         len(list_filter(scored, s -> length(s.text) > 0)) AS n_total
  FROM sc
)
SELECT doc_id, title,
       coalesce(array_to_string(list_transform(kept, s -> s.text), chr(10)), '')
         AS main_text,
       CAST(len(kept) AS INT) AS n_kept,
       CAST(n_total - len(kept) AS INT) AS n_dropped
FROM k
"""


def q_warc_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-bytes charset pipeline: WARC shards → HTTP response parse
    (keeping the UNdecoded body bytes) → WHATWG sniff (ops/charset.py,
    HTTP Content-Type outranking in-document meta) → BOM-stripped decode.
    One scan stage; the fixture encodes six charset classes by doc_id%6
    (sources/warc.build_warc_charset_fixture) and the oracle states the
    ground truth per class, so the full bytes→text chain is hash-checked."""
    from .ops.charset import decode_payload_text, detect_charset
    from .sources.warc import build_warc_charset_fixture, read_warc_records

    corpus = build_warc_charset_fixture(spark, sf_dir)
    recs = read_warc_records(spark, corpus + "/*.warc*", keep_bytes=True)
    pages = recs.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "content_type",
        "body_bytes",
    )
    sniffed = detect_charset(
        pages, payload_col="body_bytes", header_ct_col="content_type"
    )
    return decode_payload_text(sniffed, payload_col="body_bytes").select(
        "doc_id", "content_type", "bom", "hdr_charset", "meta_charset",
        "utf8_valid", "charset", "bom_len", "text",
    )


_SQL_WARC_CHARSET = """
SELECT doc_id,
       CASE WHEN m = 4 THEN 'text/html; charset=ISO-8859-1'
            ELSE 'text/html' END AS content_type,
       CASE WHEN m = 2 THEN 'utf-8'
            WHEN m = 3 THEN 'utf-16le' END AS bom,
       CASE WHEN m = 4 THEN 'iso-8859-1' END AS hdr_charset,
       CASE WHEN m = 1 THEN 'windows-1252' END AS meta_charset,
       m IN (0, 2) AS utf8_valid,
       CASE WHEN m = 0 THEN 'utf-8'
            WHEN m = 1 THEN 'windows-1252'
            WHEN m = 2 THEN 'utf-8'
            WHEN m = 3 THEN 'utf-16le'
            WHEN m = 4 THEN 'iso-8859-1'
            ELSE 'windows-1252' END AS charset,
       CAST(CASE WHEN m = 2 THEN 3 WHEN m = 3 THEN 2 ELSE 0 END AS INT)
         AS bom_len,
       CASE WHEN m IN (0, 2) THEN 'Doc ' || i || ' plain.'
            WHEN m = 1 THEN '<meta charset="windows-1252">caf' || chr(233)
                            || ' ' || i
            WHEN m = 3 THEN 'hi ' || i
            WHEN m = 4 THEN chr(255) || ' doc ' || i
            ELSE 'caf' || chr(233) || ' doc ' || i
       END AS text
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 6 AS m,
             CAST(doc_id AS VARCHAR) AS i
      FROM documents)
"""


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "group_members": q_group_members,
        "urldir": q_urldir,
        "coalesce_rename": q_coalesce_rename,
        "filter_incomplete": q_filter_incomplete,
        "base_plus_ext": q_base_plus_ext,
        "vqa_prompt": q_vqa_prompt,
        "line_join": q_line_join,
        "target_mask": q_target_mask,
        "weighted_mix": q_weighted_mix,
        "tar_ingest": q_tar_ingest,
        "shard_plan": q_shard_plan,
        "shard_resample": q_shard_resample,
        "stream_extract": q_stream_extract,
        "stream_dedup": q_stream_dedup,
        "flatten_nested": q_flatten_nested,
        "safe_map": q_safe_map,
        "checkpoint_resume": q_checkpoint_resume,
        "det_shuffle": q_det_shuffle,
        "image_text_task": q_image_text_task,
        "text_prep": q_text_prep,
        "dataset_size": q_dataset_size,
        "lineage_report": q_lineage_report,
        "warc_ingest": q_warc_ingest,
        "warc_extract": q_warc_extract,
        "warc_charset": q_warc_charset,
        "caption_mine": q_caption_mine,
        "stream_warc": q_stream_warc,
        "temperature_mix": q_temperature_mix,
    }
    from .ops.entry import ops_queries

    q.update(ops_queries())
    return q


def extra_oracle_sql() -> dict[str, str]:
    sql = {
        "group_members": _SQL_GROUP_MEMBERS,
        "urldir": _SQL_URLDIR,
        "coalesce_rename": _SQL_COALESCE_RENAME,
        "filter_incomplete": _SQL_FILTER_INCOMPLETE,
        "base_plus_ext": _SQL_BASE_PLUS_EXT,
        "vqa_prompt": _SQL_VQA_PROMPT,
        "line_join": _SQL_LINE_JOIN,
        "target_mask": _SQL_TARGET_MASK,
        "weighted_mix": _SQL_WEIGHTED_MIX,
        "tar_ingest": _SQL_TAR_INGEST,
        "shard_plan": _SQL_SHARD_PLAN,
        "shard_resample": _SQL_SHARD_RESAMPLE,
        "stream_dedup": _SQL_STREAM_DEDUP,
        "flatten_nested": _SQL_FLATTEN_NESTED,
        "safe_map": _SQL_SAFE_MAP,
        "det_shuffle": _SQL_DET_SHUFFLE,
        "image_text_task": _SQL_IMAGE_TEXT_TASK,
        "text_prep": _SQL_TEXT_PREP,
        "dataset_size": _SQL_DATASET_SIZE,
        "lineage_report": _lineage_sql(),
        "warc_ingest": _SQL_WARC_INGEST,
        "warc_extract": _warc_extract_sql(),
        "warc_charset": _SQL_WARC_CHARSET,
        "caption_mine": _caption_mine_sql(),
        "stream_warc": _SQL_WARC_INGEST,
        "temperature_mix": _SQL_TEMPERATURE_MIX,
    }
    from .ops.entry import ops_oracle_sql

    sql.update(ops_oracle_sql())
    return sql
