"""Additional operator-coverage queries: semi-structured JSON, regex
predicates (P6), counter roll-ups (A4/F14), reshapes, tokenizer
trainers and deterministic UUIDv5 ids (value-checked against a precomputed
fixture parquet — DuckDB has no sha1/uuid5 built-in).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import load_table


# --- semi-structured: JSON property extraction (the reference reads
# scraped JSON metadata by hand, `text_to_database.py:194-228`) --------

def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(
            "props", StructType([StructField("k", IntegerType())])
        )["k"].alias("k"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    return (
        parsed.withColumn("k_bucket", (F.col("k") % 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


JSON_PROPS_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket,
       count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# --- P6: regex predicate on text (`building_violations.py:47`) ---------

def regex_predicate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").rlike(r"merge (join|sort)"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_matching"))
    )


REGEX_PREDICATE_ORACLE = """
SELECT lang, count(*) AS n_matching
FROM documents
WHERE regexp_matches(text, 'merge (join|sort)')
GROUP BY lang
"""


# --- A4/F14: token-counter roll-up (counter merge via explode+rollup;
# `count_computer.py:40-87`, Counter sum `abstract_preprocessor.py:
# 343-352`) -------------------------------------------------------------

def token_counter_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter ladder: per-(lang, token) counts plus per-token global
    counts in one grouping-sets pass (the decision→chamber→court→canton
    ladder of A4, collapsed to two levels here).

    ``groupingSets`` computes EXACTLY the two sets the query outputs —
    the earlier ``cube`` formulation also materialized the (lang) and
    () sets and discarded them, paying for two aggregates that never
    left the plan."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("token"),
    )
    levels = words.groupingSets(
        [["lang", "token"], ["token"]], "lang", "token"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return levels.select(
        F.coalesce(F.col("lang"), F.lit("<ALL>")).alias("lang"),
        "token",
        "cnt",
    ).where(F.col("cnt") >= 50)


TOKEN_COUNTER_ORACLE = """
WITH words AS (
  SELECT lang,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents)
SELECT coalesce(lang, '<ALL>') AS lang, token, count(*) AS cnt
FROM words
GROUP BY GROUPING SETS ((lang, token), (token))
HAVING count(*) >= 50
"""


def hourly_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: hourly event counts per type with
    missing hours emitted as 0 — the standard time-series densify
    (`sequence` + explode builds the spine; the grid is spine × the
    tiny type dim, broadcast; counts left-join on).  Needed anywhere
    the reference plots per-period distributions (`report_creator.py`)
    — pandas reindex does this driver-side; the engine does it
    distributed.  Spine size is bounded by the time range (one row per
    hour), never by the event count, so the cross join is safe at any
    corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )


SPINE_ORACLE = """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2)
SELECT strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       t.event_type,
       coalesce(c.cnt, 0) AS cnt
FROM spine s
CROSS JOIN types t
LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
"""


def unpivot_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): per-doc stats as (doc_id, stat, value)
    rows — the inverse of `user_event_pivot`, completing the reshape
    pair.  Map-side row expansion, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    return wide.unpivot("doc_id", ["n_chars", "n_tokens"], "stat", "value")


UNPIVOT_ORACLE = """
SELECT doc_id, 'n_chars' AS stat, CAST(n_chars AS BIGINT) AS value
FROM documents
UNION ALL
SELECT doc_id, 'n_tokens' AS stat,
       CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS value
FROM documents
"""



def uuid5_document_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference id semantics (`sql_select_utils.py:168`): uuid5 with
    namespace UUID(int=0) over a name.  DuckDB has no sha1/uuid5, so
    the oracle joins a precomputed fixture parquet
    (`resources/uuid5_doc_ids.parquet`, doc_id 0..4999, generated once
    by Python's stdlib ``uuid.uuid5``) — a real value check instead of
    the rows-only fallback."""
    from swisscourtrulingcorpus_spark.extraction.ids import uuid5_sql

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(uuid5_sql("concat('doc_', cast(doc_id as string))")).alias(
            "decision_id"
        ),
    )


_RESOURCES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "resources"
)
_UUID5_FIXTURE = _os.path.join(_RESOURCES, "uuid5_doc_ids.parquet")
_BPE_MERGES_FIXTURE = _os.path.join(_RESOURCES, "bpe_fixture_merges.parquet")
_BPE_ENCODED_FIXTURE = _os.path.join(_RESOURCES, "bpe_fixture_encoded.parquet")


# --- BPE vs frozen fixture (VERDICT r04 item 5) -------------------------

def bpe_merges_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed BPE trainer (`operators/bpe.py::bpe_train` —
    iterative, whole-corpus-dependent, so no static SQL oracle exists)
    value-checked the `uuid5_document_ids` way: a frozen doc_id-
    arithmetic corpus (`plans/bpe_fixture.py`, identical at every SF)
    is trained in Spark, and the oracle reads the merge table an
    INDEPENDENT pure-Python reference trainer produced offline
    (`tools/make_bpe_fixture.py`).  Any drift in pair counting,
    tie-breaking (count desc, pair asc) or the greedy fold rewrite
    changes some (rank, a, b) row and fails the hash."""
    from swisscourtrulingcorpus_spark.operators.bpe import bpe_train
    from swisscourtrulingcorpus_spark.plans.bpe_fixture import (
        BPE_FIXTURE_DOCS,
        BPE_FIXTURE_MERGES,
        bpe_fixture_text_col,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < BPE_FIXTURE_DOCS)
    )
    corpus = docs.select(bpe_fixture_text_col("doc_id").alias("text"))
    merges = bpe_train(corpus, "text", num_merges=BPE_FIXTURE_MERGES)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )


BPE_MERGES_ORACLE = f"""
SELECT rank, a, b FROM '{_BPE_MERGES_FIXTURE}'
"""


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched BPE encoder over the frozen merge table: the
    fixture corpus is reconstructed JVM-side, encoded through
    `bpe_encode_udf` (broadcast merge ranks, greedy lowest-rank-first),
    and compared against offline-encoded output.  Verifies the encode
    path end-to-end through the Arrow boundary — tokenization drift of
    a single word on one doc fails the hash."""
    from swisscourtrulingcorpus_spark.operators.bpe import bpe_encode_udf
    from swisscourtrulingcorpus_spark.plans.bpe_fixture import (
        BPE_FIXTURE_DOCS,
        bpe_fixture_text_col,
    )

    merges = [
        (r["a"], r["b"])
        for r in spark.read.parquet(_BPE_MERGES_FIXTURE).orderBy("rank").collect()
    ]
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < BPE_FIXTURE_DOCS)
    )
    corpus = docs.select("doc_id", bpe_fixture_text_col("doc_id").alias("text"))
    return corpus.select(
        "doc_id",
        F.concat_ws(" ", bpe_encode_udf(merges)("text")).alias("tokens"),
    )


BPE_ENCODE_ORACLE = f"""
SELECT doc_id, tokens FROM '{_BPE_ENCODED_FIXTURE}'
"""

UUID5_ORACLE = f"""
SELECT d.doc_id, f.decision_id
FROM documents d
JOIN '{_UUID5_FIXTURE}' f ON d.doc_id = f.doc_id
"""


# --- W4/S15: seeded random verification sample -------------------------

def sampled_verification_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coverage-verification sample (`coverage_verification.py:
    88-103`: ORDER BY RANDOM() LIMIT n, here seeded per SURVEY §7.3
    risk 4).  The "random" key is md5 of a seed-salted id rather than
    engine RNG state: identical in every engine and at every cluster
    size (rand(seed) is partition-dependent on a real cluster), so the
    sample is reproducible at 100 TB AND DuckDB-oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    rand_key = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    return (
        docs.orderBy(rand_key, F.col("doc_id"))
        .limit(50)
        .select("doc_id", "lang", "n_chars")
    )


SAMPLED_VERIFICATION_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT 50
"""


SPECS = [
    QuerySpec("json_props_stats", json_props_stats, JSON_PROPS_ORACLE, "JSON extraction"),
    QuerySpec("sampled_verification_docs", sampled_verification_docs, SAMPLED_VERIFICATION_ORACLE, "W4 seeded sample"),
    QuerySpec("regex_predicate_documents", regex_predicate_documents, REGEX_PREDICATE_ORACLE, "P6 regex filter"),
    QuerySpec("token_counter_levels", token_counter_levels, TOKEN_COUNTER_ORACLE, "A4/F14 counter ladder"),
    QuerySpec("hourly_spine_gap_fill", hourly_spine_gap_fill, SPINE_ORACLE, "date-spine densify"),
    QuerySpec("unpivot_doc_stats", unpivot_doc_stats, UNPIVOT_ORACLE, "wide→long melt"),
    QuerySpec("uuid5_document_ids", uuid5_document_ids, UUID5_ORACLE, "UUIDv5 ids vs precomputed fixture"),
    QuerySpec("bpe_merges_corpus", bpe_merges_corpus, BPE_MERGES_ORACLE, "distributed BPE trainer vs independent frozen reference"),
    QuerySpec("bpe_encode_documents", bpe_encode_documents, BPE_ENCODE_ORACLE, "Arrow BPE encode vs frozen fixture"),
]


# --- Unigram-LM (SentencePiece-style) segmentation ---------------------

_UG_P = 6     # max piece length
_UG_V = 500   # substring vocabulary size (chars always retained)
_UG_W = 12    # max word length the DP chains over


def unigram_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-initialized unigram-LM segmentation
    (`operators/unigram.py`): the SentencePiece family's init + exact
    Viterbi, the second trained-in-engine tokenizer next to BPE.  Per
    distinct word: the minimal total piece cost (micro-int -log-probs)
    and the piece count, DP state packed into one bigint so the
    (cheapest, fewest-pieces) tie-break is a single min on BOTH
    engines."""
    from swisscourtrulingcorpus_spark.operators.unigram import (
        unigram_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_segment_words(docs, "text", _UG_P, _UG_V, _UG_W)


def _unigram_ctes() -> str:
    """The shared WITH-prefix of both unigram oracles: corpus words ->
    substring vocab (scores) -> the full MATERIALIZED DP chain through
    ball{max_word_len}.  Each oracle appends its own final SELECT —
    composition from parts, not string surgery on rendered SQL."""
    steps = []
    for j in range(1, _UG_W + 1):
        lo = max(0, j - _UG_P)
        steps.append(
            f"b{j} AS (\n"
            f"  SELECT f.w, {j} AS pos, min(f.key + v.pcost * 64 + 1) AS key\n"
            f"  FROM ball{j - 1} f JOIN vocab v\n"
            f"    ON v.piece = substr(f.w, f.pos + 1, {j} - f.pos)\n"
            f"  WHERE f.pos >= {lo} AND f.pos <= {j - 1} AND len(f.w) >= {j}\n"
            f"  GROUP BY f.w),\n"
            f"ball{j} AS MATERIALIZED (SELECT * FROM ball{j - 1} UNION ALL SELECT * FROM b{j})"
        )
    chain = ",\n".join(steps)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
fwords AS (
  SELECT w, count(*) AS freq FROM toks
  WHERE len(w) BETWEEN 1 AND {_UG_W} GROUP BY w),
starts AS (
  SELECT w, freq, unnest(generate_series(1, len(w))) AS s FROM fwords),
pieces AS (
  SELECT substr(w, s, l) AS piece, freq
  FROM (SELECT w, freq, s,
               unnest(generate_series(1, least({_UG_P}, len(w) - s + 1))) AS l
        FROM starts)),
cnts AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM pieces GROUP BY 1),
ranked AS (
  SELECT piece, cnt,
         row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
  FROM cnts),
kept AS (SELECT piece, cnt FROM ranked WHERE len(piece) = 1 OR rk <= {_UG_V}),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept),
vocab AS MATERIALIZED (
  SELECT piece,
         -CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS pcost
  FROM kept, tot),
dwords AS (SELECT DISTINCT w FROM fwords),
ball0 AS MATERIALIZED (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS key FROM dwords),
{chain}"""


def _unigram_oracle() -> str:
    return (
        _unigram_ctes()
        + f"""
SELECT b.w AS word,
       CAST(b.key % 64 AS BIGINT) AS n_pieces,
       b.key // 64 AS cost_micro
FROM ball{_UG_W} b
WHERE b.pos = len(b.w)
"""
    )


SPECS += [
    QuerySpec(
        "unigram_segmentation",
        unigram_segmentation,
        _unigram_oracle(),
        "unigram-LM Viterbi segmentation, packed-int DP, second tokenizer",
    ),
]


# --- WordPiece: greedy longest-match (third tokenizer family) ----------

_WP_P, _WP_V, _WP_W = 6, 300, 12


def wordpiece_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match segmentation
    (`operators/wordpiece.py`) — the BERT-family tokenizer, completing
    the trained-in-engine triad (BPE merges / unigram Viterbi /
    WordPiece greedy).  Per distinct word: piece count and the exact
    rendered segmentation ('tab ##le' form), so a greedy-order or
    position-class bug anywhere flips the string hash."""
    from swisscourtrulingcorpus_spark.operators.wordpiece import (
        wordpiece_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_segment_words(docs, "text", _WP_P, _WP_V, _WP_W)


def _wordpiece_ctes() -> str:
    """Shared WITH-prefix of both WordPiece oracles (the `_unigram_ctes`
    convention): vocab build + the iterative greedy chain
    g0..g{max_word_len}, where round j advances every unfinished word
    by its longest in-class piece, finalizing [UNK] rows on no-match."""
    steps = []
    for j in range(1, _WP_W + 1):
        steps.append(
            f"""c{j} AS (
  SELECT w, pos, n, segs,
         unnest(generate_series(1, least({_WP_P}, len(w) - pos))) AS l
  FROM g{j - 1} WHERE pos < len(w)),
m{j} AS (
  SELECT c.w, c.pos, c.n, c.segs, max(c.l) AS L
  FROM c{j} c JOIN vocab v
    ON v.piece = substr(c.w, c.pos + 1, c.l) AND v.is_cont = (c.pos > 0)
  GROUP BY 1, 2, 3, 4),
unk{j} AS (
  SELECT f.w, len(f.w) AS pos, CAST(1 AS BIGINT) AS n, '[UNK]' AS segs
  FROM g{j - 1} f
  WHERE f.pos < len(f.w)
    AND NOT EXISTS (SELECT 1 FROM m{j} m WHERE m.w = f.w AND m.pos = f.pos)),
g{j} AS MATERIALIZED (
  SELECT w, pos, n, segs FROM g{j - 1} WHERE pos >= len(w)
  UNION ALL
  SELECT w, pos + L AS pos, n + 1 AS n,
         segs || CASE WHEN pos > 0 THEN ' ##' ELSE '' END
              || substr(w, pos + 1, L) AS segs
  FROM m{j}
  UNION ALL
  SELECT w, pos, n, segs FROM unk{j})"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
fwords AS (
  SELECT w, count(*) AS freq FROM toks
  WHERE len(w) BETWEEN 1 AND {_WP_W} GROUP BY w),
starts AS (
  SELECT w, freq, unnest(generate_series(1, len(w))) AS s FROM fwords),
pieces AS (
  SELECT substr(w, s, l) AS piece, s > 1 AS is_cont, freq
  FROM (SELECT w, freq, s,
               unnest(generate_series(1, least({_WP_P}, len(w) - s + 1))) AS l
        FROM starts)),
cnts AS (SELECT piece, is_cont, CAST(sum(freq) AS BIGINT) AS cnt
         FROM pieces GROUP BY 1, 2),
ranked AS (
  SELECT piece, is_cont, cnt,
         row_number() OVER (PARTITION BY is_cont ORDER BY cnt DESC, piece ASC) AS rk
  FROM cnts),
vocab AS MATERIALIZED (
  SELECT piece, is_cont FROM ranked WHERE len(piece) = 1 OR rk <= {_WP_V}),
g0 AS MATERIALIZED (
  SELECT DISTINCT w, 0 AS pos, CAST(0 AS BIGINT) AS n, '' AS segs FROM fwords),
{chain}"""


def _wordpiece_oracle() -> str:
    return (
        _wordpiece_ctes()
        + f"""
SELECT w AS word, CAST(n AS BIGINT) AS n_pieces, segs AS segmentation
FROM g{_WP_W}
"""
    )


SPECS += [
    QuerySpec(
        "wordpiece_segmentation",
        wordpiece_segmentation,
        _wordpiece_oracle(),
        "WordPiece greedy longest-match, two-class vocab, third tokenizer",
    ),
]


def wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece tokenizer APPLIED to the corpus (the
    `unigram_token_counts` twin): per document, word count, total piece
    count, and how many word occurrences collapsed to [UNK] — one
    broadcast join of the distinct-word segmentation table back to the
    exploded corpus; words longer than the greedy depth are excluded on
    both engines."""
    from swisscourtrulingcorpus_spark.functions.hashing import normalize_ws
    from swisscourtrulingcorpus_spark.operators.wordpiece import (
        wordpiece_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    seg = wordpiece_segment_words(docs, "text", _WP_P, _WP_V, _WP_W)
    occ = docs.select(
        "doc_id",
        F.explode(F.split(normalize_ws("text"), " ")).alias("word"),
    ).where((F.length("word") >= 1) & (F.length("word") <= _WP_W))
    return (
        occ.join(F.broadcast(seg), on="word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum(
                (F.col("segmentation") == "[UNK]").cast("long")
            ).alias("n_unk_words"),
        )
    )


def _wordpiece_counts_oracle() -> str:
    return (
        _wordpiece_ctes()
        + f""",
seg AS MATERIALIZED (
  SELECT w AS word, CAST(n AS BIGINT) AS n_pieces,
         CAST(segs = '[UNK]' AS BIGINT) AS is_unk
  FROM g{_WP_W}),
occ AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents)
SELECT o.doc_id,
       count(*) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(s.is_unk) AS BIGINT) AS n_unk_words
FROM occ o JOIN seg s USING (word)
WHERE len(o.word) BETWEEN 1 AND {_WP_W}
GROUP BY 1
"""
    )


SPECS += [
    QuerySpec(
        "wordpiece_token_counts",
        wordpiece_token_counts,
        _wordpiece_counts_oracle(),
        "WordPiece applied per document: word/piece/UNK counts",
    ),
]


def unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLIED to the corpus: per document, the total
    unigram-piece count and total segmentation cost — sum over word
    occurrences of the per-word Viterbi results (one broadcast join of
    the distinct-word segmentation table back to the exploded corpus,
    the standard apply-tokenizer shape; words longer than the DP depth
    are excluded on both engines)."""
    from swisscourtrulingcorpus_spark.operators.unigram import (
        unigram_segment_words,
    )
    from swisscourtrulingcorpus_spark.functions.hashing import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    seg = unigram_segment_words(docs, "text", _UG_P, _UG_V, _UG_W)
    occ = docs.select(
        "doc_id",
        F.explode(F.split(normalize_ws("text"), " ")).alias("word"),
    ).where((F.length("word") >= 1) & (F.length("word") <= _UG_W))
    return (
        occ.join(F.broadcast(seg), on="word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("cost_micro").alias("cost_micro"),
        )
    )


def _unigram_counts_oracle() -> str:
    return (
        _unigram_ctes()
        + f""",
seg AS MATERIALIZED (
  SELECT b.w AS word,
         CAST(b.key % 64 AS BIGINT) AS n_pieces,
         b.key // 64 AS cost_micro
  FROM ball{_UG_W} b
  WHERE b.pos = len(b.w)),
occ AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents)
SELECT o.doc_id,
       count(*) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(s.cost_micro) AS BIGINT) AS cost_micro
FROM occ o JOIN seg s USING (word)
WHERE len(o.word) BETWEEN 1 AND {_UG_W}
GROUP BY 1
"""
    )


SPECS += [
    QuerySpec(
        "unigram_token_counts",
        unigram_token_counts,
        _unigram_counts_oracle(),
        "unigram tokenizer applied per document, exact piece/cost sums",
    ),
]
