"""Round-4 units: rule-based lemma approximation (E11 fidelity,
reference `abstract_preprocessor.py:387-410`) and the training-data
operators (vocabulary application, length shards, prefix sums,
sequence packing).  The file name is historical: the PNG/BMP codec it
also tested was retired with the rest of the media code, since SCRC
ingests HTML/PDF rulings only."""

from __future__ import annotations

import duckdb
import pytest

from swisscourtrulingcorpus_spark.functions.text import (
    lemma_case_sql,
    lemma_stopword_sql,
)


def _lemmatize(token: str, lang: str) -> str:
    sql = lemma_case_sql("t", "lang")
    return duckdb.sql(
        f"SELECT {sql} FROM (VALUES ('{token}', '{lang}')) AS v(t, lang)"
    ).fetchone()[0]


def _is_stop(token: str, lang: str) -> bool:
    sql = lemma_stopword_sql("t", "lang")
    return duckdb.sql(
        f"SELECT {sql} FROM (VALUES ('{token}', '{lang}')) AS v(t, lang)"
    ).fetchone()[0]


@pytest.mark.parametrize(
    "token,lang,want",
    [
        # German: reference-style legal vocabulary
        ("erwägungen", "de", "erwägung"),
        ("vorinstanzen", "de", "vorinstanz"),
        ("entscheidungen", "de", "entscheidung"),
        ("möglichkeiten", "de", "möglichkeit"),
        ("gerichte", "de", "gericht"),
        ("bundesgericht", "de", "bundesgericht"),  # no rule applies
        ("akten", "de", "akt"),
        # French
        ("considérations", "fr", "considération"),
        ("jugements", "fr", "jugement"),
        ("tribunaux", "fr", "tribunal"),
        ("recours", "fr", "recours"),  # -cours invariant (r05)
        ("jours", "fr", "jour"),  # ...but -ours still strips
        # Italian
        ("decisioni", "it", "decisione"),
        ("documenti", "it", "documento"),
        ("giudici", "it", "giudice"),  # -dici class (r05)
        ("sentenze", "it", "sentenza"),
        ("uffici", "it", "ufficio"),
        # unknown language: pass-through
        ("tables", "en", "tables"),
    ],
)
def test_lemma_rules_golden(token, lang, want):
    assert _lemmatize(token, lang) == want


def test_min_stem_guard_blocks_overstripping():
    # 'des' (3 chars) must NOT strip to '' / 'd'
    assert _lemmatize("des", "de") == "des"
    assert _lemmatize("see", "de") == "see"


def test_stopword_pos_proxy():
    assert _is_stop("der", "de") and _is_stop("les", "fr") and _is_stop("della", "it")
    assert not _is_stop("gericht", "de")
    assert not _is_stop("der", "fr")  # per-language lists


def test_apply_token_vocab_paths_agree(spark):
    """Literal-map and broadcast-join vocabulary application must
    produce identical (id, pos, token_id) rows; the join path is the
    plan for real BPE-size vocabularies (r03 VERDICT item 8)."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.training import (
        apply_token_vocab,
    )

    docs = spark.createDataFrame(
        [(1, ["a", "b", "oov", "a"]), (2, ["c", "b"]), (3, [])],
        "doc_id: long, toks: array<string>",
    )
    vocab = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "token: string, vocab_id: int"
    )
    lit_rows = sorted(
        tuple(r)
        for r in apply_token_vocab(docs, vocab, "doc_id", "toks").collect()
    )
    join_rows = sorted(
        tuple(r)
        for r in apply_token_vocab(
            docs, vocab, "doc_id", "toks", literal_max=1
        ).collect()
    )
    assert lit_rows == join_rows
    assert (1, 2, 0) in lit_rows  # OOV -> 0

    # join path must be a broadcast, never a shuffle of the corpus
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        apply_token_vocab(docs, vocab, "doc_id", "toks", literal_max=1).explain(
            mode="formatted"
        )
    assert "BroadcastHashJoin" in buf.getvalue()


def test_length_shards_monotone_and_balanced(spark):
    """Shards are contiguous in length order, sizes differ by at most
    one, and the result is identical at different parallelism (the
    two-phase rank is boundary-invariant)."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.training import (
        length_grouped_shards,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 200 + 1) for i in range(333)], "doc_id: long, n: long"
    )
    out = length_grouped_shards(df, "n", "doc_id", n_shards=8).collect()
    rows = sorted(((r["n"], r["doc_id"]), r["shard"]) for r in out)
    shards = [s for _, s in rows]
    assert shards == sorted(shards)  # contiguous in length order
    from collections import Counter

    sizes = Counter(shards)
    assert set(sizes) == set(range(1, 9))
    assert max(sizes.values()) - min(sizes.values()) <= 1

    redist = length_grouped_shards(
        df.repartition(13), "n", "doc_id", n_shards=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, redist))


def test_parallel_prefix_sum_rejects_reserved_columns(spark):
    import pytest
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.training import (
        parallel_prefix_sum,
    )

    # the r11 multi-column refactor indexed the working columns
    # (__val0, __local0, ...), so the UNindexed names are no longer
    # reserved — a caller column named __val now passes through
    # unharmed, and the indexed names fail loudly
    df = spark.createDataFrame([(1, 5)], "id: long, __val0: long")
    with pytest.raises(ValueError, match="__val0"):
        parallel_prefix_sum(df, [F.col("id")], F.lit(1), "rank")
    ok = spark.createDataFrame([(1, 5)], "id: long, __val: long")
    got = parallel_prefix_sum(ok, [F.col("id")], F.lit(1), "rank").collect()
    assert got[0]["__val"] == 5 and got[0]["rank"] == 1
    # the out_col itself is reserved too
    with pytest.raises(ValueError, match="rank"):
        parallel_prefix_sum(
            spark.createDataFrame([(1, 2)], "id: long, rank: long"),
            [F.col("id")],
            F.lit(1),
            "rank",
        )


def test_pack_sequences_null_length_keeps_position(spark):
    """A NULL-length doc occupies zero tokens but keeps a DEFINED
    position (token_start/pack_id non-null; n_tokens stays NULL) — the
    refactor briefly made all three NULL (r04 review)."""
    from swisscourtrulingcorpus_spark.operators.training import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 7)], "doc_id: long, n: long"
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, "n", "doc_id", 8).collect()}
    assert rows[2]["n_tokens"] is None
    assert rows[2]["token_start"] is not None
    assert rows[2]["pack_id"] is not None and rows[2]["pack_offset"] is not None
    # zero-width: the next doc in hash order starts at the same token
    starts = sorted(r["token_start"] for r in rows.values())
    assert len(set(starts)) <= 3
