"""Pinned optimized-plan fingerprints of the SQL-text constructions.

The 20 headline gates are each built as ONE parsed ``spark.sql``
statement (a py4j round trip per DataFrame method is the dominant
construction cost the bench times — guide §1), and the extraction
pipeline's helpers (UUIDv5 ids, language ID, token counts, binary
judgments) are SQL-text bodies too.  Each has one implementation.  This
module pins what they compute: the committed optimized logical plan
fingerprint (`plans/parity.py::plan_fingerprint`) of every headline
gate and of the DataFrame form of each operator that keeps one
(``test_sql_twin_plans_identical``), of each of those helpers
(``test_expression_twins_analyzed_identical``, which also holds the
Column/SQL-text expression pairs that remain to the same plan) and of
every pipeline output (``test_pinned_plan_fingerprints``).
Identical optimized plans mean identical physical planning input,
hence identical execution and results — stronger than oracle-only
equivalence, and it also catches a change to a shared SQL helper
(``normalize_ws_sql`` and the like) that the oracle data happens not
to exercise.

The values were taken on the parent of the change that removed the
former DataFrame-API copies, where every copy fingerprinted equal to
its SQL form.  They do not depend on the scale factor (sf0.001 and
sf0.01 agree), but four gates embed ``defaultParallelism`` in a
REPARTITION hint (``minhash_lsh_pairs``, ``minhash_dedup_groups``,
``ngram_jaccard_pairs``, ``test_set_contamination``), so the pins hold
for the conftest ``local[4]`` session only.  A deliberate plan change
updates the pins: the failure message lists each name with its new
fingerprint.

Also covers the catalog helpers: ``table_view`` returns a registered
name with a warm zero-py4j path, and ``catalog_sql`` self-heals when a
cached temp view is dropped behind the cache.
"""

from __future__ import annotations

import re

HEADLINE_FINGERPRINTS = {
    "asof_purchase_attribution": "2b809a73725c51f9be7eca92841be892",
    "chunked_documents": "f5ee790027f27a43fe732b75a5405c4e",
    "cosine_topk_bruteforce": "e966a83d6aab70e9f7eda0560582aa4e",
    "coverage_by_region": "63abd7e20217b36d2ed17e22d276d9a6",
    "map_join_orders": "d5521d89a47f1e79b081eaa5efbf09f5",
    "minhash_dedup_groups": "465921e43b4173c75723e3bceaf5db43",
    "minhash_lsh_pairs": "265e171f5c83b2720297ea912777d585",
    "ngram_jaccard_pairs": "010c86609905726fa12c3fd8647d029c",
    "q18_large_orders": "de701d420b91b650133361f9bd391883",
    "q1_pricing_summary": "52a8cc13eb6bae7b8e395fafaa7c9e22",
    "q3_shipping_priority": "755feb0529bc81e155195adeb07da940",
    "q5_supplier_volume": "d782c8b5d86c3aac66a342481bcd9cdb",
    "rollup_region_nation": "8f476ff982055ba48a16cd1e934bdb90",
    "semi_join_membership": "1d5921eed6df47b3c222d32630de3044",
    "session_windows_events": "595be13a948b39fa226ea274dc33f2e2",
    "test_set_contamination": "13709966be9aefb9de8002d9da46ee53",
    "tfidf_top_terms": "e2c91445c1180db9b0eb71f49f42d734",
    "topk_orders_per_segment": "4519ef6d40210468ca643a753bf10e92",
    "training_shuffle_rank": "ad9671be9ded6fd853273268aa0d69af",
    "tumbling_hourly_events": "9d1f8a07f469590751f7a1320660030f",
}

# run_extraction_pipeline over raw_corpus_df(spark, 200), plus the
# judgment dataset built on it
PIPELINE_FINGERPRINTS = {
    "citation": "7f04e8570c84e4ee3e4996c578586f4a",
    "composition": "d05402734ec8c3a5ddb8afdc2d7543ec",
    "decision": "031de0f32a77251254e1d4a9d3c456d4",
    "judgment": "06dae99801b449ca1dec2d5832e4f59c",
    "judgment_dataset": "c4cad0ac0b80eccc3982b74ae7514914",
    "lower_court": "a66f455e4e4313bbc793ca2e5763f3ca",
    "participation": "e1a4750598f89db64e3a81c990238aa0",
    "section": "19dc92ca635e469eca72253b8c1d9fb9",
    "section_arrays": "3a2507c2e06ffd6facb4d57dad662977",
}


# each helper over a Range-backed frame: the pipeline fixture is a
# LocalRelation, whose projections Catalyst folds into literal rows at
# optimization time, so the pipeline pins above cannot see the helpers
# that run before its cache (uuid5 ids, language ID)
HELPER_FINGERPRINTS = {
    "uuid5_col": "e8ad7e5446742978fd4891b22d2f9c04",
    "language_id_score": "c5d21be4480d72d6ca66b7d3cdda634d",
    "token_count_ws": "e339a1a16560ca37d49099e93ee3224e",
    "normalize_binary_judgment": "3f0d834da2522b8006785231efe206d7",
}


def _helper_frames(spark) -> dict:
    from swisscourtrulingcorpus_spark.extraction.ids import uuid5_col
    from swisscourtrulingcorpus_spark.functions.domain import (
        normalize_binary_judgment,
    )
    from swisscourtrulingcorpus_spark.functions.text import (
        language_id_score,
        token_count_ws,
    )

    src = spark.range(4).selectExpr(
        "cast(id as string) AS t", "array(cast(id as string)) AS j"
    )
    return {
        "uuid5_col": src.select(uuid5_col("t").alias("o")),
        "language_id_score": src.select(language_id_score("t").alias("o")),
        "token_count_ws": src.select(token_count_ws("t").alias("o")),
        "normalize_binary_judgment": src.select(
            normalize_binary_judgment("j").alias("o")
        ),
    }


def _operator_dataframe_forms(spark, sf_dir) -> dict:
    """The DataFrame forms of the operators that keep a live SQL form
    too, built as the gate of the same name builds its SQL form; each
    must fingerprint like that gate."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        minhash_dedup_groups,
        minhash_lsh_candidates,
    )
    from swisscourtrulingcorpus_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from swisscourtrulingcorpus_spark.operators.training import (
        deterministic_shuffle,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        "minhash_lsh_pairs": minhash_lsh_candidates(
            docs, "text", "doc_id", spread=True
        ),
        "minhash_dedup_groups": minhash_dedup_groups(
            docs, "text", "doc_id", spread=True
        ),
        "cosine_topk_bruteforce": cosine_topk_bruteforce(
            emb, emb.where("vec_id < 8"), k=5
        ),
        "training_shuffle_rank": deterministic_shuffle(docs, "doc_id").select(
            "doc_id", "shuffle_rank"
        ),
    }


def _assert_pinned(checks) -> None:
    from swisscourtrulingcorpus_spark.plans.parity import plan_fingerprint

    changed = []
    for label, pinned, df in checks:
        got = plan_fingerprint(df)
        if got != pinned:
            changed.append(f"{label}: {got} (pinned {pinned})")
    assert not changed, "optimized plans changed:\n" + "\n".join(changed)


def _norm_plan(df) -> str:
    """Optimized plan text modulo expression ids and lambda variable
    names (the SQL parser names lambda args x/acc/v where the Column API
    generates x_4, x_5, ...: same structure, different tags)."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+L?", "#X", s)
    return re.sub(r"lambda [a-z]+(_\d+)?", "lambda V", s)


def test_sql_twin_plans_identical(spark, sf_dir):
    """Every headline gate's SQL-text plan equals its pinned
    fingerprint, and so does the DataFrame form of each operator that
    keeps both forms alive."""
    from swisscourtrulingcorpus_spark.plans.registry import queries

    q = queries()
    _assert_pinned(
        [
            (f"gate {name}", pinned, q[name](spark, sf_dir))
            for name, pinned in HEADLINE_FINGERPRINTS.items()
        ]
        + [
            (f"DataFrame form of gate {name}", HEADLINE_FINGERPRINTS[name], df)
            for name, df in _operator_dataframe_forms(spark, sf_dir).items()
        ]
    )


def test_expression_twins_analyzed_identical(spark):
    """The pipeline helpers' SQL bodies equal their pinned fingerprints,
    and each Column/SQL-text expression pair that keeps both forms
    (hashing, money, similarity) builds the same optimized plan."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.functions import hashing as h
    from swisscourtrulingcorpus_spark.functions import money as m
    from swisscourtrulingcorpus_spark.operators import similarity as sim

    _assert_pinned(
        [
            (f"helper {name}", HELPER_FINGERPRINTS[name], df)
            for name, df in _helper_frames(spark).items()
        ]
    )

    df = spark.createDataFrame(
        [("A  b C d", ["a", "b", "c", "d"], [1.0, 2.0], [3.0, 4.0],
          1.5, 0.1, 0.2)],
        "t string, w array<string>, u array<double>, v array<double>, "
        "l_extendedprice double, l_discount double, l_tax double",
    )
    pairs = [
        ("normalize_ws", h.normalize_ws("t"), h.normalize_ws_sql("t")),
        ("h32", h.h32("t"), h.h32_sql("t")),
        ("h32 seeded", h.h32("t", "7"), h.h32_sql("t", "7")),
        ("word_shingles_from_words", h.word_shingles_from_words(F.col("w")),
         h.word_shingles_from_words_sql("w")),
        ("dec2", m.dec2("l_tax"), m.dec2_sql("l_tax")),
        ("one", m.one(), m.one_sql()),
        ("disc_price", m.disc_price(), m.disc_price_sql()),
        ("charge", m.charge(), m.charge_sql()),
        ("_dot", sim._dot(F.col("u"), F.col("v")), sim._dot_sql("u", "v")),
        ("_norm", sim._norm(F.col("u")), sim._norm_sql("u")),
    ]
    for name, col_form, sql_form in pairs:
        a = _norm_plan(df.select(col_form.alias("o")))
        b = _norm_plan(df.select(F.expr(sql_form).alias("o")))
        assert a == b, f"{name} twin drift:\n{a}\n---\n{b}"


def test_pinned_plan_fingerprints(spark):
    """Every output of the extraction pipeline equals its pinned
    fingerprint."""
    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        judgment_dataset,
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        raw_corpus_df,
    )

    tables = run_extraction_pipeline(raw_corpus_df(spark, 200))
    assert set(tables) | {"judgment_dataset"} == set(PIPELINE_FINGERPRINTS)
    _assert_pinned(
        [
            (f"pipeline {name}", pinned, tables[name])
            for name, pinned in PIPELINE_FINGERPRINTS.items()
            if name != "judgment_dataset"
        ]
        + [
            (
                "pipeline judgment_dataset",
                PIPELINE_FINGERPRINTS["judgment_dataset"],
                judgment_dataset(tables),
            )
        ]
    )


def test_stopword_literals_escape_quotes(spark, monkeypatch):
    """A stopword with a quote is spliced into a SQL string literal:
    the quote must be escaped, so the language-ID expression parses and
    counts the word."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.functions.text import (
        STOPWORDS,
        language_id_score,
        stopword_hits_sql,
    )

    monkeypatch.setitem(STOPWORDS, "fr", STOPWORDS["fr"] + ["d'un"])
    df = spark.createDataFrame([("d'un D'un la",)], ["t"])
    row = df.select(
        language_id_score("t").alias("lang"),
        F.expr(stopword_hits_sql("`t`", "fr")).alias("fr_hits"),
    ).first()
    # without counting d'un, fr, es and it tie at one hit ('la') -> 'und'
    assert (row.lang, row.fr_hits) == ("fr", 3)


def test_lazy_tables_defer_and_memoize(spark):
    """run_extraction_pipeline returns a mapping whose derived tables
    construct on first access and memoize (same object on re-read,
    preserving the one-cache-entry semantics)."""
    from pyspark.sql import DataFrame

    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        raw_corpus_df,
    )

    tables = run_extraction_pipeline(raw_corpus_df(spark, 10))
    assert set(tables) == {
        "decision", "section", "section_arrays", "citation", "judgment",
        "composition", "lower_court", "participation",
    }
    c1 = tables["citation"]
    assert c1 is tables["citation"]
    assert tables.get("missing", "d") == "d"
    assert tables["composition"].columns[0] == "decision_id"
    # items() materializes every table (the eager-consumer idiom)
    assert len(dict(tables.items())) == 8
    # so do the copy idioms on a mapping none of whose tables was read
    # yet: no table may come out as an unbuilt placeholder
    fresh = run_extraction_pipeline(raw_corpus_df(spark, 10))
    for copied in (dict(fresh), {**fresh}):
        assert len(copied) == 8
        assert all(isinstance(v, DataFrame) for v in copied.values())


def test_table_view_and_catalog_sql_self_heal(spark, sf_dir):
    from swisscourtrulingcorpus_spark.sources.catalog import (
        catalog_sql,
        table_view,
    )

    v1 = table_view(spark, sf_dir, "region")
    assert spark.sql(f"SELECT count(1) AS n FROM {v1}").collect()[0].n > 0
    # drop the view behind the cache: catalog_sql must re-register
    spark.catalog.dropTempView(v1)
    out = catalog_sql(
        spark, lambda: f"SELECT count(1) AS n FROM {table_view(spark, sf_dir, 'region')}"
    )
    assert out.collect()[0].n > 0
