"""Property/edge tests for the round-7 operators: interval overlap,
positional phrase search, WordPiece, k-core, multi-touch attribution.
Each operator's gate already hash-matches a naive DuckDB oracle at
sf0.01; these tests pin the semantics on adversarial small inputs the
fixture distribution may never produce (touching intervals,
bucket-boundary spans, repeated phrase terms, phrase longer than
doc)."""

from __future__ import annotations


def _naive_overlaps(rows, key="k"):
    out = set()
    for a in rows:
        for b in rows:
            if a["id"] < b["id"] and a[key] == b[key]:
                if a["s"] < b["e"] and b["s"] < a["e"]:
                    out.add((a[key], a["id"], b["id"]))
    return out


def test_interval_overlap_matches_naive_including_boundaries(spark):
    """Touching intervals ([0,10) vs [10,20)) must NOT pair (half-open);
    intervals spanning many buckets must still pair exactly once; the
    bucket width must not change RESULTS, only the plan."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        interval_overlap_pairs,
    )

    rows = [
        {"k": 1, "id": 1, "s": 0, "e": 10},
        {"k": 1, "id": 2, "s": 10, "e": 20},   # touches 1: NOT overlap
        {"k": 1, "id": 3, "s": 9, "e": 11},    # overlaps 1 and 2
        {"k": 1, "id": 4, "s": 0, "e": 100},   # spans many buckets
        {"k": 2, "id": 5, "s": 0, "e": 100},   # other key: never pairs
        {"k": 1, "id": 6, "s": 55, "e": 56},   # inside 4 only
        {"k": 1, "id": 7, "s": 100, "e": 101}, # touches 4: NOT overlap
    ]
    df = spark.createDataFrame(rows, "k: long, id: long, s: long, e: long")
    expect = _naive_overlaps(rows)
    for width in (1, 3, 10, 1000):
        got = {
            (r["k"], r["id_a"], r["id_b"])
            for r in interval_overlap_pairs(
                df, ["k"], "id", "s", "e", bucket_width=width
            ).collect()
        }
        assert got == expect, (width, got ^ expect)


def test_phrase_search_repeated_terms_and_boundaries(spark):
    """A repeated-term phrase ('a a') must match only adjacent repeats
    (a doc position can serve two slots only at two different anchors),
    a phrase longer than the doc must not match, overlapping
    occurrences each count as a match, and matches at position 0 and at
    the document end both register."""
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        build_positional_postings,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),    # 'a a' at anchors 0 and 1 (overlapping)
            (2, "a b a b a"),  # 'a b a' at anchors 0 and 2; 'b a' at 1, 3
            (3, "b a"),        # 'b a' at anchor 0 (whole doc)
            (4, "a"),          # shorter than every phrase
        ],
        "doc_id: long, text: string",
    )
    phrases = spark.createDataFrame(
        [(0, "a a"), (1, "a b a"), (2, "b a")],
        "phrase_id: long, phrase: string",
    )
    got = {
        (r["phrase_id"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in phrase_search(build_positional_postings(docs), phrases).collect()
    }
    assert got == {
        (0, 1): (2, 0),
        (1, 2): (2, 0),
        (2, 2): (2, 1),
        (2, 3): (1, 0),
    }


def test_wordpiece_greedy_and_unk(spark):
    """Greedy longest-match: with vocab from 'tab table ble' the word
    'table' must segment as the LONGEST initial piece ('table' itself,
    trained whole) — and a vocab trained on a different corpus UNKs
    words whose continuation chars it never saw."""
    from swisscourtrulingcorpus_spark.operators.wordpiece import (
        wordpiece_segment_words,
        wordpiece_vocab,
    )

    train = spark.createDataFrame([("tab tab table ble q",)], "text: string")
    seg = {
        r["word"]: (r["n_pieces"], r["segmentation"])
        for r in wordpiece_segment_words(train, "text").collect()
    }
    assert seg["table"] == (1, "table")     # whole word in vocab wins
    assert seg["tab"] == (1, "tab")
    assert seg["ble"] == (1, "ble")

    # apply the trained vocab to UNSEEN text: 'qq' needs continuation
    # '##q', which the training corpus never produced (q only ever
    # word-initial) -> whole word [UNK]; 'tabble' segments greedily
    vocab = wordpiece_vocab(train, "text")
    apply = spark.createDataFrame([("qq tabble",)], "text: string")
    seg2 = {
        r["word"]: (r["n_pieces"], r["segmentation"])
        for r in wordpiece_segment_words(apply, "text", vocab=vocab).collect()
    }
    assert seg2["qq"] == (1, "[UNK]")
    assert seg2["tabble"][1].startswith("tab ##b")


def test_k_core_cascade_and_nonconvergence_error(spark):
    """A pendant triangle chain must peel in CASCADE (each round exposes
    the next victim), the surviving core must be exactly the 4-clique
    with within-core degrees, and an insufficient round cap must raise
    loudly instead of returning a partial core."""
    import pytest

    from swisscourtrulingcorpus_spark.operators.graph import k_core

    # 4-clique {0,1,2,3} + chain 3-10, 10-11, 11-12 hanging off it,
    # plus node 20 isolated-pair with 21: for k=2 the chain peels from
    # the tail one round at a time (12, then 11, then 10), the pair
    # {20,21} dies immediately, and the clique survives.
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (3, 10), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=2).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(df, k=2, max_rounds=2)

    # k larger than any degree: empty core, no error
    assert k_core(df, k=5).count() == 0


def test_interval_overlap_collapses_duplicate_input_rows(spark):
    """Replayed (exact-duplicate) interval rows must collapse to ONE
    pair emission — the input-side dedup that replaced the pair-level
    distinct() (review r07 follow-up)."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        interval_overlap_pairs,
    )

    rows = [
        {"k": 1, "id": 1, "s": 0, "e": 10},
        {"k": 1, "id": 1, "s": 0, "e": 10},  # exact replay
        {"k": 1, "id": 2, "s": 5, "e": 15},
        {"k": 1, "id": 2, "s": 5, "e": 15},  # exact replay
    ]
    df = spark.createDataFrame(rows, "k: long, id: long, s: long, e: long")
    got = interval_overlap_pairs(df, ["k"], "id", "s", "e", 4).collect()
    assert len(got) == 1 and (got[0]["id_a"], got[0]["id_b"]) == (1, 2)


def test_multitouch_credit_conservation(spark, sf_dir):
    """Every converting purchase (>= 1 touch in window) distributes
    EXACTLY 1,000,000 micro-credits — the integer U-shape's invariant
    across solo/2-touch/remainder cases."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.plans.behavior_queries import (
        multitouch_attribution_events,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us, load_table

    out = multitouch_attribution_events(spark, sf_dir)
    total_credit = out.agg(F.sum("credit_micro")).collect()[0][0]

    ev = load_table(spark, sf_dir, "events")
    week_us = 7 * 24 * 3600 * 1_000_000
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), epoch_us("ts").alias("p_us")
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", epoch_us("ts").alias("t_us")
    )
    conversions = (
        t.join(p, on="user_id")
        .where(
            (F.col("t_us") < F.col("p_us"))
            & (F.col("t_us") >= F.col("p_us") - F.lit(week_us))
        )
        .select("user_id", "pid")
        .distinct()
        .count()
    )
    assert conversions > 0
    assert total_credit == conversions * 1_000_000
