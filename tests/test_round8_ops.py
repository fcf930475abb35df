"""Round-8 operator tests: full coreness decomposition (VERDICT r07
item 5) and its agreement with the fixed-k peel."""

from __future__ import annotations

import random

import pytest

from swisscourtrulingcorpus_spark.operators.graph import coreness, k_core


def _ref_coreness(edges):
    """Batagelj–Zaversnik min-degree peel (public textbook algorithm):
    core(v) = running max of v's degree at removal time."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict[int, int] = {}
    remaining = set(adj)
    k = 0
    while remaining:
        v = min(remaining, key=lambda u: (deg[u], u))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in adj[v]:
            if u in remaining:
                deg[u] -= 1
    return core


def test_coreness_known_structures(spark):
    """Closed-form shapes: a 4-clique sits at 3, a chain hanging off it
    at 1, an isolated edge at 1, a separate 5-cycle at 2 — and the
    values agree with the reference peel."""
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (3, 10), (10, 11), (11, 12), (20, 21),
             (30, 31), (31, 32), (32, 33), (33, 34), (34, 30)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r["node"]: r["coreness"] for r in coreness(df).collect()}
    want = {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1, 20: 1, 21: 1,
            30: 2, 31: 2, 32: 2, 33: 2, 34: 2}
    assert got == want
    assert got == _ref_coreness(edges)


def test_coreness_matches_reference_peel_random_graphs(spark):
    """Erdős–Rényi-ish random graphs (seeded): the h-index fixed point
    must equal the min-degree peel's value for every node, including
    duplicate and reversed edge rows (the symmetrize+distinct
    contract)."""
    rng = random.Random(8)
    for n, m in [(12, 20), (20, 45), (30, 90)]:
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        noisy = edges + [(b, a) for a, b in edges[::3]] + edges[::5]
        df = spark.createDataFrame(noisy, "id_a: long, id_b: long")
        got = {r["node"]: r["coreness"] for r in coreness(df).collect()}
        assert got == _ref_coreness(edges)


def test_coreness_consistent_with_fixed_k_core(spark):
    """The decomposition must agree with the fixed-k building block:
    {v : coreness(v) >= k} is exactly k_core(k)'s node set."""
    rng = random.Random(88)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    cor = {r["node"]: r["coreness"] for r in coreness(df).collect()}
    for k in (1, 2, 3, 4):
        want = {v for v, c in cor.items() if c >= k}
        got = {r["node"] for r in k_core(df, k=k, max_rounds=60).collect()}
        assert got == want, f"k={k}"


def test_coreness_nonconvergence_raises_and_empty_is_empty(spark):
    """A cascade deeper than the round cap must raise loudly (never a
    partial decomposition); an edgeless input yields an empty result."""
    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, "id_a: long, id_b: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        coreness(df, max_rounds=2)

    empty = spark.createDataFrame([], "id_a: long, id_b: long")
    assert coreness(empty).count() == 0


def test_banded_hamming_pairs_exact_and_guards_recall(spark):
    """Every pair within the threshold emits exactly once, id-ordered,
    with its exact hamming distance; a threshold the bands cannot
    cover (pigeonhole recall needs threshold <= n_bands - 1) is
    rejected instead of silently losing pairs."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    rows = [(1, 5), (2, 5), (3, 5), (4, 4)]
    fp = spark.createDataFrame(rows, "doc_id: long, fp: long")
    got = [
        (r.doc_a, r.doc_b, r.hamming)
        for r in banded_hamming_pairs(fp, "fp").collect()
    ]
    assert sorted(got) == [
        (1, 2, 0), (1, 3, 0), (1, 4, 1), (2, 3, 0), (2, 4, 1), (3, 4, 1)
    ]

    with pytest.raises(AssertionError, match="pigeonhole"):
        banded_hamming_pairs(fp, "fp", threshold=5, n_bands=4)


def test_cdc_cut_points_properties():
    """Pure-function contracts of the rolling-hash cutter: cuts are
    strictly increasing 1-based end positions closing at len(text);
    short texts (< window) are one chunk; chunks reconstruct the
    text."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        CDC_WINDOW,
        cdc_cut_points,
    )

    assert cdc_cut_points("") == []
    assert cdc_cut_points("short") == [5]
    assert cdc_cut_points("x" * (CDC_WINDOW - 1)) == [CDC_WINDOW - 1]

    text = " ".join(f"word{i} token alpha beta" for i in range(80))
    cuts = cdc_cut_points(text)
    assert cuts[-1] == len(text)
    assert cuts == sorted(set(cuts))
    assert len(cuts) > 3  # ~64-char expected chunks over ~1.8k chars
    prev, parts = 0, []
    for e in cuts:
        parts.append(text[prev:e])
        prev = e
    assert "".join(parts) == text


def test_cdc_chunks_resynchronize_after_prefix_insertion(spark):
    """THE content-defined property: prepending bytes shifts every
    character, yet the chunk boundaries re-synchronize at the next
    content cut — most chunk hashes stay shared between the original
    and the prefixed document (fixed-size chunking would share
    none)."""
    from swisscourtrulingcorpus_spark.operators.dedup import cdc_chunks

    base = " ".join(f"sentence {i} about swiss rulings and appeals" for i in range(60))
    docs = spark.createDataFrame(
        [(0, base), (1, "INSERTED BOILERPLATE HEADER >>> " + base)],
        "doc_id: long, text: string",
    )
    ch = cdc_chunks(docs, "text", "doc_id")
    by_doc = {0: set(), 1: set()}
    for r in ch.collect():
        by_doc[r.doc_id].add(r.chunk_hash)
    shared = by_doc[0] & by_doc[1]
    assert len(shared) >= max(1, len(by_doc[0]) - 2), (
        "CDC boundaries failed to re-synchronize: "
        f"{len(shared)} shared of {len(by_doc[0])}"
    )


def test_cdc_chunk_dedup_counts_and_null_handling(spark):
    """Exact-duplicate documents share EVERY chunk (n_docs == 2 on each
    of their chunk rows); null/empty texts contribute no rows; a
    within-document repeated chunk counts occurrences, not docs."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        cdc_chunk_dedup,
        cdc_chunks,
        cdc_cut_points,
    )

    base = " ".join(f"clause {i} of the federal decision text" for i in range(50))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, None), (3, "")],
        "doc_id: long, text: string",
    )
    n_chunks = len(cdc_cut_points(base))
    rows = cdc_chunk_dedup(docs, "text", "doc_id").collect()
    assert len(rows) == n_chunks  # every chunk of base duplicated once
    assert all(r.n_docs == 2 and r.n_occurrences == 2 for r in rows)
    assert cdc_chunks(docs, "text", "doc_id").where("doc_id >= 2").count() == 0


def test_ordered_funnel_semantics(spark):
    """Hand-built journeys pin the first-completion + per-step-window
    contract: out-of-order steps don't count, the window measures from
    the PREVIOUS step's completion (not the funnel start), equal
    timestamps are not 'after', and the earliest qualifying event is
    the one that starts the next step's clock."""
    from datetime import datetime

    from swisscourtrulingcorpus_spark.operators.relational import (
        ordered_funnel,
    )

    T = datetime
    H = 3_600_000_000  # 1h in us
    rows = [
        # u1: clean A->B->C inside windows
        (1, "A", T(2024, 1, 1, 0)), (1, "B", T(2024, 1, 1, 1)), (1, "C", T(2024, 1, 1, 2)),
        # u2: B before A only -> stops after A
        (2, "B", T(2024, 1, 1, 0)), (2, "A", T(2024, 1, 1, 1)),
        # u3: B exactly AT the A timestamp (not strictly after) -> stops
        (3, "A", T(2024, 1, 1, 0)), (3, "B", T(2024, 1, 1, 0)),
        # u4: B beyond the 2h window -> stops after A
        (4, "A", T(2024, 1, 1, 0)), (4, "B", T(2024, 1, 1, 3)),
        # u5: first B is too late BUT a second B lands in-window; C then
        # measures from that B (first QUALIFYING completion)
        (5, "A", T(2024, 1, 1, 0)), (5, "B", T(2024, 1, 1, 5)),
        (5, "B", T(2024, 1, 1, 1)), (5, "C", T(2024, 1, 1, 2, 30)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id: long, event_type: string, ts: timestamp"
    )
    got = {
        r.step: r.n_users
        for r in ordered_funnel(ev, ["A", "B", "C"], within_us=2 * H).collect()
    }
    assert got == {"A": 5, "B": 2, "C": 2}

    # unbounded: u4's late B now qualifies (u2's precedes its A and
    # u3's is simultaneous — still out)
    got2 = {
        r.step: r.n_users
        for r in ordered_funnel(ev, ["A", "B", "C"]).collect()
    }
    assert got2 == {"A": 5, "B": 3, "C": 2}


def test_fk_integrity_audit_counts(spark):
    """Null keys are counted separately from orphans; duplicate parent
    keys don't double-count children."""
    from swisscourtrulingcorpus_spark.operators.expectations import (
        foreign_key_audit,
    )

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (None,), (7,)], "fk: long"
    )
    parent = spark.createDataFrame([(1,), (1,), (2,)], "pk: long")
    rows = foreign_key_audit(
        [("c->p", child, "fk", parent, "pk")]
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_rows, r.n_null_keys, r.n_orphans) == (5, 1, 1)


def test_cdc_edit_locality_property():
    """Hypothesis: flipping ONE character can only create/destroy cut
    points whose 16-char window covers it — every cut at distance >=
    CDC_WINDOW on either side survives unchanged.  This locality is
    the entire value proposition of content-defined chunking (a local
    edit re-chunks a bounded neighborhood, so the rest of the document
    still dedups)."""
    from hypothesis import given, settings, strategies as st

    from swisscourtrulingcorpus_spark.operators.dedup import (
        CDC_WINDOW,
        cdc_cut_points,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=1000),
                min_size=CDC_WINDOW, max_size=400),
        st.data(),
    )
    def check(text, data):
        i = data.draw(st.integers(0, len(text) - 1))
        repl = data.draw(
            st.characters(min_codepoint=32, max_codepoint=1000)
        )
        edited = text[:i] + repl + text[i + 1 :]
        a = set(cdc_cut_points(text))
        b = set(cdc_cut_points(edited))
        # cuts affected by position i (0-based) are end positions e
        # (1-based) whose window [e-15, e] covers i+1 — plus the
        # always-present final cut at len(text)
        near = {
            e
            for e in range(i + 1, i + CDC_WINDOW + 1)
        } | {len(text)}
        assert (a - near) == (b - near), (text, i, repl)

    check()


def test_integer_ewma_known_sequence_and_ties(spark):
    """Hand-checked fold: s_1 = 8, s_2 = (3·16 + 5·8)//8 = 11,
    s_3 = (3·0 + 5·11)//8 = 6; single-value keys return that value;
    order ties break by the full order_cols list."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        integer_ewma_by_key,
    )

    rows = [
        (1, 1, 0, 8), (1, 2, 0, 16), (1, 3, 0, 0),
        (2, 1, 0, 42),
        # key 3: two values at the SAME primary order — secondary
        # order decides the fold direction: (3·7+5·1)//8 = 3
        (3, 5, 0, 1), (3, 5, 1, 7),
    ]
    df = spark.createDataFrame(rows, "k: long, o1: long, o2: long, v: long")
    got = {
        r.k: (r.n_values, r.ewma)
        for r in integer_ewma_by_key(df, "k", ["o1", "o2"], "v").collect()
    }
    assert got == {1: (3, 6), 2: (1, 42), 3: (2, 3)}


def test_nearest_join_direction_ties_and_tolerance(spark):
    """Forward candidates beat farther backward ones (the non-as-of
    semantics), equidistant ties go to the EARLIER right row, and rows
    outside the tolerance band never match."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        nearest_join,
    )

    left = spark.createDataFrame(
        [(1, 101, 1000), (1, 102, 5000), (2, 201, 1000)],
        "user_id: long, purchase_id: long, p_us: long",
    )
    right = spark.createDataFrame(
        [
            (1, 11, 900),    # 100 behind purchase 101
            (1, 12, 1050),   # 50 ahead -> wins for 101
            (1, 13, 4990),   # 10 behind purchase 102
            (1, 14, 5010),   # 10 ahead: equidistant -> earlier (13) wins
            (2, 21, 99000),  # outside the band -> user 2 unmatched
        ],
        "user_id: long, click_id: long, c_us: long",
    )
    got = {
        (r.user_id, r.purchase_id): (r.click_id, r.distance)
        for r in nearest_join(
            left, right, ["user_id"], "p_us", "c_us",
            tolerance=200, right_payload=["click_id", "c_us"],
        ).collect()
    }
    assert got == {(1, 101): (12, 50), (1, 102): (13, 10)}
