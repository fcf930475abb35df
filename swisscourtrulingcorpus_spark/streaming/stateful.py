"""Custom stateful streaming operator via applyInPandasWithState.

The built-in windows cover tumbling/sliding/session; this module is the
escape hatch for operators Spark lacks (SURVEY.md §2.10 / the brief's
"custom stateful operators"): arbitrary per-key state evolved across
micro-batches with timeout-driven emission.

Example operator: per-user running activity profile — cumulative event
count, cumulative value, and the timestamp of the last event — emitted
on every update (Update mode).  State is one small tuple per user;
watermark/timeout bounds it at scale.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", StringType()),
    ]
)


def _update_profile(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last = state.get
    else:
        n, total, last = 0, 0.0, ""
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_last = pdf["ts"].max()
        last = max(last, str(batch_last))
    state.update((n, total, last))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "last_ts": [last],
        }
    )


def user_profile_stream(stream: DataFrame) -> DataFrame:
    """events stream → running per-user profile (custom stateful op)."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        "user_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_gaps", LongType()),
        StructField("ewma_gap_us", LongType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("n_gaps", LongType()),
        StructField("s", LongType()),
    ]
)


def _update_ewma(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-user integer EWMA of inter-arrival gaps, carried across
    micro-batches: state = (last event time, gap count, smoothed gap).
    The fold is byte-identical to the batch operator
    (`operators/relational.py::integer_ewma_by_key` over lag-window
    gaps): s_1 = g_1, s_t = (3·g_t + 5·s_{t-1}) div 8.  Rows are
    sorted (us, event_id) WITHIN each batch; ACROSS batches the
    operator assumes time-ordered arrival (the standard contract for a
    streaming EWMA — a late event would need a watermarked reorder
    buffer upstream)."""
    (user_id,) = key
    if state.exists:
        last, n, s = state.get
    else:
        last, n, s = -1, 0, 0
    # applyInPandasWithState delivers one GROUP as MULTIPLE Arrow
    # chunks (default 10k rows) in arbitrary order — sorting each
    # chunk independently would compute gaps across unsorted chunk
    # boundaries.  Materialize the whole group for this micro-batch
    # first, then sort once.  Memory is bounded by the per-key batch
    # volume (slim 2-column rows), not the stream.
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["us", "event_id"])
        for us in pdf["us"]:
            us = int(us)
            if last >= 0:
                g = us - last
                n += 1
                s = g if n == 1 else (3 * g + 5 * s) // 8
            last = us
    state.update((last, n, s))
    if n > 0:
        yield pd.DataFrame(
            {"user_id": [user_id], "n_gaps": [n], "ewma_gap_us": [s]}
        )


def ewma_gap_stream(stream: DataFrame) -> DataFrame:
    """events stream → running per-user smoothed inter-arrival time
    (integer EWMA) — the streaming twin of the `ewma_gap_events` gate."""
    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us

    prepared = stream.select(
        "user_id", "event_id", epoch_us("ts").alias("us")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("days_folded", LongType()),
        StructField("s", LongType()),
        StructField("max_cusum", LongType()),
        StructField("n_alarm_days", LongType()),
        StructField("first_alarm_day", StringType()),
    ]
)

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("cur_day", StringType()),
        StructField("cur_cnt", LongType()),
        StructField("days_folded", LongType()),
        StructField("s", LongType()),
        StructField("max_s", LongType()),
        StructField("n_alarms", LongType()),
        StructField("first_alarm_day", StringType()),
    ]
)


def cusum_history_refs(events: DataFrame, time_col: str = "ts") -> tuple[dict, dict]:
    """History-derived Page-CUSUM deployment constants, the ONE
    definition shared by the value-gated batch replay
    (`plans/window_queries.py::incremental_cusum_drift`) and the
    streaming state-scale harness: per event_type, ref = the
    integer-floored daily mean count and h = 4·ref.  Returns
    ``(refs, hs)`` dicts keyed by type.  A |types|-row driver-side
    collect (the calibration-table pattern)."""
    from pyspark.sql import functions as F

    rows = (
        events.select("event_type", F.to_date(time_col).alias("__d"))
        .groupBy("event_type", "__d")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .agg(F.expr("sum(cnt) div count(*)").alias("ref"))
        .collect()
    )
    refs = {r.event_type: int(r.ref) for r in rows}
    return refs, {t: 4 * v for t, v in refs.items()}


def make_cusum_update(refs: dict, hs: dict):
    """Build the per-key CUSUM update fn with broadcast-style config:
    ``refs[type]`` is the integer reference (target mean + allowance)
    and ``hs[type]`` the alarm threshold — in streaming these are
    HISTORY-derived constants (a stream cannot know its own global
    mean), the standard Page-CUSUM deployment.  The fold is the
    sequential recurrence s ← max(0, s + (cnt_day − ref)) applied at
    each DAY BOUNDARY: the in-progress day rides in state as
    (cur_day, cur_cnt) and folds when a later day arrives, so results
    are exact under time-ordered arrival regardless of how micro-
    batches split days.  Chunks are materialized per group before
    sorting (the r09 ordering contract — see `_update_ewma`)."""

    def _update(key, batches, state):
        (etype,) = key
        if etype not in refs or etype not in hs:
            # a type with no history-derived reference cannot be
            # CUSUM-monitored yet; skipping keeps the stream alive
            # (raising here would poison the checkpoint: every restart
            # replays the same batch and dies again)
            for _ in batches:
                pass
            return
        ref = int(refs[etype])
        h = int(hs[etype])
        if state.exists:
            cur_day, cur_cnt, folded, s, max_s, n_al, first_al = state.get
        else:
            cur_day, cur_cnt, folded, s, max_s, n_al, first_al = (
                "", 0, 0, 0, 0, 0, "",
            )

        def fold_day():
            nonlocal folded, s, max_s, n_al, first_al
            s = max(0, s + (cur_cnt - ref))
            max_s = max(max_s, s)
            folded += 1
            if s > h:
                n_al += 1
                if not first_al:
                    first_al = cur_day

        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values("day")
            for day in pdf["day"]:
                day = str(day)
                if day != cur_day:
                    if cur_day:
                        fold_day()
                    cur_day, cur_cnt = day, 0
                cur_cnt += 1
        state.update((cur_day, cur_cnt, folded, s, max_s, n_al, first_al))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "days_folded": [folded],
                "s": [s],
                "max_cusum": [max_s],
                "n_alarm_days": [n_al],
                "first_alarm_day": [first_al or None],
            }
        )

    return _update


def cusum_drift_stream(stream: DataFrame, refs: dict, hs: dict) -> DataFrame:
    """events stream → running per-type CUSUM drift state — the
    streaming twin of the `cusum_drift_events` gate (which computes
    the same statistic in window closed form over the full history).
    Here the fold is genuinely sequential across micro-batches, the
    applyInPandasWithState use case: state is one small tuple per
    event_type, the in-progress day included, so memory is O(|types|)
    whatever the stream length.  Caveat: the most recent day is
    PENDING (folds only when a later day arrives) — emissions cover
    exactly the completed days."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        make_cusum_update(refs, hs),
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _ReplayState:
    """Minimal GroupState stand-in for batch replay of streaming
    update functions: exists/get/update over one in-memory tuple.
    ``get`` raises on absent state exactly like the real GroupState —
    the replay must not be laxer than the runtime it mirrors (an
    update function reading state.get without checking state.exists
    should fail HERE, not only in the live stream)."""

    def __init__(self):
        self._t = None

    @property
    def exists(self) -> bool:
        return self._t is not None

    @property
    def get(self):
        if self._t is None:
            raise ValueError(
                "State is either not defined or has already been removed"
            )
        return self._t

    def update(self, t) -> None:
        self._t = t


def cusum_drift_batch_replay(
    events: DataFrame,
    refs: dict,
    hs: dict,
    n_batches: int = 3,
) -> DataFrame:
    """Run the STREAMING CUSUM update function (`make_cusum_update` —
    the exact code `cusum_drift_stream` hands to
    applyInPandasWithState) over a batch table, replaying each key's
    day-ordered rows as ``n_batches`` sequential micro-batch chunks
    against an in-memory state — the probe-stage gate pattern: the
    gated query exercises the genuine streaming fold, cross-batch
    state carry and pending-day semantics included, inside one
    deterministic batch plan.  The
    result is the final per-key emission: completed (folded) days
    only, the newest day still pending in state — exactly what the
    live stream would have reported after consuming the same rows
    time-ordered.

    Determinism: chunk boundaries are row-index thirds AFTER a stable
    sort by day; rows within a day are interchangeable for the fold
    (the update counts day occurrences), so the emission depends only
    on each chunk's day multiset — deterministic whatever partition
    order Spark feeds the group in.

    Scale shape: ONE shuffle on event_type into applyInPandas
    (Arrow-batched); per-key work is linear in that key's rows.  This
    is the replay/backfill harness, not the steady-state detector —
    the closed-form `cusum_drift_events` covers full-history batch
    analytics without per-event Python, and the streaming twin covers
    live data; this bridges them for gating and checkpoint-free
    backfill of small keyed slices.
    """
    return (
        events.select("event_type", "day")
        .groupBy("event_type")
        .applyInPandas(
            _make_replay_fn(
                make_cusum_update(refs, hs), "day", n_batches, CUSUM_OUT_SCHEMA
            ),
            schema=CUSUM_OUT_SCHEMA,
        )
    )


def _make_replay_fn(upd, order_col: str, n_batches: int, out_schema):
    """The shared batch-replay driver behind every streaming-twin gate
    (`cusum_drift_batch_replay`, `psi_register_batch_replay`): run a
    genuine applyInPandasWithState update function over one key's rows
    as ``n_batches`` sequential chunks against an in-memory
    `_ReplayState` — stable sort by ``order_col``, row-index n-tile
    chunk bounds, final emission returned (empty-schema frame for an
    empty key).  ONE definition so a fix to the chunking or empty-key
    handling lands in every replay gate (r11 review)."""

    def replay(key, pdf):
        st = _ReplayState()
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(
            drop=True
        )
        n = len(pdf)
        bounds = [n * i // n_batches for i in range(n_batches + 1)]
        out = None
        for i in range(n_batches):
            chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
            if chunk.empty:
                continue
            for emitted in upd(key, iter([chunk]), st):
                out = emitted
        if out is None:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in out_schema}
            )
        return out

    return replay


# --- PSI snapshot-drift register (round 11) --------------------------------
#
# The streaming counterpart of the static PSI/JS snapshot audits
# (`operators/drift.py`): maintain the LIVE side's per-bin count
# register incrementally (the CUSUM/IVF register pattern — state is one
# bounded count table per key), emit the full register each batch, and
# leave the drift ARITHMETIC to engine expressions over the emitted
# register + the broadcast baseline.  Keeping the python fold purely
# integer is what lets the replay gate hash-gate: the ln() products are
# computed by Spark/DuckDB in the gate plan, never by python libm.

PSI_REGISTER_OUT_SCHEMA = StructType(
    [
        StructField("snapshot", StringType()),
        StructField("bin", LongType()),
        StructField("cnt", LongType()),
    ]
)

PSI_REGISTER_STATE_SCHEMA = StructType(
    [
        StructField("bins", StringType()),  # csv-packed bounded register
        StructField("cnts", StringType()),
    ]
)


def make_psi_register_update(baseline_bins: list):
    """Build the per-key PSI register update fn: state is the live
    side's per-bin counts (bin-bounded — the PSI contract bins values
    into a report-sized domain before streaming); each batch folds the
    chunk's bin occurrences in and emits the FULL register over the
    UNION of live and ``baseline_bins`` (so bins the live side never
    hit emit cnt=0 — the static `psi_table` reports such bins as NULL
    contributions rather than dropping them, and the union emission
    preserves that).  Purely integer; drift arithmetic composes
    downstream in engine expressions.  State packs the bounded
    register as csv strings (the struct-of-arrays state type trips
    Arrow round-trips; bins are ints, csv is exact)."""
    base = sorted(int(b) for b in baseline_bins)

    def _update(key, batches, state):
        (snap,) = key
        if state.exists:
            bins_s, cnts_s = state.get
            reg = dict(
                zip(
                    (int(x) for x in bins_s.split(",") if x != ""),
                    (int(x) for x in cnts_s.split(",") if x != ""),
                )
            )
        else:
            reg = {}
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            for b, c in pdf["bin"].value_counts().items():
                b = int(b)
                reg[b] = reg.get(b, 0) + int(c)
        items = sorted(reg.items())
        state.update(
            (
                ",".join(str(b) for b, _ in items),
                ",".join(str(c) for _, c in items),
            )
        )
        out_bins = sorted(set(reg) | set(base))
        yield pd.DataFrame(
            {
                "snapshot": [snap] * len(out_bins),
                "bin": out_bins,
                "cnt": [reg.get(b, 0) for b in out_bins],
            }
        )

    return _update


def psi_register_stream(stream: DataFrame, baseline_bins: list) -> DataFrame:
    """binned stream (snapshot, bin) → per-batch full live-side count
    register — the streaming half of the PSI snapshot-drift audit.
    State is one bounded (bin, cnt) table per snapshot key; the PSI
    projection (join the register against the broadcast baseline
    counts, compute the micro-int contributions) composes downstream
    exactly as in the `incremental_psi_drift` gate."""
    return stream.select("snapshot", "bin").groupBy("snapshot").applyInPandasWithState(
        make_psi_register_update(baseline_bins),
        outputStructType=PSI_REGISTER_OUT_SCHEMA,
        stateStructType=PSI_REGISTER_STATE_SCHEMA,
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def psi_register_batch_replay(
    binned: DataFrame,
    baseline_bins: list,
    order_col: str = "__ord",
    n_batches: int = 3,
) -> DataFrame:
    """Replay the STREAMING PSI register fold (`make_psi_register_update`
    — the exact function `psi_register_stream` hands to
    applyInPandasWithState) over a batch table of (snapshot, bin,
    order_col) rows as ``n_batches`` sequential micro-batch chunks per
    key with cross-batch state carry — the probe-stage gate pattern
    (`cusum_drift_batch_replay`).  The result is the final per-key
    register emission, exactly what the live stream would report after
    consuming the same rows.  Chunk boundaries are row-index
    ``n_batches``-iles after a stable sort by ``order_col``; the
    register is a pure count fold, so the emission is independent of
    the chunking — which is precisely what makes the incremental gate
    meaningful: any arrival order must hash-equal the static oracle.

    Scale shape: ONE shuffle on the snapshot key into applyInPandas;
    per-key work is linear in that key's rows and state is bin-bounded.
    """
    return (
        binned.select("snapshot", "bin", order_col)
        .groupBy("snapshot")
        .applyInPandas(
            _make_replay_fn(
                make_psi_register_update(baseline_bins),
                order_col,
                n_batches,
                PSI_REGISTER_OUT_SCHEMA,
            ),
            schema=PSI_REGISTER_OUT_SCHEMA,
        )
    )
