"""Stateful streaming operators (SURVEY §2.9; the engine analog of the
reference's stateful watermark Variable, generalized to per-key state).

Plain keyed aggregates are JVM streaming aggregates (``groupBy().agg()``
in update mode, state in the native state store): per-user lifetime
counters (``user_lifetime_stats``), the last-wins view
(``lastwins_maintain``) and the top-k running sums (``topk_maintain``).
``applyInPandasWithState`` is the escape hatch for the real state
machines that built-in aggregates can't express: SCD2, retraction
changelogs, prefix anomalies, bitemporal, CUSUM and funnels.
GroupStateTimeout is off — state lives for the stream's lifetime;
production variants key eviction off event-time timeouts.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)


def user_lifetime_stats(events_stream: DataFrame) -> DataFrame:
    """Per-user running totals as a JVM streaming aggregate (update
    output mode): each batch re-emits every touched user's (count,
    Σ floor(value·1000), max ts), so per user the emissions grow
    strictly in n_events. The sum lives on the exact 1e-3 integer grid,
    so the converged state is batch-split- and order-invariant."""
    return (events_stream
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 1000).cast("long"))
                  .alias("value_milli"),
                 F.max("ts").alias("last_ts")))


# ---------------------------------------------------------------- SCD2 IVM

SCD2_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("event_id", LongType(), True),
    StructField("state", StringType(), True),
    StructField("valid_from", TimestampType(), True),
    StructField("valid_to", TimestampType(), True),
    StructField("is_current", BooleanType(), True),
])

# the NOT-YET-FINAL versions, sorted by (from_us, event_id): every
# version younger than the watermark, plus the open tail. Parallel
# arrays because state rows must be flat-encodable.
SCD2_STATE_SCHEMA = StructType([
    StructField("event_ids", ArrayType(LongType()), True),
    StructField("states", ArrayType(StringType()), True),
    StructField("from_us", ArrayType(LongType()), True),
])


def _scd2_update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Out-of-order-tolerant SCD2 maintenance. The buffer in state holds
    every version whose interval could still change — i.e. whose
    successor's start is NOT yet behind the watermark (a new event could
    still land inside the interval; anything older is dropped by the
    watermark before reaching this function). Each batch re-sorts the
    buffer with the new arrivals and re-emits the affected intervals; a
    late arrival thus CORRECTS the intervals it splits (valid_to only
    ever shrinks), and ``scd2_finalize`` keeps the tightest emission.
    Versions whose successor start <= watermark are final: emitted one
    last time, then trimmed — so state size is bounded by key churn
    within the watermark delay, independent of stream length."""
    if state.exists:
        ids, sts, frs = state.get
        buf = list(zip(ids, sts, frs))
    else:
        buf = []
    seen = {e for e, _, _ in buf}
    rows = pd.concat(list(pdfs), ignore_index=True)
    for r in rows.itertuples():
        eid = int(r.event_id)
        if eid in seen:
            continue  # redelivered event: idempotent no-op
        seen.add(eid)
        buf.append((eid, str(r.event_type), int(r.ts.value // 1000)))
    if not buf:
        return
    buf.sort(key=lambda v: (v[2], v[0]))

    out: list[tuple] = []
    for (eid, st, fr), nxt in zip(buf, buf[1:] + [None]):
        if nxt is None:
            out.append((key[0], eid, st, fr, None, True))
        else:
            out.append((key[0], eid, st, fr, nxt[2], False))

    try:
        wm_us = state.getCurrentWatermarkMs() * 1000
    except Exception:
        wm_us = 0  # no watermark on the input: never trim (still correct)
    # trim final versions: interval [fr_i, fr_{i+1}) can't change once
    # fr_{i+1} <= watermark (no admissible event can land inside it)
    first_live = 0
    while first_live + 1 < len(buf) and buf[first_live + 1][2] <= wm_us:
        first_live += 1
    buf = buf[first_live:]
    state.update(([v[0] for v in buf], [v[1] for v in buf],
                  [v[2] for v in buf]))

    yield pd.DataFrame(
        {"user_id": [o[0] for o in out],
         "event_id": [o[1] for o in out],
         "state": [o[2] for o in out],
         "valid_from": [pd.Timestamp(o[3] * 1000) for o in out],
         "valid_to": [pd.Timestamp(o[4] * 1000) if o[4] is not None else pd.NaT
                      for o in out],
         "is_current": [o[5] for o in out]})


def scd2_maintain(events_stream: DataFrame) -> DataFrame:
    """Continuously-maintained SCD2 history (ROADMAP item 5): the
    streaming IVM analog of the batch ``scd2_history`` query — now
    OUT-OF-ORDER TOLERANT across micro-batches (round-2 VERDICT item 1):
    late events split the interval they land in and the corrected closes
    are re-emitted; ``scd2_finalize`` collapses the update log to the
    converged history.

    State per key is the watermark-bounded version buffer (versions
    whose intervals could still change), so state size tracks per-key
    churn within the watermark delay — bounded for any stream length.
    Without a watermark on the input (availableNow replays) nothing is
    ever trimmed, which is still correct, just unbounded; production
    streams set ``withWatermark`` upstream and get both."""
    return (events_stream
            .groupBy("user_id")
            .applyInPandasWithState(_scd2_update, SCD2_OUTPUT_SCHEMA,
                                    SCD2_STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


def scd2_finalize(emitted: DataFrame) -> DataFrame:
    """Collapse the emitted update log to the converged SCD2 view. Across
    emissions of one (user_id, event_id) version: valid_from and state
    never change, valid_to only SHRINKS (a late event can only split the
    interval, never extend it), and any closed emission means the version
    is permanently not-current. So the converged row is one groupBy:
    min(valid_to) (nulls ignored — all-open stays NULL) + AND(is_current).
    A single keyed aggregation — cheaper than the former window top-1."""
    return (emitted.groupBy("user_id", "event_id")
            .agg(F.any_value("state").alias("state"),
                 F.min("valid_from").alias("valid_from"),
                 F.min("valid_to").alias("valid_to"),
                 F.bool_and("is_current").alias("is_current")))


# ----------------------------------------------------------- last-wins IVM

def lastwins_maintain(events_stream: DataFrame) -> DataFrame:
    """Continuously-maintained last-wins view (ROADMAP item 5): per key,
    the payload of the latest (ts, event_id) — the streaming IVM analog
    of the batch ``dedup_last_wins`` query, and the maintained form of
    the reference's idempotent-upsert contract (webhook redelivery,
    ref handler.py:60-74).

    Unlike the SCD2 operator this one is fully OUT-OF-ORDER TOLERANT
    across micro-batches: a JVM streaming aggregate keeps only the max
    (ts, event_id, …) struct seen, so a late replay can never regress the
    view, and redelivered duplicates are no-ops. State is one row per
    key — bounded by key cardinality, independent of stream length."""
    return (events_stream
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type", "value"))
                  .alias("w"))
            .select("user_id", "w.event_id", "w.event_type", "w.ts",
                    "w.value"))


RETRACT_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("op", StringType(), True),  # '+I' | '-U' | '+U'
    StructField("n_events", LongType(), True),
    StructField("value_sum", DoubleType(), True),
    StructField("version", LongType(), True),
])

RETRACT_STATE_SCHEMA = StructType([
    StructField("n_events", LongType(), True),
    StructField("value_sum", DoubleType(), True),
    StructField("version", LongType(), True),
])


def _retract_update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    rows = pd.concat(list(pdfs), ignore_index=True)
    if not len(rows):
        return
    n0, v0, ver = state.get if state.exists else (0, 0.0, 0)
    n1 = n0 + len(rows)
    v1 = v0 + float(rows["value"].sum())
    out = []
    if ver > 0:
        out.append((key[0], "-U", n0, v0, ver))
        out.append((key[0], "+U", n1, v1, ver + 1))
    else:
        out.append((key[0], "+I", n1, v1, 1))
    state.update((n1, v1, ver + 1))
    yield pd.DataFrame({
        "user_id": [o[0] for o in out], "op": [o[1] for o in out],
        "n_events": [o[2] for o in out], "value_sum": [o[3] for o in out],
        "version": [o[4] for o in out]})


def retract_maintain(events_stream: DataFrame) -> DataFrame:
    """Retraction-emitting maintained aggregate (ROADMAP item 4): per-key
    count + sum as a FORMAL CHANGELOG in the Flink style. When a batch
    changes a key's aggregate, the operator emits the retraction of the
    previous value (``-U``, the exact row previously emitted) and the
    new value (``+U``, version+1); the first value for a key emits as
    ``+I``. Downstream consumers that AGGREGATE the changelog (e.g. a
    global total maintained from per-key subtotals) stay correct by
    adding ``+`` rows and subtracting ``-`` rows — last-wins re-emission
    alone cannot give them that (they'd double-count updated keys).

    State is one fixed-width (count, sum, version) row per key — bounded
    by key cardinality, independent of stream length. Versions make the
    log order-free: every emission carries the version it installs (or
    retracts), so consumers never depend on sink arrival order."""
    return (events_stream
            .groupBy("user_id")
            .applyInPandasWithState(_retract_update, RETRACT_OUTPUT_SCHEMA,
                                    RETRACT_STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


def changelog_fold(emitted: DataFrame) -> DataFrame:
    """Materialize the current state from a retraction changelog: per key
    the highest-version addition ('+I'/'+U'); its paired retraction (if
    any) carries a LOWER version by construction, so a plain version-max
    top-1 suffices and the fold never needs the op column ordering."""
    from ..operators.windows import topk_per_group
    adds = emitted.filter(F.col("op") != "-U")
    return topk_per_group(adds, keys=["user_id"],
                          order=[F.col("version").desc()], k=1)


def lastwins_finalize(emitted: DataFrame) -> DataFrame:
    """Collapse the update log to the converged view: per-key emissions
    are monotone in (ts, event_id), so the latest emission is the max."""
    from ..operators.windows import topk_per_group
    return topk_per_group(
        emitted, keys=["user_id"],
        order=[F.col("ts").desc(), F.col("event_id").desc()], k=1)


# ----------------------------------------------------- prefix-anomaly IVM

ANOM_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("event_id", LongType(), True),
    StructField("is_anom", BooleanType(), True),
])

ANOM_STATE_SCHEMA = StructType([
    StructField("n", LongType(), True),
    StructField("s", LongType(), True),    # Σ floor(value*1000) — exact
    StructField("ss", LongType(), True),   # Σ v² in milli² — exact
])


def _anom_update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-event prefix z-score flag from EXACT integer moments: an
    event is anomalous iff ≥10 prior events exist and
    (v·n − s)² > 9·(n·ss − s²) — the |v−μ|>3σ test cleared of every
    float division, so the streaming path and the batch window twin
    agree bitwise. State is three BIGINTs per user, O(1) forever."""
    n, s, ss = state.get if state.exists else (0, 0, 0)
    batch = pd.concat(list(pdfs))
    batch = batch.sort_values(["ts", "event_id"])
    v = np.floor(batch["value"].to_numpy() * 1000).astype(np.int64)
    flags = np.zeros(len(v), dtype=bool)
    for i, vm in enumerate(v):
        if n >= 10:
            dev = vm * n - s
            flags[i] = dev * dev > 9 * (n * ss - s * s)
        n += 1
        s += int(vm)
        ss += int(vm) * int(vm)
    state.update((int(n), int(s), int(ss)))
    yield pd.DataFrame({
        "user_id": batch["user_id"].to_numpy(),
        "event_id": batch["event_id"].to_numpy(),
        "is_anom": flags,
    })


def anomaly_maintain(events_stream: DataFrame) -> DataFrame:
    """Continuously-maintained per-user outlier flags (the streaming twin
    of the batch ``anomaly_zscore`` shape, but on the PREFIX — each event
    judged against only the history that preceded it, which is the only
    thing an online detector can do). Append mode: each event's verdict
    is final the moment it is scored. Requires per-key event-time order
    across batches (the single-file availableNow drain guarantees it;
    an out-of-order source would need the scd2-style watermark buffer)."""
    return (events_stream
            .groupBy("user_id")
            .applyInPandasWithState(_anom_update, ANOM_OUTPUT_SCHEMA,
                                    ANOM_STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))


# --------------------------------------------------------------- top-k IVM

TOPK_K = 10


def topk_maintain(events_stream: DataFrame) -> DataFrame:
    """Continuously-maintained per-(event_type, user) running value sums
    behind the exact top-10 leaderboard — the `ORDER BY … LIMIT k` view
    a streaming materializer keeps hot. A JVM streaming aggregate: state
    is one row per (event_type, user_id), so no key holds a whole
    group's keyspace. Sums are exact 1e-3-grid integers, hence out-of-
    order tolerant across micro-batches; ``n`` grows with every emission
    of a key, which orders the update log for ``topk_finalize``."""
    return (events_stream
            .groupBy("event_type", "user_id")
            .agg(F.sum(F.floor(F.col("value") * 1000).cast("long"))
                  .alias("total_milli"),
                 F.count("*").alias("n")))


def topk_finalize(emitted: DataFrame) -> DataFrame:
    """Converged leaderboard from the update log: per (event_type,
    user_id) the LAST emission (max ``n``) holds the converged sum; rank
    those per event_type and keep the top ``TOPK_K``."""
    from ..operators.windows import topk_per_group
    conv = (emitted.groupBy("event_type", "user_id")
            .agg(F.max_by("total_milli", "n").alias("total_milli")))
    return topk_per_group(
        conv, keys=["event_type"],
        order=[F.col("total_milli").desc(), F.col("user_id")],
        k=TOPK_K, rank_col="rnk", keep_rank=True).select(
            "event_type", "rnk", "user_id", "total_milli")


# --------------------------------------------------------- bitemporal IVM

BT_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("op", StringType(), True),       # 'C' closed | 'O' open
    StructField("value", LongType(), True),
    StructField("valid_from", TimestampType(), True),
    StructField("valid_to", TimestampType(), True),
    StructField("tx_from", LongType(), True),
    StructField("tx_to", LongType(), True),
    StructField("seq", LongType(), True),
])

BT_STATE_SCHEMA = StructType([
    StructField("valids", ArrayType(LongType()), True),   # micros
    StructField("values", ArrayType(LongType()), True),
    StructField("tx_froms", ArrayType(LongType()), True),
    StructField("max_tx", LongType(), True),
    StructField("seq", LongType(), True),
    # tx-lateness holding pen: assertions whose tx is still within the
    # reorder tolerance of the key's max seen tx — applied (finalized)
    # only once the tolerance window passes them
    StructField("p_valids", ArrayType(LongType()), True),
    StructField("p_values", ArrayType(LongType()), True),
    StructField("p_txs", ArrayType(LongType()), True),
])


class TransactionOrderError(RuntimeError):
    """A micro-batch delivered an assertion with tx at or below the
    key's FINALIZED high-water mark — older than the declared
    ``tx_lateness`` tolerance, so its effect on already-final closed
    rows can no longer be recorded. Fail loudly (the scd2_maintain
    ADVICE discipline) instead of recording a corrupted belief
    history. With ``tx_lateness=0`` (strict mode) this is any
    out-of-tx-order arrival across batches."""


def _bt_apply(kid: int, valids: list, cur: dict, rows: list) -> list:
    """Apply ``rows`` = [(valid_us, value, tx)] (MUST be tx-sorted) to
    the (valids, cur) arrangement IN PLACE; return the closed-row
    tuples the revisions produced. Shared by the finalize path (mutates
    state) and the preview path (mutates a copy)."""
    from bisect import bisect_left, insort
    closed: list[tuple] = []

    def succ(v):
        i = bisect_left(valids, v)
        j = i + 1 if i < len(valids) and valids[i] == v else i
        return valids[j] if j < len(valids) else None

    for v, val, tx in rows:
        if v in cur:
            old_val, old_from = cur[v]
            closed.append((kid, old_val, v, succ(v), old_from, tx))
            cur[v] = (val, tx)
            continue
        i = bisect_left(valids, v)
        if i > 0:
            pv = valids[i - 1]
            p_val, p_from = cur[pv]
            closed.append((kid, p_val, pv, succ(pv), p_from, tx))
            cur[pv] = (p_val, tx)
        insort(valids, v)
        cur[v] = (val, tx)
    return closed


def _bt_update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
               tx_lateness: int = 0):
    if state.exists:
        (valids_l, values_l, txf_l, max_tx, seq,
         pv_l, pval_l, ptx_l) = state.get
        valids = list(valids_l)
        cur = {v: (val, tf) for v, val, tf in zip(valids, values_l, txf_l)}
        pending = {int(t): (int(v), int(val))
                   for v, val, t in zip(pv_l, pval_l, ptx_l)}
    else:
        valids, cur, max_tx, seq, pending = [], {}, -1, 0, {}
    batch = pd.concat(list(pdfs))
    kid = int(key[0])

    for r in batch.itertuples():
        v = int(r.valid.value // 1000)  # pandas ns → micros
        val, tx = int(r.value), int(r.tx)
        if tx <= max_tx:
            raise TransactionOrderError(
                f"key {kid}: tx {tx} at/behind finalized high-water "
                f"{max_tx} (tx_lateness={tx_lateness})")
        if tx in pending:
            continue  # redelivered assertion: idempotent no-op
        pending[tx] = (v, val)
    if not pending and not valids:
        return

    # finalize the pending prefix the reorder tolerance has passed:
    # an assertion may still arrive with tx > max seen - tx_lateness,
    # so only tx <= that bound are immutable
    key_max = max(pending) if pending else max_tx
    bound = key_max - int(tx_lateness)
    final_txs = sorted(t for t in pending if t <= bound)
    final_rows = [(pending[t][0], pending[t][1], t) for t in final_txs]
    closed = [c + (0,) for c in _bt_apply(kid, valids, cur, final_rows)]
    if final_txs:
        max_tx = final_txs[-1]
        for t in final_txs:
            del pending[t]

    # optimistic preview of the still-buffered tail on a COPY: late
    # arrivals re-run it, so its closes/opens re-emit sequenced and
    # the finalize fold keeps only the last snapshot
    seq = int(seq) + 1
    p_valids, p_cur = list(valids), dict(cur)
    tail = [(pending[t][0], pending[t][1], t) for t in sorted(pending)]
    preview = [c + (seq,) for c in _bt_apply(kid, p_valids, p_cur, tail)]

    ptxs = sorted(pending)
    state.update((valids, [cur[v][0] for v in valids],
                  [cur[v][1] for v in valids], int(max_tx), seq,
                  [pending[t][0] for t in ptxs],
                  [pending[t][1] for t in ptxs], ptxs))

    def succ(v):
        from bisect import bisect_left
        i = bisect_left(p_valids, v)
        j = i + 1 if i < len(p_valids) and p_valids[i] == v else i
        return p_valids[j] if j < len(p_valids) else None

    opens = [(kid, "O", p_cur[v][0], v, succ(v), p_cur[v][1], None, seq)
             for v in p_valids]
    rows = ([(c[0], "C", c[1], c[2], c[3], c[4], c[5], c[6])
             for c in closed]
            + [(c[0], "P", c[1], c[2], c[3], c[4], c[5], c[6])
               for c in preview]
            + opens)
    if rows:
        df = pd.DataFrame(rows, columns=[
            "user_id", "op", "value", "valid_from", "valid_to",
            "tx_from", "tx_to", "seq"])
        for c in ("valid_from", "valid_to"):
            # nullable Int64, NOT the default float64 coercion of the
            # None-bearing valid_to column: micros are exact integers
            # (float64 loses exactness past 2^53), and pandas' float→
            # datetime path runs under errstate(over='raise'), which
            # the 10x smoke tripped in Spark workers on nan sentinels
            # — the IntegerArray path is overflow-safe and NA-clean.
            df[c] = pd.to_datetime(pd.array(df[c], dtype="Int64"),
                                   unit="us")
        yield df


def bitemporal_maintain(events_stream: DataFrame,
                        tx_lateness: int = 0) -> DataFrame:
    """Continuously-maintained bitemporal SCD (the streaming twin of
    ``operators/bitemporal.py``): finalized closed belief rows emit
    append-only exactly once; the open-row snapshot re-emits sequenced
    per batch (converged view = closed rows + last snapshot,
    ``bitemporal_finalize``).

    OUT-OF-ORDER tx is tolerated up to ``tx_lateness`` (ROADMAP item 7
    remaining): assertions buffer in a per-key holding pen — the
    streaming analog of the reference's staging table
    (/root/reference/src/db/load.py:193-235, late rows held before the
    merge) — and only those whose tx the reorder tolerance has passed
    (tx <= key's max seen - tx_lateness) are APPLIED to the durable
    arrangement, so their closed rows are final the moment they emit.
    The still-buffered tail is previewed on a copy each batch (op 'P'
    closes + the open snapshot), re-emitted and superseded by seq until
    it finalizes — a late assertion therefore lands inside the window
    it reorders with no retraction of any final row. State per key =
    arrangement + holding pen, so state size is bounded by per-key
    churn within the tolerance window. An arrival at/behind the
    FINALIZED high-water raises :class:`TransactionOrderError` loudly;
    ``tx_lateness=0`` (default) keeps the strict historical behavior:
    everything finalizes immediately and any cross-batch reorder
    raises."""
    import functools
    fn = functools.partial(_bt_update, tx_lateness=int(tx_lateness))
    return (events_stream
            .groupBy("user_id")
            .applyInPandasWithState(fn, BT_OUTPUT_SCHEMA,
                                    BT_STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


def bitemporal_finalize(emitted: DataFrame) -> DataFrame:
    """Converged bitemporal rows from the update log: all finalized
    closed rows (op 'C', append-only, emitted exactly once), plus each
    key's LAST preview — the op 'P' closes and op 'O' opens of its
    final snapshot seq (earlier previews were superseded by a late
    arrival re-running the buffered tail)."""
    from pyspark.sql import Window
    closed = emitted.filter(F.col("op") == "C").drop("op", "seq")
    w = Window.partitionBy("user_id")
    last = (emitted.filter(F.col("op") != "C")
            .withColumn("_mx", F.max(F.when(F.col("op") == "O", F.col("seq")))
                        .over(w))
            .filter(F.col("seq") == F.col("_mx"))
            .drop("op", "seq", "_mx"))
    return closed.unionByName(last)


# ------------------------------------------------------- online CUSUM IVM

CUSUM_OUTPUT_SCHEMA = StructType([
    StructField("event_type", StringType(), True),
    StructField("event_id", LongType(), True),
    StructField("cusum_hi", LongType(), True),
    StructField("cusum_lo", LongType(), True),
    StructField("alarm_hi", BooleanType(), True),
    StructField("alarm_lo", BooleanType(), True),
])

CUSUM_STATE_SCHEMA = StructType([
    StructField("hi", LongType(), True),
    StructField("lo", LongType(), True),
])


def cusum_maintain(events_stream: DataFrame,
                   targets: dict[str, int]) -> DataFrame:
    """Online two-sided CUSUM per event type — the streaming twin of
    the batch ``changepoint_cusum`` fold, at EVENT grain: each event
    advances S+ = max(0, S+ + v - mu - k) / S- mirror for its type and
    is emitted with the post-update statistics and h-crossing alarms.
    ``targets`` maps event_type -> calibrated in-control mean mu in
    integer cents (slack k = mu div 20, threshold h = mu div 2 derive
    from it); the dict is |types|-bounded and closes over the state
    function (the lang_id_ngram bounded-collect precedent) — a real
    deployment calibrates it on pre-deployment history, exactly as the
    registered query does on the timeline's first half. State: two
    BIGINTs per type, O(1) forever. Append mode: a verdict is final
    when scored (prefix semantics). Requires per-key event-time order
    across batches (single-file availableNow guarantees it; an
    out-of-order source needs the scd2-style watermark buffer)."""
    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState):
        mu = int(targets.get(key[0], 0))
        k, h = mu // 20, mu // 2
        hi, lo = state.get if state.exists else (0, 0)
        batch = pd.concat(list(pdfs))
        batch = batch.sort_values(["ts", "event_id"])
        v = np.floor(batch["value"].to_numpy() * 100 + 0.5).astype(np.int64)

        def fold(s0, d):
            # S_i = max(0, S_{i-1} + d_i) has the closed prefix form
            # S_i = Q_i - min(0, min_{j<=i} Q_j) with Q = s0 + cumsum(d)
            # (Q_0 = s0) - vectorized, no per-event Python loop
            q = np.concatenate(([s0], s0 + np.cumsum(d)))
            m = np.minimum.accumulate(np.minimum(q, 0))
            return (q - m)[1:]

        his = fold(int(hi), v - mu - k)
        los = fold(int(lo), mu - v - k)
        state.update((int(his[-1]), int(los[-1])))
        yield pd.DataFrame({
            "event_type": [key[0]] * len(v),
            "event_id": batch["event_id"].to_numpy(),
            "cusum_hi": his,
            "cusum_lo": los,
            "alarm_hi": his > h,
            "alarm_lo": los > h,
        })

    return (events_stream
            .groupBy("event_type")
            .applyInPandasWithState(update, CUSUM_OUTPUT_SCHEMA,
                                    CUSUM_STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))


# --------------------------------------------------- ordered-funnel IVM

FUNNEL_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("stage_reached", LongType(), True),
    StructField("seq", LongType(), True),
])

FUNNEL_STATE_SCHEMA = StructType([
    StructField("t0", LongType(), True),
    StructField("t1", LongType(), True),
    StructField("t2", LongType(), True),
    StructField("seq", LongType(), True),
])

_FUNNEL_STAGES = ("signup", "click", "purchase")


def funnel_maintain(events_stream: DataFrame) -> DataFrame:
    """Ordered-funnel progression per user, maintained incrementally —
    the streaming twin of the batch ``funnel_conversion`` chain
    (signup → click-after-signup → purchase-after-click, strict
    event-time order, FIRST qualifying event per stage): state is the
    three first-completion micros (−1 = not reached), each batch
    advances them by scanning the user's new events in (ts, event_id)
    order, and the user's current stage is re-emitted with a per-key
    sequence (update mode; converged view = max-seq row per user,
    the lastwins_finalize pattern). O(1) state per user forever.
    Requires per-key event-time order across batches (single-file
    availableNow guarantees it)."""
    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState):
        t0, t1, t2, seq = state.get if state.exists else (-1, -1, -1, 0)
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = (batch["ts"].astype("int64")).to_numpy()
        types = batch["event_type"].to_numpy()
        for tus, et in zip(ts_us, types):
            tus = int(tus)
            if et == _FUNNEL_STAGES[0] and t0 < 0:
                t0 = tus
            elif (et == _FUNNEL_STAGES[1] and t1 < 0 and 0 <= t0 < tus):
                t1 = tus
            elif (et == _FUNNEL_STAGES[2] and t2 < 0 and 0 <= t1 < tus):
                t2 = tus
        seq = int(seq) + 1
        state.update((int(t0), int(t1), int(t2), seq))
        stage = 3 if t2 >= 0 else 2 if t1 >= 0 else 1 if t0 >= 0 else 0
        yield pd.DataFrame({"user_id": [key[0]],
                            "stage_reached": [stage], "seq": [seq]})

    return (events_stream
            .groupBy("user_id")
            .applyInPandasWithState(update, FUNNEL_OUTPUT_SCHEMA,
                                    FUNNEL_STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


def funnel_finalize(emitted: DataFrame) -> DataFrame:
    """Converged per-user funnel stage: the max-seq emission per key."""
    from ..operators.windows import topk_per_group
    return topk_per_group(emitted, keys=["user_id"],
                          order=[F.col("seq").desc()], k=1)
