"""Custom stateful streaming operators via ``applyInPandasWithState``.

The streaming analogue of the batch sessionizer that LABELS EVERY ROW
(F.session_window only yields per-session aggregates): per-conversation
state carries (last event time µs, session counter) across micro-batches,
so each arriving turn gets its session sequence incrementally — the shape
Towhee's stateful PyOperator (towhee/operator/base.py:240-252) would take
on an unbounded stream.

Ordering contract — two modes:

* ``ordered=True`` (default): assumes per-key EVENT-TIME-ORDERED arrival
  across micro-batches (within a batch they sort). Right for ordered
  ingestion layers (time-sliced files, Kafka keyed by conversation with
  in-partition ordering); zero buffering cost.
* ``ordered=False``: out-of-order tolerant. Rows are BUFFERED in per-key
  state and released in event-time order only once the watermark passes
  them (no earlier row can still arrive — the engine drops rows older than
  the watermark before they reach the operator), so the sequential logic
  sees a correctly ordered stream even from shuffled sources. Buffered
  tails flush via event-time timeouts as the watermark advances; the final
  tail flushes when any later data (any key) advances the global watermark
  past it — standard streaming semantics, exercised in tests with a
  sentinel row. Rows with equal timestamps are inherently order-ambiguous
  in any mode. Buffer residency is bounded by the watermark delay
  (delay × per-key arrival rate rows). Streaming-only (a batch frame has
  no watermark).

All ops here are STREAMING-only: Spark rejects applyInPandasWithState in
batch queries ("use applyInPandas instead") — batch equivalents are the
temporal/pipeline modules these mirror.

One stateful operator does both jobs because Structured Streaming does not
support chaining (flat)MapGroupsWithState-family operators — the sort
buffer cannot be a separate upstream stage.
"""

from __future__ import annotations

from bisect import bisect_right
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _ts_us(pdf: pd.DataFrame, ts: str) -> pd.Series:
    from towhee_spark.temporal import pandas_epoch_us  # noqa: PLC0415

    if pd.api.types.is_datetime64_any_dtype(pdf[ts]):
        return pandas_epoch_us(pdf[ts])  # unit-aware, not ns-assuming
    return pdf[ts].astype("int64")  # numeric ts column: already epoch-µs


def _enc_col(s: pd.Series, dtype) -> list:
    """Encode one batch column for the typed state buffer: timestamps →
    epoch-µs ints, numerics/bools → native Python scalars (numpy scalars
    don't survive the state server), nulls/NaN/NaT → None."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        from towhee_spark.temporal import pandas_epoch_us  # noqa: PLC0415

        na = s.isna().tolist()
        us = pandas_epoch_us(s).tolist()
        return [None if m else int(t) for m, t in zip(na, us)]
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        conv = int
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        conv = float
    elif isinstance(dtype, T.BooleanType):
        conv = bool
    else:
        conv = str
    return [None if v is None or v != v else conv(v) for v in s.tolist()]


def _dec_list(vals: list, dtype) -> list:
    """Decode one buffered column (see _enc_col): timestamps come back from
    epoch-µs ints; everything else is stored in its own type."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return [None if v is None else pd.Timestamp(int(v) * 1000) for v in vals]
    return list(vals)


def _dec_series(vals: list, dtype) -> pd.Series:
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return pd.Series(pd.to_datetime(
            pd.Series(vals, dtype="float64"), unit="us"))
    return pd.Series(vals, dtype=object)


class _Buf(NamedTuple):
    """Event-time-sorted buffer slice: parallel arrays, one per carry col."""

    ts_us: list
    cols: list  # list[list], parallel to carry_cols


def _carry_state_fields(carry_cols, schema) -> list:
    """Typed buffer state fields: buf_ts (epoch-µs) + one array per carry
    column IN ITS OWN TYPE (timestamps as epoch-µs longs) — replaces the
    round-3 array<string>-of-JSON buffer whose per-row loads/dumps was the
    engine's last per-row Python encode path (VERDICT r3 ask #4)."""
    fields = [T.StructField("buf_ts", T.ArrayType(T.LongType()))]
    for i, c in enumerate(carry_cols):
        dt = schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            dt = T.LongType()
        fields.append(T.StructField(f"buf_{i}", T.ArrayType(dt)))
    return fields


def _buffer_merge(state: GroupState, batches, ts: str, carry_cols, schema,
                  n_logic: int) -> tuple[_Buf, _Buf, int]:
    """Read the typed state buffer (``n_logic`` logic fields precede it),
    append this batch's rows, and split into (ready, hold) by the current
    watermark: ready rows (ts ≤ watermark) are safe to process in event-time
    order — the engine has already dropped anything older than the
    watermark, so no earlier row can still arrive.

    The buffer is column-parallel typed arrays (see _carry_state_fields):
    appends are vectorized column encodes, the sort is one argsort over the
    ts array, and the watermark split is a bisect — no per-row JSON."""
    if state.exists:
        tup = state.get
        buf_ts = list(tup[n_logic] or [])
        buf_cols = [list(tup[n_logic + 1 + i] or [])
                    for i in range(len(carry_cols))]
    else:
        buf_ts, buf_cols = [], [[] for _ in carry_cols]
    if not state.hasTimedOut:
        for pdf in batches:
            buf_ts.extend(int(t) for t in _ts_us(pdf, ts).tolist())
            for i, c in enumerate(carry_cols):
                buf_cols[i].extend(_enc_col(pdf[c], schema[c].dataType))
    if any(buf_ts[j] > buf_ts[j + 1] for j in range(len(buf_ts) - 1)):
        order = sorted(range(len(buf_ts)), key=buf_ts.__getitem__)  # stable
        buf_ts = [buf_ts[j] for j in order]
        buf_cols = [[col[j] for j in order] for col in buf_cols]
    wm_ms = state.getCurrentWatermarkMs()
    k = bisect_right(buf_ts, wm_ms * 1000)
    ready = _Buf(buf_ts[:k], [col[:k] for col in buf_cols])
    hold = _Buf(buf_ts[k:], [col[k:] for col in buf_cols])
    return ready, hold, wm_ms


_OOO_OK_TYPES = (T.StringType, T.TimestampType, T.TimestampNTZType,
                 T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                 T.FloatType, T.DoubleType, T.BooleanType)


def _require_ooo_supported(df: DataFrame, carry_cols, ts: str) -> None:
    """Loud plan-time errors for the ordered=False configurations the typed
    state buffer cannot handle silently (code-review findings):

    * non-UTC session timezone — buffered event times are compared against
      the engine watermark, which is UTC-epoch-based; a tz offset would
      release rows the watermark does not yet cover;
    * non-primitive carry columns — arrays/maps/structs would need nested
      array state fields (not supported; flatten upstream)."""
    if not df.isStreaming:
        return
    if not isinstance(df.schema[ts].dataType,
                      (T.TimestampType, T.TimestampNTZType)):
        raise ValueError(
            f"ordered=False requires a timestamp-typed event-time column "
            f"(got {ts!r}: {df.schema[ts].dataType.simpleString()}): the "
            f"watermark is the buffer's release signal"
        )
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"ordered=False requires spark.sql.session.timeZone=UTC (got "
            f"{tz!r}): the state buffer compares buffered event times "
            f"against the engine watermark (UTC epoch); a session offset "
            f"would release rows before the watermark covers them"
        )
    for c in carry_cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, _OOO_OK_TYPES):
            raise NotImplementedError(
                f"ordered=False carries column {c!r} of type "
                f"{dt.simpleString()} through JSON state; only primitive "
                f"and timestamp columns are supported"
            )


def _store_and_arm(state: GroupState, persist: tuple, hold: _Buf, wm_ms: int):
    """Persist (logic state..., typed hold arrays) and arm an event-time
    timeout at the earliest buffered row so the tail flushes when the
    watermark passes it — even if this key receives no further rows."""
    state.update((*persist, hold.ts_us, *hold.cols))
    if hold.ts_us:
        state.setTimeoutTimestamp(max(hold.ts_us[0] // 1000, wm_ms + 1))


def stream_sessionize_rows(
    df: DataFrame,
    gap: float = 1800.0,
    key: str = "conv_id",
    ts: str = "ts",
    out_cols: tuple[str, ...] = ("conv_id", "turn_idx", "ts"),
    seq_col: str = "session_seq",
    watermark: str = "30 minutes",
    ordered: bool = True,
) -> DataFrame:
    """Per-row session labelling over a stream.

    ``ordered=True``: rows within each micro-batch are processed in (ts)
    order per key; the (last_us, seq) state persists across batches.
    ``ordered=False``: watermark-sorted buffering first (module docstring) —
    correct on out-of-order sources at the cost of watermark-delay latency."""
    from towhee_spark.temporal import _us  # noqa: PLC0415

    gap_us = _us(gap)
    in_schema = df.schema  # bound locally: closures must not capture df
    out_schema = T.StructType(
        [in_schema[c] for c in out_cols] + [T.StructField(seq_col, T.LongType())]
    )
    out_names = [f.name for f in out_schema.fields]

    def session_pass(t_list, last_t, seq, gap_t=None):
        gap_t = gap_us if gap_t is None else gap_t
        seqs = []
        for t in t_list:
            if last_t is None or t - last_t > gap_t:
                seq += 1
            last_t = t  # full precision in-batch (fractional numeric ts)
            seqs.append(seq)
        return seqs, last_t, seq

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            last_us, seq = state.get
        else:
            last_us, seq = None, 0
        # CONCATENATE the group's Arrow chunks before sorting: a >10k-row
        # per-key batch arrives as multiple chunks in arbitrary order, and
        # chunk-local sorts would feed the sequential logic out of order
        # (code-review finding)
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(ts, kind="mergesort")
            if pd.api.types.is_datetime64_any_dtype(pdf[ts]):
                tvals = _ts_us(pdf, ts)
                gap_t = gap_us
            else:  # numeric ts: RAW values, gap shares the column's unit —
                # batch temporal.sessionize parity (was read as µs)
                tvals = pdf[ts].astype("float64")
                gap_t = gap
            seqs, last_us, seq = session_pass(tvals, last_us, seq, gap_t)
            out = pdf[list(out_cols)].copy()
            out[seq_col] = seqs
            yield out[out_names]
        # the Long state slot floors fractional numeric ts at batch
        # boundaries only (within-batch math keeps full precision)
        state.update((None if last_us is None else int(last_us), seq))

    def fn_ooo(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        last_us, seq = (state.get[0], state.get[1]) if state.exists else (None, 0)
        ready, hold, wm_ms = _buffer_merge(
            state, batches, ts, out_cols, in_schema, n_logic=2)
        if ready.ts_us:
            seqs, last_us, seq = session_pass(ready.ts_us, last_us, seq)
            out = pd.DataFrame({
                c: _dec_series(ready.cols[i], in_schema[c].dataType)
                for i, c in enumerate(out_cols)
            })
            out[seq_col] = seqs
            yield out[out_names]
        _store_and_arm(state, (last_us, seq), hold, wm_ms)

    if ordered or not df.isStreaming:
        is_time = isinstance(in_schema[ts].dataType,
                             (T.TimestampType, T.TimestampNTZType))
        src = df.withWatermark(ts, watermark) if (df.isStreaming and is_time) else df
        return src.groupBy(key).applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    _require_ooo_supported(df, out_cols, ts)
    state_schema = T.StructType(
        list(_STATE_SCHEMA.fields) + _carry_state_fields(out_cols, in_schema)
    )
    return df.withWatermark(ts, watermark).groupBy(key).applyInPandasWithState(
        fn_ooo,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_time_window_exact_rows(
    df: DataFrame,
    size: int,
    step: int,
    key: str = "conv_id",
    ts: str = "ts",
    out_cols: tuple[str, ...] = ("conv_id", "turn_idx", "ts"),
    wstart_col: str = "wstart",
    watermark: str = "30 minutes",
    ordered: bool = True,
) -> DataFrame:
    """EXACT Towhee time_window semantics on an unbounded stream, as a
    row-labelling fan-out: every arriving turn is emitted once per window
    [k·step, k·step + size) that contains it under the buffer's gap-realign
    rule — the streaming face of the batch closed-form recurrence
    (pipeline._compile_time_window exact path; ref _time_window.py:54-99).

    The recurrence state per key is tiny — (previous event ms, running
    realign base) — so it fits GroupState exactly like the sessionizer's.
    Windows the realignment skips are never emitted; downstream aggregation
    (groupBy key, wstart) is the caller's, so the op composes with plain
    streaming aggregates. ``ordered=False`` adds the watermark-sorted state
    buffer (module docstring)."""
    import math  # noqa: PLC0415

    size_ms, step_ms = size * 1000.0, step * 1000.0
    in_schema = df.schema  # bound locally: closures must not capture df
    out_schema = T.StructType(
        [in_schema[c] for c in out_cols] + [T.StructField(wstart_col, T.LongType())]
    )
    out_names = [f.name for f in out_schema.fields]
    state_schema = T.StructType([
        T.StructField("last_ms", T.DoubleType()),
        T.StructField("base", T.DoubleType()),
    ])

    def windows_of(t_ms: float, last_ms, base: float):
        """One recurrence step: window ids for this row + new state.
        Mirrors the batch expressions term for term (float floor math)."""
        if last_ms is None:
            thr = size_ms
        else:
            prev_base = math.floor(last_ms / step_ms) * step_ms
            thr = (prev_base
                   + (step_ms if last_ms - prev_base < size_ms else 0.0)
                   + size_ms)
        if t_ms >= thr:
            base = max(base, math.floor(t_ms / step_ms) * step_ms)
        hi = int(math.floor(t_ms / step_ms))
        lo = max(int(math.floor((t_ms - size_ms) / step_ms)) + 1, 0,
                 int(base // step_ms))
        return range(lo, hi + 1), t_ms, base

    def label_pass(ms_list, row_vals: list[list], last_ms, base):
        """ms_list event-time-ordered; row_vals one list per out col."""
        out: dict[str, list] = {c: [] for c in out_names}
        for j, t_ms in enumerate(ms_list):
            wids, last_ms, base = windows_of(float(t_ms), last_ms, base)
            for wid in wids:
                for c, col in zip(out_cols, row_vals):
                    out[c].append(col[j])
                out[wstart_col].append(wid * step)
        return out, last_ms, base

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        last_ms, base = state.get if state.exists else (None, 0.0)
        chunks = [pdf for pdf in batches if len(pdf)]
        for pdf in ([pd.concat(chunks)] if len(chunks) > 1 else chunks):
            # whole-group sort: chunk-local sorts break ordering for >10k-row
            # per-key batches (code-review finding)
            pdf = pdf.sort_values(ts, kind="mergesort")
            if pd.api.types.is_datetime64_any_dtype(pdf[ts]):
                ms = (_ts_us(pdf, ts) / 1000.0).tolist()
            else:  # numeric ts: epoch-MILLISECONDS — Towhee's unit, same as
                # the batch exact path (pipeline._compile_time_window)
                ms = pdf[ts].astype("float64").tolist()
            out, last_ms, base = label_pass(
                ms, [pdf[c].tolist() for c in out_cols], last_ms, base)
            if out[wstart_col]:
                yield pd.DataFrame(out, columns=out_names)
        state.update((last_ms, base))

    def fn_ooo(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        last_ms, base = (state.get[0], state.get[1]) if state.exists else (None, 0.0)
        ready, hold, wm_ms = _buffer_merge(
            state, batches, ts, out_cols, in_schema, n_logic=2)
        if ready.ts_us:
            out, last_ms, base = label_pass(
                [t / 1000.0 for t in ready.ts_us],
                [_dec_list(ready.cols[i], in_schema[c].dataType)
                 for i, c in enumerate(out_cols)],
                last_ms, base)
            if out[wstart_col]:
                yield pd.DataFrame(out, columns=out_names)
        _store_and_arm(state, (last_ms, base), hold, wm_ms)

    if ordered or not df.isStreaming:
        is_time = isinstance(in_schema[ts].dataType,
                             (T.TimestampType, T.TimestampNTZType))
        src = df.withWatermark(ts, watermark) if (df.isStreaming and is_time) else df
        return src.groupBy(key).applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    _require_ooo_supported(df, out_cols, ts)
    ooo_state = T.StructType(
        list(state_schema.fields) + _carry_state_fields(out_cols, in_schema)
    )
    return df.withWatermark(ts, watermark).groupBy(key).applyInPandasWithState(
        fn_ooo,
        outputStructType=out_schema,
        stateStructType=ooo_state,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_locf_rows(
    df: DataFrame,
    cols: tuple[str, ...] = ("tool",),
    key: str = "conv_id",
    ts: str = "ts",
    out_cols: tuple[str, ...] = ("conv_id", "turn_idx", "ts"),
    suffix: str = "_ff",
    watermark: str = "30 minutes",
    ordered: bool = True,
) -> DataFrame:
    """Streaming last-observation-carried-forward: per-key state carries the
    last non-null value of each ``cols`` across micro-batches, so every
    arriving row gets its backfilled features incrementally — the streaming
    face of temporal.locf (north_rule backfill on unbounded transcripts).

    State schema: one nullable string slot per filled column (values are
    carried in their string form; cast downstream if needed).
    ``ordered=False`` adds the watermark-sorted buffer (module docstring)."""
    state_schema = T.StructType(
        [T.StructField(f"last_{c}", T.StringType()) for c in cols]
    )
    in_schema = df.schema  # bound locally: closures must not capture df
    out_schema = T.StructType(
        [in_schema[c] for c in out_cols]
        + [T.StructField(f"{c}{suffix}", T.StringType()) for c in cols]
    )
    out_names = [f.name for f in out_schema.fields]
    carry = list(out_cols) + [c for c in cols if c not in out_cols]

    def locf_pass(col_seqs, last):
        """col_seqs: per fill-col list of raw values in event-time order."""
        filled = [[] for _ in cols]
        n = len(col_seqs[0]) if cols else 0
        for j in range(n):
            for i in range(len(cols)):
                v = col_seqs[i][j]
                if v is not None and v == v:  # non-null, non-NaN
                    last[i] = str(v)
                filled[i].append(last[i])
        return filled, last

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        last = list(state.get) if state.exists else [None] * len(cols)
        chunks = [pdf for pdf in batches if len(pdf)]
        for pdf in ([pd.concat(chunks)] if len(chunks) > 1 else chunks):
            # whole-group sort (see sessionize fn: chunk-local sorts break
            # ordering for large per-key batches)
            pdf = pdf.sort_values(ts, kind="mergesort")
            filled, last = locf_pass([pdf[c].tolist() for c in cols], last)
            out = pdf[list(out_cols)].copy()
            for c, vals in zip(cols, filled):
                out[f"{c}{suffix}"] = vals
            yield out[out_names]
        state.update(tuple(last))

    def fn_ooo(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        last = list(state.get[: len(cols)]) if state.exists else [None] * len(cols)
        ready, hold, wm_ms = _buffer_merge(
            state, batches, ts, carry, in_schema, n_logic=len(cols))
        if ready.ts_us:
            idx = {c: i for i, c in enumerate(carry)}
            filled, last = locf_pass(
                # decode cells first: a timestamp fill col must stringify as
                # its Timestamp form, not its buffered epoch-µs int
                [_dec_list(ready.cols[idx[c]], in_schema[c].dataType)
                 for c in cols], last)
            out = pd.DataFrame({
                c: _dec_series(ready.cols[idx[c]], in_schema[c].dataType)
                for c in out_cols
            })
            for c, vals in zip(cols, filled):
                out[f"{c}{suffix}"] = vals
            yield out[out_names]
        _store_and_arm(state, tuple(last), hold, wm_ms)

    if ordered or not df.isStreaming:
        is_time = isinstance(in_schema[ts].dataType,
                             (T.TimestampType, T.TimestampNTZType))
        src = df.withWatermark(ts, watermark) if (df.isStreaming and is_time) else df
        return src.groupBy(key).applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    _require_ooo_supported(df, carry, ts)
    ooo_state = T.StructType(
        list(state_schema.fields) + _carry_state_fields(carry, in_schema)
    )
    return df.withWatermark(ts, watermark).groupBy(key).applyInPandasWithState(
        fn_ooo,
        outputStructType=out_schema,
        stateStructType=ooo_state,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
