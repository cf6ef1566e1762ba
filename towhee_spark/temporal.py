"""Temporal relational core: as-of join, lag/lead, LOCF/backfill, sessionize.

These are the operators Towhee lacks entirely (its only multi-input node is
positional `concat`, towhee/runtime/nodes/_concat.py:20-66; it has no joins,
no keyed windows — SURVEY.md §2.2) and that the north_rule requires.

Design notes (scale-first):

* Every as-of join runs ONE sweep (``_asof_sweep``): tag the left and
  right rows, union, and compute ``last(payload, ignorenulls=True)`` over a
  window partitioned by the join keys and ordered by (ts, side-tag).  This
  costs exactly ONE shuffle (the window partition), stays entirely
  JVM-side (whole-stage codegen; zero Python), and AQE handles
  partition-size skew. ``asof_join`` (one right side),
  ``point_in_time_enrich`` (K right sides, one window) and
  ``asof_join_chunked`` (the sweep also partitioned by a time chunk) are
  thin callers of it.
* All window-based ops share one canonical ordering — ``(ts, turn_idx)`` by
  default — so a single sort per stage serves every operator fused into it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SRC = "__asof_src"
_PAY = "__asof_pay"
_CHUNK = "__asof_chunk"


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def epoch_us(col: Column | str) -> Column:
    """Exact integer epoch-µs from the timestamp's WALL-CLOCK fields —
    session-timezone-independent by construction.

    Parquet scans yield TIMESTAMP_NTZ; ``unix_micros(cast(ntz as
    timestamp))`` would interpret the naive value in the SESSION timezone
    (measured: shifts by the tz offset under a non-UTC session), while the
    DuckDB oracle's epoch_us treats naive values as UTC. Recombining
    date/hour/minute/second fields matches the oracle under ANY session tz.
    """
    c = F.col(col) if isinstance(col, str) else col
    days = F.unix_date(c.cast("date")).cast("long")
    sec = F.date_part(F.lit("SECOND"), c)  # decimal(8,6): seconds + µs
    return (
        days * F.lit(86_400_000_000)
        + F.hour(c).cast("long") * F.lit(3_600_000_000)
        + F.minute(c).cast("long") * F.lit(60_000_000)
        + (sec * F.lit(1_000_000)).cast("long")
    )


def pandas_epoch_us(tsv) -> "pd.Series":  # noqa: F821
    """Epoch-µs int64 from a pandas datetime series WITHOUT assuming
    nanosecond resolution: Arrow-backed pandas frames (as delivered to
    applyInPandas/WithState kernels) may carry datetime64[us]/[ms]/[s] —
    a hard-coded ``// 1000`` would be off by 1000× there. The divisor is
    derived from the dtype unit."""
    unit = getattr(tsv.dtype, "unit", "ns")
    mult = {"s": 10**6, "ms": 10**3, "us": 1, "ns": 1}[unit]
    div = 10**3 if unit == "ns" else 1
    return tsv.astype("int64") * mult // div


def _is_temporal(dt) -> bool:
    """Timestamp, timestamp_ntz or date: time math runs on exact epoch-µs
    (:func:`epoch_us`); any other ts type is used as a raw number."""
    return isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))


def _orderable(dt) -> bool:
    """Conservative recursive check that a type supports Spark ordering —
    the asof payload tie-break and the chunked carry's max/min-struct both
    need it. Arrays/binaries are excluded conservatively (matches the
    historical top-level guard); maps are never orderable; structs recurse
    (a struct<... map ...> is NOT orderable even though its top level is)."""
    if isinstance(dt, (T.MapType, T.ArrayType, T.BinaryType)):
        return False
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _chunk_id(ts: str, dtype, chunk_seconds: float) -> Column:
    """Deterministic value-based time-chunk id: epoch-µs buckets for
    temporal ts columns; for NUMERIC ts columns the raw value is bucketed
    directly (``chunk_seconds`` then shares the column's unit) — plain
    locf/asof support numeric ts, so the chunked variants must too."""
    if _is_temporal(dtype):
        return F.floor(epoch_us(ts) / F.lit(int(chunk_seconds * 1_000_000)))
    return F.floor(F.col(ts).cast("double") / F.lit(float(chunk_seconds)))


def _time_value(col: Column, dtype) -> Column:
    """Numeric time for tolerance/gap math: µs for timestamps (exact int),
    the raw value for numeric ts columns."""
    if _is_temporal(dtype):
        return epoch_us(col)
    return col.cast("double")


def _asof_outputs(left_cols: Sequence[str], sides) -> list[list[tuple[str, str]]]:
    """Output names of every as-of right side, collisions raised up front
    with one message. ``sides`` holds one (label, value columns, suffix,
    matched-ts column or None, fix hint) per right side; returns each
    side's [(value column, output name)]."""
    seen = {c: "the left columns" for c in left_cols}
    out = []
    for label, rcols, sfx, matched, hint in sides:
        pairs = [(c, c + sfx) for c in rcols]
        for o in [o for _, o in pairs] + ([matched] if matched else []):
            if o in seen:
                raise ValueError(
                    f"output column {o!r} from {label} collides with "
                    f"{seen[o]}; pass {hint} (or rename) to disambiguate")
            seen[o] = label
        out.append(pairs)
    return out


def _sweep_window(keys: list[str], ts: str, pay_types: dict, backward: bool,
                  allow_exact_matches: bool, chunk: str | None = None):
    """The as-of sweep window and its tie rule. Rows run in time order
    (reversed for forward); at equal ts a right row (``_SRC=0``) lands in
    the left row's running frame iff exact matches are allowed. Duplicate
    right (key, ts) rows then order by their payload struct (lexicographic
    over its fields), so ``last`` resolves them to the MAX payload backward
    and the MIN forward — the resolutions the chunked carry's max/min
    struct can express. Other sides' payloads are NULL on a row, which
    nulls_first/nulls_last keeps neutral. Unorderable payloads (checked
    recursively: a struct<... map> fails too) skip the tie-break."""
    tie = F.col(_SRC).asc() if allow_exact_matches else F.col(_SRC).desc()
    order = [F.col(ts).asc() if backward else F.col(ts).desc(), tie]
    order += [F.col(p).asc_nulls_first() if backward else F.col(p).desc_nulls_last()
              for p, dt in pay_types.items() if _orderable(dt)]
    return (
        Window.partitionBy(*keys, *([chunk] if chunk else []))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _asof_sweep(left: DataFrame, sides: dict, keys: list[str], ts: str,
                allow_exact_matches: bool, sweeps: dict[str, bool],
                chunk_seconds: float | None = None) -> tuple[DataFrame, DataFrame]:
    """The one as-of sweep behind asof_join, asof_join_chunked and
    point_in_time_enrich.

    Union-tag frame: left rows carry ``_SRC=1``; each right side
    (``sides``: payload column -> (frame, [(value column, output name)]))
    contributes keys, ts, ``_SRC=0`` and ONE struct payload (``__rts``,
    outputs...), so a match attaches the nearest right row ATOMICALLY
    (per-column ignorenulls fills would skip a null inside the nearest row
    and mix columns of different rows). Every other column is NULL-cast on
    each side. ``chunk_seconds`` adds the value-based ``_CHUNK`` column,
    which then also partitions the sweep.

    Returns the union and the swept frame: the union with each payload
    ``p`` replaced by ``p + suffix`` = ``last(p, ignorenulls)`` over the
    :func:`_sweep_window` of each ``sweeps`` item (suffix -> backward). All
    payloads of one direction share ONE window spec, so K sides plan one
    WindowExec; two directions share the exchange and sort twice."""
    kts = set(keys) | {ts}
    extra = [c for c in left.columns if c not in kts]
    projs = {
        p: rdf.select(*keys, ts, F.lit(0).alias(_SRC), F.struct(
            F.col(ts).alias("__rts"), *[F.col(c).alias(o) for c, o in pairs]
        ).alias(p))
        for p, (rdf, pairs) in sides.items()
    }
    pay_types = {p: proj.schema[p].dataType for p, proj in projs.items()}
    u = left.select(*keys, ts, F.lit(1).alias(_SRC), *extra, *[
        F.lit(None).cast(dt).alias(p) for p, dt in pay_types.items()])
    for p, proj in projs.items():
        u = u.unionByName(proj.select(
            *keys, ts, _SRC,
            *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in extra],
            *[q if q == p else F.lit(None).cast(dt).alias(q)
              for q, dt in pay_types.items()]))
    chunk = None
    if chunk_seconds is not None:
        chunk = _CHUNK
        u = u.withColumn(chunk, _chunk_id(ts, u.schema[ts].dataType, chunk_seconds))
    windows = {sfx: _sweep_window(keys, ts, pay_types, backward,
                                  allow_exact_matches, chunk)
               for sfx, backward in sweeps.items()}
    swept = u.select(
        *[c for c in u.columns if c not in pay_types],
        *[F.last(p, ignorenulls=True).over(w).alias(p + sfx)
          for sfx, w in windows.items() for p in pay_types])
    return u, swept


def _tolerance_gate(pay: Column, ts: str, ts_type, tolerance: float | None,
                    backward: bool) -> Column:
    """The matched payload, NULL when the left row's ts or the matched ts is
    NULL (a NULL ts never matches, as in DuckDB's ASOF JOIN) or when their
    distance in time direction exceeds ``tolerance`` (seconds; ts units for
    numeric ts)."""
    rts = pay["__rts"]
    ok = rts.isNotNull() & F.col(ts).isNotNull()
    if tolerance is not None:
        tl, tr = _time_value(F.col(ts), ts_type), _time_value(rts, ts_type)
        # round, not int(): 1.001 * 1e6 is 1000999.99…
        lim = (F.lit(int(round(tolerance * 1_000_000))) if _is_temporal(ts_type)
               else F.lit(float(tolerance)))
        ok = ok & (((tl - tr) if backward else (tr - tl)) <= lim)
    return F.when(ok, pay)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    right_cols: Sequence[str] | None = None,
    suffix: str = "",
    matched_ts_col: str | None = None,
) -> DataFrame:
    """Point-in-time (as-of) join: for each left row, attach the value columns
    of the temporally nearest right row with the same key.

    direction='backward': nearest right row with ``r.ts <= l.ts``
    (``<`` when ``allow_exact_matches=False``); 'forward': nearest right row
    with ``r.ts >= l.ts``; 'nearest': whichever of the two is temporally
    closer, equal distances resolving BACKWARD (the pd.merge_asof rule;
    ``tolerance`` bounds the ABSOLUTE distance and each side is ruled out
    independently before the pick). ``tolerance`` (seconds) nulls the match
    when the time distance exceeds it.  Semantics mirror ``pd.merge_asof``;
    a row with a NULL ts never matches.

    The nearest right row is attached ATOMICALLY (a null in the matched row
    stays null — no stale per-column fill). Ties on duplicate right (key, ts)
    rows resolve deterministically when the value columns are orderable:
    backward picks the MAX payload, forward the MIN (the resolutions the
    chunked variant's struct carry can reproduce); keep the right side
    unique per (key, ts) for oracle-exact results.

    Implementation: the union-tag sweep (:func:`_asof_sweep`) — one
    shuffle, one sort, no Python ('nearest' runs BOTH sweeps over the one
    union — same exchange, two sorts — and picks per row by exact-µs
    distance).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}")
    keys = _as_list(on)
    rcols = list(right_cols) if right_cols else [
        c for c in right.columns if c not in set(keys) | {ts}
    ]
    (pairs,) = _asof_outputs(left.columns, [
        ("the right frame", rcols, suffix, matched_ts_col, "suffix='_r'")])
    sweeps = ({"_b": True, "_f": False} if direction == "nearest"
              else {"": direction == "backward"})
    _, swept = _asof_sweep(left, {_PAY: (right, pairs)}, keys, ts,
                           allow_exact_matches, sweeps)
    ts_type = swept.schema[ts].dataType
    if direction != "nearest":
        pay = _tolerance_gate(F.col(_PAY), ts, ts_type, tolerance,
                              direction == "backward")
    else:
        # each side is tolerance-ruled BEFORE the pick; the pick is exact
        # µs distance, equal distances resolving backward
        pb = _tolerance_gate(F.col(_PAY + "_b"), ts, ts_type, tolerance, True)
        pf = _tolerance_gate(F.col(_PAY + "_f"), ts, ts_type, tolerance, False)
        tl = _time_value(F.col(ts), ts_type)
        db = tl - _time_value(pb["__rts"], ts_type)
        df_ = _time_value(pf["__rts"], ts_type) - tl
        pay = F.when(pf.isNull() | (db <= df_), pb).otherwise(pf)
    res = swept.filter(F.col(_SRC) == 1).withColumn(_PAY, pay)
    matched = [F.col(_PAY)["__rts"].alias(matched_ts_col)] if matched_ts_col else []
    return res.select(*left.columns,
                      *[F.col(_PAY)[o].alias(o) for _, o in pairs], *matched)


def _order_window(key: str | Sequence[str], order: str | Sequence[str]):
    return Window.partitionBy(*_as_list(key)).orderBy(*_as_list(order))


def lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int],
    key: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Add lag/lead columns: positive offset = lag (past), negative = lead.

    Output names: ``{col}_lag{k}`` / ``{col}_lead{k}``. Single window spec →
    single sort, all offsets computed in one pass.
    """
    w = _order_window(key, order)
    for c in cols:
        for k in offsets:
            if k == 0:
                continue
            if k > 0:
                df = df.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
            else:
                df = df.withColumn(f"{c}_lead{-k}", F.lead(c, -k).over(w))
    return df


def locf(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] = ("ts", "turn_idx"),
    suffix: str = "_ff",
) -> DataFrame:
    """Last-observation-carried-forward: fill nulls from the most recent
    non-null earlier row within the key. ``suffix=''`` overwrites in place."""
    w = _order_window(key, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in cols:
        df = df.withColumn(c + suffix, F.last(c, ignorenulls=True).over(w))
    return df


def bfill(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] = ("ts", "turn_idx"),
    suffix: str = "_bf",
) -> DataFrame:
    """Backward fill: fill nulls from the nearest non-null later row.

    Implemented as a RUNNING last() over the exact-reverse order (desc,
    nulls last — the true reversal of asc, nulls first), not a
    first() over a (currentRow, unboundedFollowing) frame: Spark's
    unbounded-FOLLOWING frame re-aggregates the whole remaining
    partition per row — O(rows²) per key (measured 4.4 s → 0.7 s on
    resample_grid's 1M-row sweep) — while the reverse running frame is
    the O(rows) incremental update locf gets. Same rows, same pick."""
    keys, order_cols = _as_list(key), _as_list(order)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c).desc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in cols:
        df = df.withColumn(c + suffix, F.last(c, ignorenulls=True).over(w))
    return df


def sessionize(
    df: DataFrame,
    gap: float = 1800.0,
    key: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    out: str = "session_id",
    seq_out: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts whenever the time since
    the previous row in the key exceeds ``gap`` seconds.

    ``out`` gets ``{key}#{session_seq}``; pass ``seq_out`` to also keep the
    integer sequence. lag → boundary flag → running sum, one window sort.
    """
    keys = _as_list(key)
    w = Window.partitionBy(*keys).orderBy(ts, *order_extra)
    # exact integer µs for timestamps (oracle-parity-safe; float epoch-seconds
    # carries 16 significant digits — off-by-ulp at gap boundaries)
    if _is_temporal(df.schema[ts].dataType):
        tcol, gap_v = epoch_us(ts), F.lit(int(gap * 1_000_000))
    else:
        tcol, gap_v = F.col(ts).cast("double"), F.lit(float(gap))
    prev = F.lag(tcol).over(w)
    is_new = F.when(prev.isNull() | ((tcol - prev) > gap_v), 1).otherwise(0)
    seq = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tmp = "__sess_seq"
    df = df.withColumn(tmp, seq)
    df = df.withColumn(out, F.concat_ws("#", *[F.col(k) for k in keys], F.col(tmp).cast("string")))
    if seq_out:
        df = df.withColumn(seq_out, F.col(tmp).cast("long"))
    return df.drop(tmp)


def carry_join(
    df: DataFrame,
    carry: DataFrame,
    on: Sequence[str],
    broadcast: bool | None = True,
    how: str = "left",
) -> DataFrame:
    """Join a per-(key, time-chunk) carry frame back onto the row frame —
    the shared final step of every chunked hot-key operator.

    ``broadcast`` picks the strategy for the carry side:

    * ``True``  (default) — force a broadcast hash join. Right whenever the
      carry fits one executor: it has ONE row per (key, chunk), i.e.
      n_keys · span/chunk_seconds rows; with day chunks over a year that is
      365·n_keys — broadcastable up to ~10M distinct keys.
    * ``False`` — force a shuffled sort-merge join. Use beyond that scale
      (10^9+ carry rows would exceed broadcast/driver limits).
    * ``None``  — no hint; AQE picks from runtime sizes
      (spark.sql.adaptive.autoBroadcastJoinThreshold).

    The choice is a plan hint only — results are identical (unit-tested)."""
    if broadcast is True:
        carry = F.broadcast(carry)
    elif broadcast is False:
        carry = carry.hint("shuffle_merge")
    return df.join(carry, on=list(on), how=how)


def bfill_chunked(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    chunk_seconds: float = 86400.0,
    suffix: str = "_bf",
    order_extra: Sequence[str] = ("turn_idx",),
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """:func:`bfill` for HOT keys — the exact mirror of :func:`locf_chunked`
    with time reversed: backward fill within (key, time-chunk), then each
    chunk's trailing nulls take the FIRST non-null value of any LATER
    chunk, carried over the tiny chunk frame and joined back."""
    return _fill_chunked(df, cols, key, ts, chunk_seconds, suffix, order_extra,
                         broadcast_carry, forward=False)


def lag_lead_chunked(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int],
    key: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    chunk_seconds: float = 86400.0,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """:func:`lag_lead` for HOT keys: lag/lead within (key, time-chunk),
    with each chunk's first max-lag rows resolved from an array of the
    PRECEDING chunks' trailing rows (and the mirror for leads) — the
    boundary state is only max|offset| rows per chunk, concatenated and
    re-trimmed over the tiny chunk frame, so a mega-key fans out.

    Same output names and values as :func:`lag_lead` (nulls past the key's
    ends). Ties share a chunk (floor bucketing) like every chunked op."""
    keys = _as_list(key)
    offs = [k for k in offsets if k != 0]
    max_lag = max([k for k in offs if k > 0], default=0)
    max_lead = max([-k for k in offs if k < 0], default=0)
    chunk = "__ll_chunk"
    ts_dtype = df.schema[ts].dataType
    extras = [c for c in order_extra if c in df.columns]
    d = df.withColumn(chunk, _chunk_id(ts, ts_dtype, chunk_seconds))
    w_asc = Window.partitionBy(*keys, chunk).orderBy(F.col(ts), *extras)
    w_desc = Window.partitionBy(*keys, chunk).orderBy(
        F.col(ts).desc(), *[F.col(e).desc() for e in extras]
    )
    d = d.withColumn("__rn", F.row_number().over(w_asc))
    d = d.withColumn("__rnr", F.row_number().over(w_desc))

    # boundary rows per chunk, ascending: struct carries every needed col
    ordk = [_time_value(F.col(ts), ts_dtype).alias("o")] \
        + [F.col(e).alias(f"o{i}") for i, e in enumerate(extras)]
    val = F.struct(*ordk, *[F.col(c).alias(c) for c in cols])
    rows_sorted = F.array_sort(F.collect_list(val))

    def last_k(arr, k):
        # slice(arr, -k, k) returns EMPTY when len(arr) < k — a 1-row chunk
        # would vanish from the carry chain; positive-start form keeps it
        return F.slice(arr, F.greatest(F.size(arr) - k + 1, F.lit(1)), k)

    agg = d.groupBy(*keys, chunk).agg(
        *( [last_k(rows_sorted, max_lag).alias("__tail")] if max_lag else [] ),
        *( [F.slice(rows_sorted, 1, max_lead).alias("__head")] if max_lead else [] ),
    )
    cw_asc = Window.partitionBy(*keys).orderBy(chunk)
    cw_desc = Window.partitionBy(*keys).orderBy(F.col(chunk).desc())
    sel = [*keys, chunk]
    if max_lag:
        # last max_lag rows of ALL previous chunks (short chunks chain)
        prev_all = F.flatten(F.collect_list("__tail").over(
            cw_asc.rowsBetween(Window.unboundedPreceding, -1)))
        sel.append(last_k(prev_all, max_lag).alias("__prev"))
    if max_lead:
        nxt_parts = F.collect_list("__head").over(
            cw_desc.rowsBetween(Window.unboundedPreceding, -1))
        # collected in DESC chunk order → reverse to ascending, trim to front
        nxt = F.slice(F.flatten(F.reverse(nxt_parts)), 1, max_lead)
        sel.append(nxt.alias("__next"))
    carry = agg.select(*sel)
    out = carry_join(d, carry, [*keys, chunk], broadcast=broadcast_carry)

    for c in cols:
        for k in offs:
            if k > 0:
                local = F.lag(c, k).over(w_asc)
                L = F.size("__prev")
                fallback = F.element_at("__prev", L - k + F.col("__rn"))[c]
                cond_local = F.col("__rn") > k
                cond_carry = (L - k + F.col("__rn")) >= 1
                out = out.withColumn(
                    f"{c}_lag{k}",
                    F.when(cond_local, local).otherwise(
                        F.when(cond_carry, fallback)
                    ),
                )
            else:
                o = -k
                local = F.lead(c, o).over(w_asc)
                M = F.size("__next")
                idx = o - F.col("__rnr") + 1
                fallback = F.element_at("__next", idx)[c]
                out = out.withColumn(
                    f"{c}_lead{o}",
                    F.when(F.col("__rnr") > o, local).otherwise(
                        F.when(idx <= M, fallback)
                    ),
                )
    drops = [chunk, "__rn", "__rnr"]
    if max_lag:
        drops.append("__prev")
    if max_lead:
        drops.append("__next")
    return out.drop(*drops)


def sessionize_chunked(
    df: DataFrame,
    gap: float = 1800.0,
    key: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    out: str = "session_id",
    seq_out: str | None = None,
    chunk_seconds: float = 86400.0,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """:func:`sessionize` for HOT keys — the same gap logic computed per
    (key, time-chunk) with a tiny carry, so a mega-conversation fans out
    instead of serializing its lag + running-sum onto one task.

    The recurrence state between consecutive rows is just the previous
    event time, and the session sequence is a running SUM of boundary
    flags — both chunk cleanly: per-chunk aggregates carry (last event
    time, count of in-chunk boundaries); the tiny chunk frame resolves
    each chunk's head-row boundary against the carried predecessor and
    prefix-sums the session counts; rows then combine carried base + local
    running sum. Ties always share a chunk (floor bucketing). Same results
    as :func:`sessionize`; two shuffles + one carry join."""
    keys = _as_list(key)
    dtype = df.schema[ts].dataType
    if _is_temporal(dtype):
        tcol, gap_v = epoch_us(ts), F.lit(int(gap * 1_000_000))
    else:
        tcol, gap_v = F.col(ts).cast("double"), F.lit(float(gap))
    ck = "__sess_ck"
    extras = [c for c in order_extra if c in df.columns]
    d = df.withColumn("__t", tcol).withColumn(ck, _chunk_id(ts, dtype, chunk_seconds))
    w_local = Window.partitionBy(*keys, ck).orderBy(F.col(ts), *extras)
    prev_local = F.lag("__t").over(w_local)
    is_new_local = F.when(
        prev_local.isNotNull() & ((F.col("__t") - prev_local) > gap_v), 1
    ).otherwise(0)  # head rows resolve against the carried predecessor below
    d = d.withColumn("__new_loc", is_new_local)

    agg = d.groupBy(*keys, ck).agg(
        F.min("__t").alias("__first"),
        F.max("__t").alias("__last"),
        F.sum("__new_loc").alias("__n_loc"),
    )
    cw = Window.partitionBy(*keys).orderBy(ck)
    cagg = (
        agg.withColumn("__prev_last", F.lag("__last").over(cw))
        .withColumn(
            "__new_1",
            F.when(
                F.col("__prev_last").isNull()
                | ((F.col("__first") - F.col("__prev_last")) > gap_v),
                1,
            ).otherwise(0),
        )
    )
    carry = cagg.select(
        *keys, ck, "__new_1",
        F.coalesce(
            F.sum(F.col("__n_loc") + F.col("__new_1")).over(
                cw.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__base"),
    )
    joined = carry_join(d, carry, [*keys, ck], broadcast=broadcast_carry)
    head = F.row_number().over(w_local) == 1
    eff_new = F.when(head, F.col("__new_1")).otherwise(F.col("__new_loc"))
    run = F.sum(eff_new).over(
        w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tmp = "__sess_seq"
    res = joined.withColumn(tmp, (F.col("__base") + run).cast("long"))
    res = res.withColumn(
        out, F.concat_ws("#", *[F.col(k) for k in keys], F.col(tmp).cast("string"))
    )
    if seq_out:
        res = res.withColumn(seq_out, F.col(tmp).cast("long"))
    return res.drop(tmp, ck, "__t", "__new_loc", "__new_1", "__base")


def chunked_row_number(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    chunk_span: float,
    extra_order: Sequence = (),
    out: str = "__idx",
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """0-based per-key row index WITHOUT a bare-key window — the hot-key
    lever for COUNT-based windows (row_number over Window.partitionBy(key)
    serializes a mega-key onto one task exactly like LOCF/time_window did):
    local row_number per (key, value-chunk of ``ts``) + an exclusive
    prefix-sum of per-chunk counts over the tiny chunk frame, carried back
    with :func:`carry_join`. Ties always share a chunk (floor bucketing),
    so tie handling matches the global window's. ``chunk_span`` is seconds
    for temporal ``ts``, the column's own unit for numeric ``ts``."""
    ck = _chunk_id(ts, df.schema[ts].dataType, chunk_span)
    df2 = df.withColumn("__crn_ck", ck)
    w_local = Window.partitionBy(*keys, "__crn_ck").orderBy(F.col(ts), *extra_order)
    counts = df2.groupBy(*keys, "__crn_ck").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy(*keys).orderBy("__crn_ck")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        *keys, "__crn_ck",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    joined = carry_join(
        df2.withColumn("__lrn", F.row_number().over(w_local)),
        offs, [*keys, "__crn_ck"], broadcast=broadcast_carry,
    )
    return (
        joined.withColumn(out, (F.col("__off") + F.col("__lrn") - 1).cast("long"))
        .drop("__crn_ck", "__lrn", "__off")
    )


def locf_chunked(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    chunk_seconds: float = 86400.0,
    suffix: str = "_ff",
    order_extra: Sequence[str] = ("turn_idx",),
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """LOCF for HOT keys: value-chunked two-pass fill, 100% JVM.

    Plain :func:`locf` windows on the key alone — correct, but one task
    must process an entire key's rows, so a mega-conversation (the Zipf
    head at 10^12 turns) serializes on one core. Here the window partitions
    on (key, time-chunk): ``chunk = floor(epoch_us(ts) / chunk_seconds)``
    bounds every group regardless of conversation size, and chunking by
    VALUE (not spark_partition_id) keeps the plan deterministic across
    re-executions.

    Pass 1: LOCF within (key, chunk) — parallel across chunks of one key.
    Pass 2: per-(key, chunk) last non-null values (order-independent
    max-struct aggregate, a few rows per chunk) are LOCF'd ACROSS chunks
    with a second tiny window, then broadcast-joined back to fill each
    chunk's leading nulls. Two shuffles total, no Python, no single-key
    serialization point.
    """
    return _fill_chunked(df, cols, key, ts, chunk_seconds, suffix, order_extra,
                         broadcast_carry, forward=True)


def _fill_chunked(df, cols, key, ts, chunk_seconds, suffix, order_extra,
                  broadcast_carry, forward: bool) -> DataFrame:
    """The shared body of :func:`locf_chunked` (``forward``) and
    :func:`bfill_chunked` (time reversed: desc order, min struct, carry
    from later chunks)."""
    keys = _as_list(key)
    chunk = "__locf_chunk" if forward else "__bf_chunk"
    ts_dtype = df.schema[ts].dataType
    df2 = df.withColumn(chunk, _chunk_id(ts, ts_dtype, chunk_seconds))

    def along(c):  # time order (forward) or its exact reverse (backward)
        return F.col(c) if forward else F.col(c).desc()

    extras = [c for c in order_extra if c in df.columns]
    # running frame in fill order — for bfill the reverse running frame is
    # the O(rows) form; an unbounded-FOLLOWING frame re-aggregates the tail
    # per row
    w_local = (
        Window.partitionBy(*keys, chunk)
        .orderBy(along(ts), *[along(e) for e in extras])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = df2
    for c in cols:
        filled = filled.withColumn(c + suffix, F.last(c, ignorenulls=True).over(w_local))

    # per-(key, chunk) edge non-null per column (the last for locf, the
    # first for bfill), order-independent max/min-struct aggregate
    def edge_nonnull(c):
        ordk = [_time_value(F.col(ts), ts_dtype).alias("o")] \
            + [F.col(e).alias(f"o{i}") for i, e in enumerate(extras)]
        st = F.when(F.col(c).isNotNull(), F.struct(*ordk, F.col(c).alias("v")))
        return (F.max(st) if forward else F.min(st))["v"].alias(c + "__edge")

    chunk_edges = df2.groupBy(*keys, chunk).agg(*[edge_nonnull(c) for c in cols])
    # carry INTO each chunk = fill of edges over STRICTLY EARLIER chunks in
    # fill order
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(along(chunk))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = chunk_edges.select(
        *keys,
        chunk,
        *[
            F.last(c + "__edge", ignorenulls=True).over(w_carry).alias(c + "__carry")
            for c in cols
        ],
    )
    out = carry_join(filled, carry, keys + [chunk], broadcast=broadcast_carry)
    for c in cols:
        out = out.withColumn(
            c + suffix, F.coalesce(F.col(c + suffix), F.col(c + "__carry"))
        ).drop(c + "__carry")
    return out.drop(chunk)


def asof_join_chunked(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    right_cols: Sequence[str] | None = None,
    suffix: str = "",
    chunk_seconds: float = 86400.0,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """As-of join for HOT keys: the :func:`asof_join` sweep partitioned on
    (key, time-chunk) so no single conversation serializes one task, plus a
    tiny cross-chunk carry (the nearest right payload from earlier/later
    chunks, LOCF'd over chunk ids and broadcast back).

    Time ties always share a chunk (floor bucketing), so exact/strict tie
    semantics are handled entirely in the local sweep; the carry only ever
    supplies strictly-earlier (backward) / strictly-later (forward) rows.
    Same result as :func:`asof_join`; two shuffles + one broadcast.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = _as_list(on)
    rcols = list(right_cols) if right_cols else [
        c for c in right.columns if c not in set(keys) | {ts}
    ]
    (pairs,) = _asof_outputs(left.columns, [
        ("the right frame", rcols, suffix, None, "suffix='_r'")])
    backward = direction == "backward"
    u, swept = _asof_sweep(left, {_PAY: (right, pairs)}, keys, ts,
                           allow_exact_matches, {"": backward}, chunk_seconds)
    if not _orderable(u.schema[_PAY].dataType):
        raise ValueError(
            "asof_join_chunked requires ORDERABLE right value columns (no "
            "arrays/maps/binaries): the order-independent cross-chunk carry "
            "is a max/min over (ts, payload) structs. Use asof_join for "
            "unorderable payloads."
        )

    # cross-chunk carry: per (key, chunk) the extreme right payload
    # (latest for backward, earliest for forward) — order-independent
    # max/min over (ts, payload) structs of RIGHT rows only, the same
    # choice the sweep's tie rule makes among duplicate (key, ts) rows.
    rext = F.when(F.col(_SRC) == 0, F.struct(F.col(ts).alias("o"), F.col(_PAY).alias("p")))
    ext = (F.max(rext) if backward else F.min(rext))["p"].alias("__ext")
    chunk_ext = u.groupBy(*keys, _CHUNK).agg(ext)
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_CHUNK).asc() if backward else F.col(_CHUNK).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = chunk_ext.select(
        *keys, _CHUNK,
        F.last("__ext", ignorenulls=True).over(w_carry).alias("__carry"),
    )

    pay = _tolerance_gate(F.coalesce(F.col(_PAY), F.col("__carry")), ts,
                          u.schema[ts].dataType, tolerance, backward)
    res = carry_join(swept.filter(F.col(_SRC) == 1), carry, keys + [_CHUNK],
                     broadcast=broadcast_carry).withColumn(_PAY, pay)
    return res.select(*left.columns, *[F.col(_PAY)[o].alias(o) for _, o in pairs])


# --------------------------------------------------------------------------
# trailing range-window aggregates (point-in-time feature aggregates)

_RA_FNS = {"count", "sum", "min", "max", "avg"}


def _range_specs(aggs: dict) -> list[tuple[str, str, str | None]]:
    out = []
    for name, spec in aggs.items():
        fn, col = spec
        if fn not in _RA_FNS:
            raise ValueError(
                f"range_agg: unknown agg fn {fn!r} for {name!r} "
                f"(supported: {sorted(_RA_FNS)})")
        if fn == "count" and col == "*":
            col = None
        elif col is None:
            raise ValueError(f"range_agg: {name!r} ({fn}) needs a column")
        out.append((name, fn, col))
    return out


def range_agg(
    spine: DataFrame,
    events: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    window_seconds: float = 600.0,
    aggs: dict | None = None,
    include_current: bool = False,
    spine_ts: str | None = None,
    impl: str = "window",
    spine_id: str | Sequence[str] | None = None,
    broadcast_result: bool | None = None,
    chunk_seconds: float | None = None,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """Trailing range-window feature aggregates: for every spine row,
    aggregate the events whose timestamp falls in ``[spine_ts - w,
    spine_ts)`` (closed lower, open upper; ``include_current=True`` closes
    the upper bound) within the same key — the classic point-in-time
    feature ("events in the last 10 minutes as of this turn") with zero
    temporal leakage by construction: no event at or after the as-of
    point can enter the open-upper frame.

    ``aggs`` maps output name → ``(fn, col)`` with fn in count / sum /
    min / max / avg; ``("count", "*")`` counts event rows. Empty windows
    yield count 0 and NULL for sum/min/max/avg — identical to the
    ``LEFT JOIN ... GROUP BY`` formulation both here and in SQL oracles.

    Two physical strategies, identical results (unit-tested):

    * ``impl="window"`` — union-tag spine + events, ONE value-range window
      ``rangeBetween(-w_us, -1|0)`` over exact epoch-µs integers. One
      shuffle, zero Python, every agg fn. Spark evaluates a sliding range
      frame by re-scanning the in-frame buffer per output row, so cost is
      O(rows · events-per-window) per key — right when windows hold up to
      a few thousand events. Temporal ``ts`` columns only (the frame
      bounds are exact µs integers; an open upper bound has no exact
      encoding for arbitrary numeric ts).
    * ``impl="prefix"`` — running per-key prefix sums over the union of
      events and TWO probe rows per spine row (at ``ts-w`` and ``ts``,
      tie-ranked so probes read the cum strictly before their bound);
      answer = cum(hi) − cum(lo). O(n log n) regardless of window width,
      but pays 3 shuffles (sweep, probe-pair groupBy, spine join-back).
      Measured crossover (1.54M turns, local[32], ~30 s cadence): 1 h
      window (~120 ev/win) 0.50 s window-impl vs 5.61 s prefix; 6 h
      (~720 ev/win) 2.85 vs 8.38 — the window impl grows linearly with
      span, prefix stays flat, so prefix wins only once windows hold
      thousands of events. Works for numeric ts too. count/sum/avg only
      (min/max are not invertible and need the window impl). Requires
      ``spine_id`` (columns uniquely identifying spine rows, e.g.
      ``("conv_id", "turn_idx")``): probes are paired back by VALUE,
      never by a nondeterministic row id (monotonically_increasing_id is
      re-evaluated per execution — the spark_partition_id trap).

    Float sums inherit one deterministic accumulation order from the
    sweep but still differ from other engines' orders at ~1e-13 — gate
    float sums through integers or ROUND (repo float-parity rule).

    ``broadcast_result``: the prefix impl ends with a (spine ⨝ per-row
    results) join on ``spine_id``; True broadcasts the aggregated side
    (right when the spine is small vs events), False forces shuffle
    merge, None lets AQE pick.

    Skew: the window impl serializes a mega-key like any bare-key
    window. The prefix impl takes ``chunk_seconds=`` (the chunked-family
    convention): running sums become LOCAL per (key, value-chunk of ts)
    and each chunk adds an exclusive prefix carry of the tiny per-chunk
    totals frame (joined back via :func:`carry_join`, hinted by
    ``broadcast_carry``) — a mega-key fans out across its chunks with
    identical results (unit-pinned; the chunked gate shares the
    unchunked oracle).

    Reference parity: Towhee's `time_window` (towhee/runtime/nodes/
    _window.py) aggregates a stream into fixed windows; `range_agg` is the
    as-of-anchored generalization the north rule's feature vectors need.
    """
    if not aggs:
        raise ValueError("range_agg: aggs= is required (name -> (fn, col))")
    specs = _range_specs(aggs)
    keys = _as_list(on)
    s_ts = spine_ts or ts
    w = float(window_seconds)
    if w <= 0:
        raise ValueError("range_agg: window_seconds must be > 0")
    e_dtype = events.schema[ts].dataType
    s_dtype = spine.schema[s_ts].dataType
    is_time = _is_temporal(e_dtype)

    if impl == "window":
        if chunk_seconds is not None:
            raise ValueError(
                "range_agg: chunk_seconds= is the prefix impl's hot-key "
                "path (a value-range window frame cannot chunk); use "
                "impl='prefix'")
        if not is_time or not _is_temporal(s_dtype):
            raise ValueError(
                "range_agg(impl='window') needs temporal ts columns on both "
                "sides (exact µs frame bounds); use impl='prefix' for "
                "numeric ts")
        return _range_agg_window(
            spine, events, keys, ts, s_ts, w, specs, include_current)
    if impl == "prefix":
        if spine_id is None:
            raise ValueError(
                "range_agg(impl='prefix') requires spine_id= — columns that "
                "uniquely identify spine rows (probes are paired back by "
                "value, never by a nondeterministic generated row id)")
        bad = [n for n, fn, _ in specs if fn in ("min", "max")]
        if bad:
            raise ValueError(
                f"range_agg(impl='prefix'): {bad} use min/max, which are "
                f"not invertible over a prefix sweep — use impl='window'")
        return _range_agg_prefix(
            spine, events, keys, ts, s_ts, w, specs, include_current,
            _as_list(spine_id), broadcast_result, chunk_seconds,
            broadcast_carry)
    raise ValueError(f"range_agg: unknown impl {impl!r}")


def multi_range_agg(
    spine: DataFrame,
    events: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    windows: dict | None = None,
    aggs: dict | None = None,
    include_current: bool = False,
    spine_ts: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Multi-horizon trailing aggregates in ONE exchange: for every spine
    row, each agg from ``aggs`` over each trailing window from ``windows``
    (name → seconds), emitted as ``{agg}_{window}`` columns — the classic
    multi-horizon feature vector ("events in the last 10 min / 1 h / 24 h
    as of this turn") with :func:`range_agg`'s exact semantics per window
    (closed lower / open upper bound, leakage-free; count 0 and NULL
    sum/min/max/avg on empty windows).

    Scale story: calling :func:`range_agg` N times costs N union sweeps,
    N exchanges, and N−1 join-backs. Here the union frame is built ONCE
    and every window is a ``rangeBetween`` frame over the SAME
    ``partitionBy(keys).orderBy(ts)`` — Catalyst plans a single hash
    exchange and a single sort shared by all frames (pinned by
    ``tests/test_range_agg.py::test_multi_range_agg_single_exchange``).
    Per-row frame evaluation cost is bounded by the WIDEST window, same
    as the widest single-window call.

    Temporal ts columns only (exact µs frame bounds — the range_agg
    window-impl rule). Float sums inherit one deterministic accumulation
    order but still differ from other engines' orders at ~1e-13 — gate
    float sums through integers or ROUND (repo float-parity rule).

    ``direction="forward"`` flips every frame to :func:`future_agg`'s
    ``(t, t+h]`` — multi-horizon LABELS ("converted within 1 h / 24 h /
    7 d") in the same single exchange.

    Reference parity: Towhee's `time_window` (towhee/runtime/nodes/
    _window.py) aggregates one fixed window per node; a user stacks nodes
    per horizon, re-reading the stream each time. One shared sweep is the
    Spark-first re-expression.
    """
    if not aggs:
        raise ValueError(
            "multi_range_agg: aggs= is required (name -> (fn, col))")
    if not windows:
        raise ValueError(
            "multi_range_agg: windows= is required (name -> seconds)")
    specs = _range_specs(aggs)
    keys = _as_list(on)
    s_ts = spine_ts or ts
    wins = []
    for wname, wsec in windows.items():
        w = float(wsec)
        if w <= 0:
            raise ValueError(
                f"multi_range_agg: window {wname!r} must be > 0 seconds")
        wins.append((str(wname), w))
    for dt, side in ((events.schema[ts].dataType, "events"),
                     (spine.schema[s_ts].dataType, "spine")):
        if not _is_temporal(dt):
            raise ValueError(
                f"multi_range_agg needs a temporal ts column on the {side} "
                "side (exact µs frame bounds); for numeric ts run "
                "range_agg(impl='prefix') per window")
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"multi_range_agg: unknown direction {direction!r}")
    return _range_agg_window(
        spine, events, keys, ts, s_ts, wins, specs, include_current,
        direction=direction)


def future_agg(
    spine: DataFrame,
    events: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    horizon_seconds: float = 600.0,
    aggs: dict | None = None,
    include_current: bool = False,
    spine_ts: str | None = None,
    impl: str = "window",
    spine_id: str | Sequence[str] | None = None,
    broadcast_result: bool | None = None,
    chunk_seconds: float | None = None,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """Forward-horizon LABEL aggregates — :func:`range_agg`'s mirror for
    the supervision side of a feature pipeline: for every spine row,
    aggregate the events in ``(spine_ts, spine_ts + horizon]`` within the
    same key ("did the user purchase within 7 days AFTER this moment",
    "how many assistant tokens followed this user turn within 10 min").
    Features must only look back (range_agg / asof, leakage-audited);
    labels must only look FORWARD — this op is open at the as-of instant
    (``include_current=True`` closes it) and closed at the horizon, the
    exact complement of range_agg's frame, so a (feature, label) pair
    built from the same spine can never share an event.

    Same ``aggs`` contract, physical strategies and skew story as
    :func:`range_agg` — the prefix / chunked paths run range_agg's
    PROVEN sweep on negated time (forward ``(t, t+h]`` is backward
    ``[u−h, u)`` at ``u = −t``; epoch-µs magnitudes stay exact in the
    sweep's double domain, < 2^53):

    * ``impl="window"`` — one exchange, ``rangeBetween(+1, +h_us)``
      frame; cost O(rows · events-per-horizon) per key.
    * ``impl="prefix"`` — O(n log n) flat in horizon width; needs
      ``spine_id=``; count/sum/avg only; ``chunk_seconds=`` chunks the
      hot-key sweep exactly like range_agg's."""
    if not aggs:
        raise ValueError("future_agg: aggs= is required (name -> (fn, col))")
    specs = _range_specs(aggs)
    keys = _as_list(on)
    s_ts = spine_ts or ts
    h = float(horizon_seconds)
    if h <= 0:
        raise ValueError("future_agg: horizon_seconds must be > 0")
    for dt, side in ((events.schema[ts].dataType, "events"),
                     (spine.schema[s_ts].dataType, "spine")):
        if not _is_temporal(dt):
            raise ValueError(
                f"future_agg needs a temporal ts column on the {side} side "
                "(exact µs frame bounds)")
    if impl == "window":
        if chunk_seconds is not None:
            raise ValueError(
                "future_agg: chunk_seconds= is the prefix impl's hot-key "
                "path; use impl='prefix'")
        return _range_agg_window(
            spine, events, keys, ts, s_ts, h, specs, include_current,
            direction="forward")
    if impl == "prefix":
        if spine_id is None:
            raise ValueError(
                "future_agg(impl='prefix') requires spine_id= (range_agg's "
                "probe-pairing rule)")
        bad = [n for n, fn, _ in specs if fn in ("min", "max")]
        if bad:
            raise ValueError(
                f"future_agg(impl='prefix'): {bad} use min/max — not "
                f"invertible over a prefix sweep; use impl='window'")
        ev2 = events.withColumn("__fa_t", -epoch_us(ts))
        sp2 = spine.withColumn("__fa_t", -epoch_us(s_ts))
        # horizon and chunk span move to the negated-µs numeric domain
        out = _range_agg_prefix(
            sp2, ev2, keys, "__fa_t", "__fa_t", h * 1_000_000.0, specs,
            include_current, _as_list(spine_id), broadcast_result,
            None if chunk_seconds is None else chunk_seconds * 1_000_000.0,
            broadcast_carry)
        return out.drop("__fa_t")
    raise ValueError(f"future_agg: unknown impl {impl!r}")


def range_quantile(
    spine: DataFrame,
    events: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    window_seconds: float = 600.0,
    value: str = "value",
    qs: float | dict[str, float] = 0.5,
    include_current: bool = False,
    spine_ts: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Exact trailing (or forward) range-window QUANTILES: for every
    spine row, the q-quantile of ``value`` over the events in
    ``[spine_ts − w, spine_ts)`` (:func:`range_agg`'s frame; ``direction=
    "forward"`` takes :func:`future_agg`'s ``(t, t+h]``). Robust
    point-in-time features — "median latency over the last hour",
    "p90 turn length in the trailing 10 minutes" — that a mean-based
    range_agg can't express.

    Quantiles are RANK SELECTION, not interpolation: the result is the
    element at position ``ceil(q·n)`` of the window's sorted values
    (q ∈ (0, 1]; q=0.5 → lower median, q=1.0 → max). Selection returns
    an INPUT value unchanged, so results are cross-engine bit-exact even
    for doubles — no interpolation arithmetic to mirror (the repo
    float-parity rule, satisfied by construction). The rank itself is
    exact integer math: q snaps to a rational via ``Fraction(str(q))``
    and ``ceil(q·n) = (num·n + den − 1) DIV den`` (the top_quantile_by
    convention). Empty windows yield NULL; NULL values are excluded
    (the SQL aggregate rule). ``qs`` maps output name → q; a bare float
    emits one ``quantile`` column — every quantile reads the SAME sorted
    collect_list, so k quantiles cost one frame.

    Plan: one exchange (the union-tag range-frame shape shared with
    range_agg's window impl). Cost is O(rows · events-per-window · log)
    per key — quantiles need the window's value multiset, so there is no
    prefix/chunked path (ranks are not invertible over a running sum);
    for mega-keys at very wide windows, pre-aggregate values into
    integer histogram buckets (drift_psi's binning) and take the
    histogram quantile instead."""
    from fractions import Fraction  # noqa: PLC0415

    qdict = {"quantile": qs} if isinstance(qs, (int, float)) else dict(qs)
    if not qdict:
        raise ValueError("range_quantile: qs= needs at least one quantile")
    fracs = {}
    for name, qv in qdict.items():
        if not 0.0 < float(qv) <= 1.0:
            raise ValueError(
                f"range_quantile: q for {name!r} must be in (0, 1]")
        fr = Fraction(str(qv))
        fracs[name] = (fr.numerator, fr.denominator)
    if direction not in ("backward", "forward"):
        raise ValueError(f"range_quantile: unknown direction {direction!r}")
    w = float(window_seconds)
    if w <= 0:
        raise ValueError("range_quantile: window_seconds must be > 0")
    keys = _as_list(on)
    s_ts = spine_ts or ts
    for dt, side in ((events.schema[ts].dataType, "events"),
                     (spine.schema[s_ts].dataType, "spine")):
        if not _is_temporal(dt):
            raise ValueError(
                f"range_quantile needs a temporal ts column on the {side} "
                "side (exact µs frame bounds)")
    v_type = events.schema[value].dataType
    ev_wide = events.select(
        *keys, epoch_us(ts).alias("__rq_t"), F.lit(0).alias("__rq_s"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c)
          for c in spine.columns if c not in keys],
        F.when(F.col(ts).isNotNull(), F.col(value)).alias("__rq_v"),
    )
    sp_cols = [c for c in spine.columns if c not in keys]
    sp_wide = spine.select(
        *keys, epoch_us(s_ts).alias("__rq_t"), F.lit(1).alias("__rq_s"),
        *sp_cols, F.lit(None).cast(v_type).alias("__rq_v"))
    u = ev_wide.unionByName(sp_wide)
    hi = 0 if include_current else -1
    w_us = int(round(w * 1_000_000))
    bounds = (-w_us, hi) if direction == "backward" else (-hi, w_us)
    frame = (
        Window.partitionBy(*keys).orderBy("__rq_t").rangeBetween(*bounds))
    u = (
        u.withColumn(
            "__rq_l", F.sort_array(F.collect_list("__rq_v").over(frame)))
        .withColumn("__rq_n", F.size("__rq_l"))
    )
    outs = []
    for name, (num, den) in fracs.items():
        rank = F.expr(f"CAST(({num} * __rq_n + {den - 1}) DIV {den} AS INT)")
        # ANSI element_at throws out-of-bounds; the CASE branch guards it
        outs.append(
            F.when(F.col("__rq_n") > 0, F.element_at("__rq_l", rank))
            .alias(name))
    return (
        u.where(F.col("__rq_s") == 1)
        .select(*keys, *sp_cols, *outs)
    )


def _range_agg_window(spine, events, keys, ts, s_ts, w, specs,
                      include_current, direction="backward"):
    # w: a single window width in seconds, or a list of (suffix, width)
    # pairs — every pair becomes a rangeBetween frame over the SAME
    # partitionBy/orderBy (one exchange, one sort, shared by all frames);
    # output columns are named f"{agg}_{suffix}" in the multi case.
    wins = [(None, float(w))] if not isinstance(w, list) else w
    vals = []
    for i, (_, fn, col) in enumerate(specs):
        src = F.lit(1) if col is None else F.col(col)
        # NULL-ts rows form their own window peer group (they never enter
        # valid rows' range frames, but they see EACH OTHER) — null their
        # contributions so a NULL-ts spine row reports an empty window,
        # matching the SQL oracles' epoch_us band (NULL never qualifies)
        vals.append(F.when(F.col(ts).isNotNull(), src).alias(f"__ra_v{i}"))
    ev = events.select(
        *[F.col(k) for k in keys], epoch_us(ts).alias("__ra_t"),
        F.lit(0).alias("__ra_s"), *vals)
    ev_schema = ev.schema
    sp_cols = [c for c in spine.columns if c not in keys]
    ev_wide = ev.select(
        *keys, "__ra_t", "__ra_s",
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c)
          for c in sp_cols],
        *[f"__ra_v{i}" for i in range(len(specs))])
    sp_wide = spine.select(
        *keys, epoch_us(s_ts).alias("__ra_t"), F.lit(1).alias("__ra_s"),
        *sp_cols,
        *[F.lit(None).cast(ev_schema[f"__ra_v{i}"].dataType)
          .alias(f"__ra_v{i}") for i in range(len(specs))])
    u = ev_wide.unionByName(sp_wide)
    hi = 0 if include_current else -1
    out_cols = []
    for suffix, wsec in wins:
        w_us = int(round(wsec * 1_000_000))
        if direction == "backward":
            bounds = (-w_us, hi)  # [t−w, t) / [t−w, t]
        else:
            bounds = (-hi, w_us)  # (t, t+w] / [t, t+w] — open at the as-of
        frame = (
            Window.partitionBy(*keys).orderBy("__ra_t")
            .rangeBetween(*bounds))
        for i, (name, fn, _) in enumerate(specs):
            f = getattr(F, fn)(F.col(f"__ra_v{i}")).over(frame)
            if fn == "count":
                f = f.cast("long")
            out_cols.append(
                f.alias(name if suffix is None else f"{name}_{suffix}"))
    return (
        u.select(*keys, "__ra_s", *sp_cols, *out_cols)
        .where(F.col("__ra_s") == 1)
        .drop("__ra_s"))


def _range_agg_prefix(spine, events, keys, ts, s_ts, w, specs,
                      include_current, sid, broadcast_result,
                      chunk_seconds=None, broadcast_carry=True):
    e_dtype = events.schema[ts].dataType
    is_time = _is_temporal(e_dtype)
    w_off = F.lit(int(round(w * 1_000_000))) if is_time else F.lit(float(w))

    # per-event contributions: for every agg a value sum and a non-null
    # count (the count recovers SQL NULL-on-empty and builds avg)
    contrib = []
    has_ts = F.col(ts).isNotNull()  # NULL-ts events never qualify (oracle band)
    for i, (_, fn, col) in enumerate(specs):
        if col is None:
            cnt = F.when(has_ts, F.lit(1).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
            val = F.lit(0).cast("long")
        else:
            cnt = F.when(has_ts & F.col(col).isNotNull(),
                         F.lit(1).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
            val = F.coalesce(F.col(col).cast("double"), F.lit(0.0)) \
                if fn == "avg" else F.coalesce(F.col(col), F.lit(0))
            val = F.when(has_ts, val).otherwise(
                F.lit(0.0) if fn == "avg" else F.lit(0))
        contrib.append(cnt.alias(f"__ra_c{i}"))
        contrib.append(val.alias(f"__ra_x{i}"))

    sid_extra = [c for c in sid if c not in keys]
    tval = _time_value(F.col(ts), e_dtype)
    ev = events.select(
        *keys, tval.alias("__ra_t"), F.lit(1).alias("__ra_tie"),
        F.lit(None).cast("string").alias("__ra_kind"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c)
          for c in sid_extra],
        *contrib)
    ev_schema = ev.schema

    s_tval = _time_value(F.col(s_ts), spine.schema[s_ts].dataType)
    hi_tie = 2 if include_current else 0
    probes = spine.select(
        *keys, *sid_extra,
        F.explode(F.array(
            F.struct(s_tval.alias("t"), F.lit(hi_tie).alias("tie"),
                     F.lit("hi").alias("kind")),
            F.struct((s_tval - w_off).alias("t"), F.lit(0).alias("tie"),
                     F.lit("lo").alias("kind")),
        )).alias("__p"))
    null_contrib = []
    for i in range(len(specs)):
        for x in ("c", "x"):
            null_contrib.append(
                F.lit(None).cast(ev_schema[f"__ra_{x}{i}"].dataType)
                .alias(f"__ra_{x}{i}"))
    probes = probes.select(
        *keys, F.col("__p.t").alias("__ra_t"),
        F.col("__p.tie").alias("__ra_tie"),
        F.col("__p.kind").alias("__ra_kind"),
        *sid_extra, *null_contrib)

    u = ev.unionByName(probes)
    pairs = [f"__ra_{x}{i}" for i in range(len(specs)) for x in ("c", "x")]
    if chunk_seconds is None:
        sweep = (
            Window.partitionBy(*keys).orderBy("__ra_t", "__ra_tie")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cums = [F.sum(c).over(sweep).alias(f"__cum{c}") for c in pairs]
        swept = u.select(*keys, "__ra_kind", *sid_extra, *cums) \
            .where(F.col("__ra_kind").isNotNull())
    else:
        # hot-key path: LOCAL running sums per (key, value-chunk of the
        # numeric sweep time) + an exclusive prefix carry of the tiny
        # per-chunk totals (built from the UNION so every probe's chunk
        # exists even when it holds no events) — chunked_row_number's
        # shape with K summed columns. Probe rows contribute NULL to the
        # totals, so the carry is events-only by construction.
        step = (F.lit(int(round(chunk_seconds * 1_000_000))) if is_time
                else F.lit(float(chunk_seconds)))
        uc = u.withColumn("__ra_ck", F.floor(F.col("__ra_t") / step))
        w_local = (
            Window.partitionBy(*keys, "__ra_ck")
            .orderBy("__ra_t", "__ra_tie")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        local = uc.select(
            *keys, "__ra_ck", "__ra_kind", *sid_extra,
            *[F.sum(c).over(w_local).alias(f"__loc{c}") for c in pairs])
        totals = uc.groupBy(*keys, "__ra_ck").agg(
            *[F.sum(c).alias(f"__tot{c}") for c in pairs])
        w_carry = (
            Window.partitionBy(*keys).orderBy("__ra_ck")
            .rowsBetween(Window.unboundedPreceding, -1))
        carry = totals.select(
            *keys, "__ra_ck",
            *[F.coalesce(F.sum(f"__tot{c}").over(w_carry), F.lit(0))
              .alias(f"__car{c}") for c in pairs])
        swept = carry_join(
            local.where(F.col("__ra_kind").isNotNull()),
            carry, [*keys, "__ra_ck"], broadcast=broadcast_carry)
        swept = swept.select(
            *keys, "__ra_kind", *sid_extra,
            *[(F.coalesce(F.col(f"__loc{c}"), F.lit(0))
               + F.col(f"__car{c}")).alias(f"__cum{c}") for c in pairs])

    def at(kind, c):
        return F.max(F.when(F.col("__ra_kind") == kind,
                            F.coalesce(F.col(c), F.lit(0))))

    aggd = swept.groupBy(*sid).agg(*[
        x for i in range(len(specs)) for x in (
            (at("hi", f"__cum__ra_c{i}") - at("lo", f"__cum__ra_c{i}"))
            .alias(f"__n{i}"),
            (at("hi", f"__cum__ra_x{i}") - at("lo", f"__cum__ra_x{i}"))
            .alias(f"__s{i}"),
        )])
    out_cols = []
    for i, (name, fn, col) in enumerate(specs):
        n = F.col(f"__n{i}")
        s = F.col(f"__s{i}")
        if fn == "count":
            out_cols.append(n.cast("long").alias(name))
        elif fn == "sum":
            out_cols.append(F.when(n > 0, s).alias(name))
        else:  # avg
            out_cols.append(F.when(n > 0, s / n).alias(name))
    res = aggd.select(*sid, *out_cols)
    res = carry_join(spine, res, sid, broadcast=broadcast_result)
    return res


# --------------------------------------------------------------------------
# multi-table point-in-time enrichment (feature-store style)


def point_in_time_enrich(
    spine: DataFrame,
    features: dict[str, DataFrame],
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    allow_exact_matches: bool = True,
    tolerances: dict[str, float] | None = None,
    suffixes: dict[str, str] | None = None,
    matched_ts: bool = False,
) -> DataFrame:
    """Enrich a spine with the as-of (backward) nearest row from EVERY
    feature table in ONE shuffle — the feature-store "point-in-time join"
    (attach each entity's latest profile, latest score, latest context …
    as of each spine timestamp) without K sequential :func:`asof_join`
    passes, which would cost K shuffles and K sorts of the spine.

    Mechanics: :func:`_asof_sweep` with K right sides. Every
    feature table contributes its rows with ONE struct payload column
    (matched ts + value columns, NULL on all other sources); a single
    window pass partitioned by key and ordered by (ts, side-tag) computes
    ``last(payload_i, ignorenulls=True)`` for all K payloads in the same
    WindowExec. One exchange, one sort, zero Python, any K.

    Per-table semantics match :func:`asof_join` backward exactly
    (unit-pinned): ``allow_exact_matches`` controls whether a feature row
    AT the spine ts is visible (global, like the leakage rule it
    enforces); ``tolerances[name]`` (seconds, or ts units for numeric ts)
    nulls a table's match when too stale; duplicate (key, ts) rows within
    a table resolve to the MAX payload when orderable. ``matched_ts=True``
    adds a ``<name>_ts`` column per table.

    Output value columns keep their source names plus
    ``suffixes.get(name, "")``; collisions across the spine and all
    tables raise up front with the offending names.

    Scale: the union width is spine + Σ payload structs, but non-spine
    rows carry NULL structs (a null bit each in Tungsten rows), so the
    sweep shuffles roughly the sum of the inputs once — vs K sequential
    asof joins shuffling the (growing) spine K times. Skew: same story
    as asof_join; hot keys can pre-chunk via asof_join_chunked per table
    when a single mega-key dominates.
    """
    if not features:
        raise ValueError("point_in_time_enrich: features= is empty")
    keys = _as_list(on)
    sfx = suffixes or {}
    tol = tolerances or {}
    unknown = [n for n in list(sfx) + list(tol) if n not in features]
    if unknown:
        raise ValueError(
            f"point_in_time_enrich: suffixes/tolerances name(s) {unknown} "
            f"not in features {sorted(features)}")
    names = list(features)
    rcols = {n: [c for c in features[n].columns if c not in set(keys) | {ts}]
             for n in names}
    for n in names:
        if not rcols[n]:
            raise ValueError(
                f"point_in_time_enrich: feature table {n!r} has no "
                f"value columns beyond {keys}+{ts}")
    outs = _asof_outputs(spine.columns, [
        (f"table {n!r}", rcols[n], sfx.get(n, ""),
         f"{n}_ts" if matched_ts else None, f"suffixes={{{n!r}: '_{n}'}}")
        for n in names])

    paycol = {n: f"__pte_pay_{i}" for i, n in enumerate(names)}
    _, swept = _asof_sweep(
        spine, {paycol[n]: (features[n], pairs) for n, pairs in zip(names, outs)},
        keys, ts, allow_exact_matches, {"": True})
    ts_type = swept.schema[ts].dataType
    cols = list(spine.columns)
    for n, pairs in zip(names, outs):
        pay = _tolerance_gate(F.col(paycol[n]), ts, ts_type, tol.get(n), True)
        cols += [pay[o].alias(o) for _, o in pairs]
        if matched_ts:
            cols.append(pay["__rts"].alias(f"{n}_ts"))
    return swept.filter(F.col(_SRC) == 1).select(*cols)


# --------------------------------------------------------------------------
# interval containment join


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    how: str = "inner",
    chunk_seconds: float = 3600.0,
    closed: str = "both",
    max_chunks_per_interval: int = 100_000,
    suffix: str = "",
) -> DataFrame:
    """Attach every interval containing each event's timestamp: one output
    row per (event, interval) pair with ``start <= ts <= end`` (``closed``
    = 'both'|'left'|'right'|'neither' trims the bounds) and matching key —
    the third canonical temporal join next to :func:`asof_join` (nearest)
    and :func:`range_agg` (trailing aggregate). Maintenance windows,
    incident spans, session boundaries, A/B test exposure windows.

    Scale design: a naive key-equi join with the range predicate as a
    post-filter materializes the per-key cartesian first (10^4 events ×
    10^3 intervals on one hot key = 10^7 filtered pairs). Instead both
    sides are decomposed onto value-based time chunks (the
    locf_chunked/_chunk_id convention): an interval explodes to the
    chunks it spans, an event maps to exactly one chunk, and the join is
    a plain equi-join on (key, chunk) with the containment predicate
    only pruning within-chunk candidates. Pair work collapses from
    |events_k|·|intervals_k| per key to the pairs that share a chunk.

    ``chunk_seconds`` sizing: ≈ the median interval span. Each interval
    is duplicated span/chunk_seconds + 1 times; an interval spanning more
    than ``max_chunks_per_interval`` chunks fails loudly at execution via
    the in-plan assert (resize chunk_seconds — a 10^6-fold duplication is
    a config error, not a workload).
    ``F.sequence`` DESCENDS when lo > hi (repo gotcha), so inverted
    intervals (end < start) are dropped explicitly on both paths, never
    exploded backwards.

    ``how='left'`` keeps unmatched events with NULL interval columns via
    a left-anti union — two extra shuffles; default inner.

    Interval value columns keep their names + ``suffix``; collisions with
    event columns raise up front.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join: how must be inner|left, got {how!r}")
    if closed not in ("both", "left", "right", "neither"):
        raise ValueError(f"interval_join: bad closed {closed!r}")
    keys = _as_list(on)
    icols = [c for c in intervals.columns if c not in set(keys)]
    out_names = {c: c + suffix for c in icols}
    clash = [out_names[c] for c in icols if out_names[c] in events.columns]
    if clash:
        raise ValueError(
            f"interval_join: interval columns collide with event columns: "
            f"{clash}; pass suffix='_iv' (or rename)")

    e_dtype = events.schema[ts].dataType
    ck = "__iv_ck"
    ev = events.withColumn(ck, _chunk_id(ts, e_dtype, chunk_seconds))

    s_dtype = intervals.schema[start].dataType
    lo_ck = _chunk_id(start, s_dtype, chunk_seconds)
    hi_ck = _chunk_id(end, intervals.schema[end].dataType, chunk_seconds)
    n_ck = hi_ck - lo_ck + 1
    guard = F.assert_true(
        n_ck <= F.lit(max_chunks_per_interval),
        F.concat(
            F.lit(f"interval_join: an interval spans more than "
                  f"max_chunks_per_interval={max_chunks_per_interval} "
                  f"chunks of {chunk_seconds}s — raise chunk_seconds "
                  f"(span chunks: "), n_ck.cast("string"), F.lit(")")))
    iv = (
        intervals
        # inverted intervals match nothing; F.sequence would DESCEND
        .where(F.col(start) <= F.col(end))
        .select(
            *keys,
            F.col(start).alias("__iv_s"), F.col(end).alias("__iv_e"),
            *[F.col(c).alias(out_names[c]) for c in icols],
            F.explode(
                F.when(guard.isNull(), F.sequence(lo_ck, hi_ck))
            ).alias(ck))
    )

    tv = _time_value(F.col(ts), e_dtype)
    sv = _time_value(F.col("__iv_s"), s_dtype)
    ev_ = _time_value(F.col("__iv_e"), intervals.schema[end].dataType)
    lo_ok = tv >= sv if closed in ("both", "left") else tv > sv
    hi_ok = tv <= ev_ if closed in ("both", "right") else tv < ev_
    pairs = (
        ev.join(iv, on=[*keys, ck], how="inner")
        .where(lo_ok & hi_ok)
        .drop(ck, "__iv_s", "__iv_e"))
    if how == "inner":
        return pairs
    matched_keys = pairs.select(*keys, ts).distinct()
    unmatched = ev.drop(ck).join(
        matched_keys, on=[*keys, ts], how="left_anti")
    for c in icols:
        unmatched = unmatched.withColumn(
            out_names[c],
            F.lit(None).cast(intervals.schema[c].dataType))
    return pairs.unionByName(unmatched)


def validity_intervals(
    df: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Turn a change-event stream into SCD-2-style validity intervals:
    each row becomes valid from its own timestamp until JUST BEFORE the
    key's next change — ``start = ts``, ``end = lead(ts)`` with the last
    change left open (``end`` NULL = still current). Composes with
    :func:`interval_join` (label events by the dimension version valid
    when they happened — the join-side dual of :func:`asof_join`, useful
    when the versioned dimension is built once and probed many times) and
    with :func:`range_agg` spines.

    ``end`` is EXCLUSIVE by construction (the next version starts exactly
    there): probe containment with ``closed='left'``. One window (one
    shuffle), zero Python. ``order_extra`` breaks ties among equal-ts
    changes (the repo's (ts, turn_idx) convention); with ties left
    unbroken the interval chain is still well-formed but version order
    among the ties is engine-dependent.

    An open ``end`` (NULL) cannot be chunk-decomposed by interval_join
    (unbounded span — and its inverted-interval filter drops NULL
    bounds): coalesce open ends to a horizon timestamp first, e.g.
    ``F.coalesce(end_ts, F.lit(horizon))``.
    """
    keys = _as_list(on)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts), *[F.col(c) for c in order_extra])
    out = df.withColumn(start, F.col(ts)).withColumn(
        end, F.lead(ts).over(w))
    return out


def last_k_join(
    spine: DataFrame,
    events: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    k: int = 3,
    spine_id: str | Sequence[str] = ("conv_id", "turn_idx"),
    value_cols: Sequence[str] | None = None,
    spine_ts: str | None = None,
    allow_exact_matches: bool = True,
    order_extra: Sequence[str] = (),
    out: str = "ctx",
) -> DataFrame:
    """Gather the LAST ``k`` events at or before each spine row's
    timestamp (``<`` with ``allow_exact_matches=False``) into one array
    column — cross-table context assembly ("the 3 most recent context
    snapshots as of this turn"), the k-generalization of backward
    :func:`asof_join` (k=1 ≡ its match). Output: spine columns +
    ``out`` = array<struct<__rts, value cols…>> in CHRONOLOGICAL order
    (oldest of the k first — prompt order), empty array when no event
    precedes.

    One union sweep ranks events and reads each spine row's as-of rank
    rn* in the SAME window pass (rn = running count of event rows); the
    gather is then a rank-BUCKETED equi-join — each event serves targets
    with rn* ∈ [rn, rn+k−1], which spans at most two k-wide rank
    buckets, so events duplicate ≤2× and no per-key cartesian ever
    forms. collect_list holds ≤ k structs per spine row (bounded,
    sort_array-ordered — collect_list alone has no order guarantee).

    ``spine_id`` must uniquely identify spine rows (the gather pairs
    back by VALUE — the range_agg prefix convention). ``order_extra``
    breaks rank ties among equal-ts events deterministically; without it
    duplicate (key, ts) event ranks are engine-dependent (keep event
    tables unique per (key, ts) for oracle-exact results). Hot keys: the
    ranking sweep is a bare-key window (mega-key serializes — the
    chunked_row_number treatment is the escape hatch if one appears).
    """
    if k < 1:
        raise ValueError("last_k_join: k must be >= 1")
    keys = _as_list(on)
    sid = _as_list(spine_id)
    s_ts = spine_ts or ts
    rcols = list(value_cols) if value_cols else [
        c for c in events.columns if c not in set(keys) | {ts}]
    if out in spine.columns:
        raise ValueError(f"last_k_join: output column {out!r} already "
                         f"exists on the spine")
    sid_extra = [c for c in sid if c not in keys]

    pay = F.struct(F.col(ts).alias("__rts"),
                   *[F.col(c) for c in rcols])
    ev = events.select(
        *keys, F.col(ts).alias("__lk_t"), F.lit(0).alias("__lk_tie"),
        *[F.col(c) for c in order_extra],
        pay.alias("__lk_pay"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(c)
          for c in sid_extra])
    pay_t = ev.schema["__lk_pay"].dataType
    sp_tie = 1 if allow_exact_matches else -1
    sp = spine.select(
        *keys, F.col(s_ts).alias("__lk_t"), F.lit(sp_tie).alias("__lk_tie"),
        *[F.lit(None).cast(events.schema[c].dataType).alias(c)
          for c in order_extra],
        F.lit(None).cast(pay_t).alias("__lk_pay"),
        *sid_extra)
    u = ev.unionByName(sp)
    sweep = (
        Window.partitionBy(*keys)
        .orderBy("__lk_t", "__lk_tie",
                 *[F.col(c) for c in order_extra])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = u.select(
        *keys, "__lk_tie", "__lk_pay", *sid_extra,
        F.sum(F.when(F.col("__lk_tie") == 0, 1).otherwise(0))
        .over(sweep).alias("__lk_rn"))

    evr = ranked.where(F.col("__lk_tie") == 0).select(
        *keys, "__lk_rn", "__lk_pay",
        F.explode(F.array(
            F.floor((F.col("__lk_rn") - 1) / k),
            F.floor((F.col("__lk_rn") - 1) / k) + 1)).alias("__lk_b"))
    probes = ranked.where(F.col("__lk_tie") != 0).select(
        *keys, *sid_extra, F.col("__lk_rn").alias("__lk_star"),
        F.floor((F.col("__lk_rn") - 1) / k).alias("__lk_b"))
    gathered = (
        probes.join(evr, on=[*keys, "__lk_b"], how="inner")
        .where((F.col("__lk_rn") <= F.col("__lk_star"))
               & (F.col("__lk_rn") > F.col("__lk_star") - k))
        .groupBy(*sid)
        .agg(F.transform(
            F.sort_array(F.collect_list(
                F.struct(F.col("__lk_rn").alias("r"),
                         F.col("__lk_pay").alias("p")))),
            lambda x: x["p"]).alias(out)))
    res = carry_join(spine, gathered, sid, broadcast=None)
    return res.withColumn(
        out, F.coalesce(F.col(out), F.array().cast(f"array<{pay_t.simpleString()}>")))


def resample_grid(
    df: DataFrame,
    by: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    values: Sequence[str] = ("value",),
    every: float = 3600.0,
    method: str = "linear",
    max_grid_points: int = 1_000_000,
) -> DataFrame:
    """Resample each key's irregular series onto a fixed epoch-aligned
    grid: one row per (key, grid tick) for ticks that are multiples of
    ``every`` seconds inside the key's observed [min ts, max ts] span,
    with each value column linearly interpolated between its two
    neighboring observations (``method='linear'``) or carried forward
    from the last one (``method='locf'``) — the standard
    align-series-before-feature-extraction step the reference leaves to
    user map() code (towhee/runtime/nodes/_map.py:21).

    Semantics per value column, at grid time g:

    * an observation exactly at g wins (both methods);
    * linear: v = v_prev + (v_next − v_prev)·(g − t_prev)/(t_next −
      t_prev) when BOTH neighbors exist, else NULL (no extrapolation);
      the result is ROUND-6 of one multiply-add whose operand shape the
      DuckDB oracle mirrors exactly;
    * locf: v_prev (NULL before the first observation — only possible
      at the first tick when it lands exactly on min ts of another
      column);
    * duplicate (key, ts) observations resolve per column to the MAX
      value — the same direction-dependent rule asof_join backward uses
      (backward carry ⇒ MAX payload).

    Plan: per-key bounds aggregate → grid explode (guarded by an
    in-plan assert at ``max_grid_points`` ticks per key — interval_join
    convention) → union with the observations → ONE window sweep over
    (key) ordered by (time, is_grid) computing the backward carry and
    forward probe per column (two frames, one exchange). No per-row
    Python, no self-join; hot keys fan out with the series length only
    through the single sort.

    ``ts`` must be a timestamp column (epoch-µs math); a numeric ts
    would need a unit convention — convert upstream.
    """
    if method not in ("linear", "locf"):
        raise ValueError(f"resample_grid: method must be linear|locf, got {method!r}")
    if every <= 0:
        raise ValueError("resample_grid: every must be positive seconds")
    keys = _as_list(by)
    vals = _as_list(values)
    dtype = df.schema[ts].dataType
    if not _is_temporal(dtype):
        raise ValueError(
            f"resample_grid: ts column {ts!r} must be a timestamp "
            f"(got {dtype.simpleString()}) — numeric time axes need a unit "
            f"convention; convert to timestamp upstream")
    every_us = int(round(every * 1_000_000))

    # duplicate-(key, ts) observations resolve per column to MAX (the
    # asof_join backward rule) and the series becomes unique on (key, us)
    obs = (
        df.select(*keys, epoch_us(ts).alias("__rg_us"), *vals)
        .where(F.col("__rg_us").isNotNull())
        .groupBy(*keys, "__rg_us")
        .agg(*[F.max(v).alias(v) for v in vals])
    )

    bounds = obs.groupBy(*keys).agg(
        F.min("__rg_us").alias("__mn"), F.max("__rg_us").alias("__mx"))
    start = F.floor((F.col("__mn") + every_us - 1) / every_us) * every_us
    end = F.floor(F.col("__mx") / every_us) * every_us
    n_ticks = (end - start) / every_us + 1
    guard = F.assert_true(
        n_ticks <= F.lit(max_grid_points),
        F.concat(
            F.lit(f"resample_grid: a key spans more than max_grid_points="
                  f"{max_grid_points} ticks of {every}s — raise every ("
                  f"ticks: "), n_ticks.cast("string"), F.lit(")")))
    grid = (
        bounds.withColumn("__s", start).withColumn("__e", end)
        # a key whose span contains no aligned tick emits no grid rows;
        # F.sequence would DESCEND on s > e (repo gotcha)
        .where(F.col("__s") <= F.col("__e"))
        .select(*keys, F.explode(
            F.when(guard.isNull(),
                   F.sequence(F.col("__s"), F.col("__e"),
                              F.lit(every_us)))).alias("__rg_us"))
        .withColumn("__rg_grid", F.lit(1))
    )
    ev = obs.withColumn("__rg_grid", F.lit(0))
    u = ev.unionByName(grid, allowMissingColumns=True)

    # one partitioning, one order: grid ticks sort AFTER an observation at
    # the same µs, so the backward frame sees an exact-time observation
    # and the forward frame never does (strict next)
    wb = (
        Window.partitionBy(*keys)
        .orderBy("__rg_us", "__rg_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward probe = running last() over the exact-REVERSE order (the
    # bfill form): an unbounded-FOLLOWING first() frame re-aggregates
    # the partition tail per row — O(rows²) per key, measured 4.4 s on
    # this 1M-row sweep vs 0.7 s for the reverse running frame. (key,
    # __rg_us, __rg_grid) is unique, so the reversal is a true total-
    # order flip and the picked row is identical.
    wf = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__rg_us").desc(), F.col("__rg_grid").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u
    for v in vals:
        carry = F.when(
            F.col(v).isNotNull(),
            F.struct(F.col("__rg_us").alias("u"), F.col(v).alias("x")))
        out = out.withColumn(f"__p_{v}", F.last(carry, ignorenulls=True).over(wb))
        if method == "linear":
            out = out.withColumn(
                f"__n_{v}", F.last(carry, ignorenulls=True).over(wf))
    g = F.col("__rg_us")
    res = out.where(F.col("__rg_grid") == 1)
    for v in vals:
        p, n = F.col(f"__p_{v}"), F.col(f"__n_{v}")
        if method == "locf":
            expr = F.col(f"__p_{v}")["x"]
        else:
            w = (g - p["u"]).cast("double") / (n["u"] - p["u"]).cast("double")
            expr = F.when(p["u"] == g, p["x"]).otherwise(
                F.round(p["x"] + (n["x"] - p["x"]) * w, 6))
        res = res.withColumn(v, expr)
    return res.select(*keys, F.col("__rg_us").alias("grid_us"), *vals)


def ewma(
    df: DataFrame,
    by: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    col: str = "value",
    alpha: float = 0.3,
    w: int = 32,
    order_extra: Sequence[str] = (),
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key, the
    ``adjust=True`` (self-normalizing) form over the trailing ``w``
    observations:

        ewma_i = Σ_{k<m} (1−α)^k · x_{i−k}  /  Σ_{k<m} (1−α)^k

    with m = min(i+1, w) — pandas ``ewm(alpha).mean()`` truncated to a
    ``w``-deep tail. Truncation error is bounded by (1−α)^w (≤ 1e-5 at
    the α = 0.3, w = 32 defaults); the payoff is an EXACT distributed
    formulation: the true recurrence is a sequential scan Spark has no
    native operator for, while the truncated sum is a per-row fold over
    a bounded window frame.

    Cross-engine float parity WITHOUT integer freezing: the (1−α)^k
    weights and their prefix-sum denominators are PYTHON-computed
    literals (shortest-roundtrip repr → the identical double in both
    engines); windowed collect_list/list() emit FRAME order in both
    engines, and the fold (F.aggregate / list_reduce) runs
    left-to-right, so every intermediate double is bit-identical and
    one ROUND-6 closes the gate.

    NULL values are dropped before the window (collect_list skips
    nulls while DuckDB's list() keeps them — filtering first removes
    the divergence); output rows correspond to non-NULL observations.
    (ts, *order_extra) must be a unique order per key — frame order on
    ties is engine-undefined.

    Cost: O(w) interpreted-HOF work per row (the zip_with/aggregate
    lambdas never reach codegen — measured repo gotcha); keep w modest
    or pre-aggregate. One exchange (the key window).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("ewma: alpha must be in (0, 1]")
    if w < 1:
        raise ValueError("ewma: w must be >= 1")
    keys = _as_list(by)
    extra = list(order_extra)
    q = 1.0 - alpha
    weights = [q**k for k in range(w)]
    dens, acc = [], 0.0
    for x in weights:
        acc += x
        dens.append(acc)
    dtype = df.schema[ts].dataType
    win = (
        Window.partitionBy(*keys)
        .orderBy(_time_value(F.col(ts), dtype), *extra)
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    base = df.where(F.col(col).isNotNull())
    vals = F.reverse(F.collect_list(F.col(col).cast("double")).over(win))
    wlit = F.array(*[F.lit(x) for x in weights])
    dlit = F.array(*[F.lit(x) for x in dens])
    # materialize the collected frame into a column once, then the fold
    # reads the column (a lambda CAPTURING the window subtree would
    # re-evaluate it per element — measured repo gotcha)
    return (
        base.withColumn("__ew_vals", vals)
        .withColumn(
            out_col,
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__ew_vals"),
                        F.slice(wlit, 1, F.size("__ew_vals")),
                        lambda v, wt: v * wt),
                    F.lit(0.0), lambda a, x: a + x)
                / F.element_at(dlit, F.size("__ew_vals")), 6))
        .drop("__ew_vals")
    )


# ---------------------------------------------------------------------------
# walk-forward (purged) time-series cross-validation folds
# ---------------------------------------------------------------------------


def _int_time(df: DataFrame, col: str, op: str) -> Column:
    """Exact INTEGER time for fold/audit math: epoch-µs for timestamp
    columns, the raw value for integral numerics. Fractional numeric ts
    would silently truncate under cast('long') — rejected loudly (the
    asof_join_chunked unorderable-payload convention)."""
    dt = df.schema[col].dataType
    if _is_temporal(dt):
        return epoch_us(F.col(col))
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return F.col(col).cast("long")
    raise ValueError(
        f"{op}: ts column {col!r} must be a timestamp/date or an "
        f"integral numeric (got {dt.simpleString()}) — a fractional "
        f"numeric time would silently truncate; scale it to an integer "
        f"unit first")


def time_folds(
    df: DataFrame,
    ts: str = "ts",
    k: int = 5,
    embargo_seconds: float = 0.0,
    out_col: str = "fold",
) -> DataFrame:
    """Assign every row to one of ``k`` equal-width TIME folds and emit
    the walk-forward training cutoffs — the time-series CV split with an
    embargo gap (de Prado, *Advances in Financial ML* ch. 7: purging
    keeps features whose windows straddle a fold boundary from leaking
    the validation period into training).

    Appends three columns: ``fold`` (0-based, 0 = earliest),
    ``fold_lo_us`` (the fold's inclusive start, epoch µs) and
    ``purge_lo_us`` = fold_lo_us − embargo. Fold f's walk-forward
    training set is ``rows WHERE epoch_us(ts) < purge_lo_us(f)`` —
    strictly earlier than the fold minus the embargo, so a trailing
    feature window of up to ``embargo_seconds`` built on training rows
    can never observe validation-period events.

    All integer: with W = max_us − min_us + 1, row → fold
    ((t − min)·k DIV W), fold_lo_us(f) = min + ⌈f·W/k⌉ (the
    curriculum_boundaries division-free rank rule family) — both
    engines agree bit-for-bit. Plan: one 2-value global aggregate
    broadcast back (the scale(…) fit/apply shape), then a codegen
    projection; no shuffle of the data itself.
    """
    if k < 2:
        raise ValueError("time_folds: need k >= 2 folds")
    if embargo_seconds < 0:
        raise ValueError("time_folds: embargo_seconds must be >= 0")
    t = _int_time(df, ts, "time_folds")
    emb = int(round(embargo_seconds * 1_000_000))
    bounds = df.agg(
        F.min(t).alias("__mn"), F.max(t).alias("__mx"),
    )
    j = df.crossJoin(F.broadcast(bounds))
    fold = F.expr(
        f"(({ts}_us__ - __mn) * {k}) DIV (__mx - __mn + 1)"
    )
    j = j.withColumn(f"{ts}_us__", t)
    j = j.withColumn(out_col, fold.cast("int"))
    lo = F.expr(f"__mn + ({out_col} * (__mx - __mn + 1) + {k} - 1) DIV {k}")
    return (
        j.withColumn("fold_lo_us", lo)
        .withColumn("purge_lo_us", F.col("fold_lo_us") - F.lit(emb))
        .drop("__mn", "__mx", f"{ts}_us__")
    )


# ---------------------------------------------------------------------------
# temporal-leakage audit
# ---------------------------------------------------------------------------


def leakage_audit(
    features: DataFrame,
    spine_ts: str,
    ts_cols: Sequence[str],
) -> DataFrame:
    """Audit a feature frame for temporal leakage: for every matched-
    event-timestamp column (asof_join's ``matched_ts_col``,
    point_in_time_enrich's per-table ts, last_k_join's context ts),
    count rows whose matched event is LATER than the row's as-of point
    — the invariant the north rule states as "no feature reads a turn
    with ts later than its as-of point".

    One row per audited column: ``(ts_col, n_rows, n_matched,
    n_violations, max_skew_us)`` — max_skew_us = max(event − spine) in
    µs over matched rows (negative magnitude = how stale the freshest
    feature is; > 0 IS a leak). A leak-free backward-asof frame audits
    to n_violations = 0 on every column; wire the audit into CI next to
    the pipeline so a future forward-fill refactor cannot silently
    flip direction.

    Plan: one stacked projection (ts_col literal × value pair per
    column) + one tiny hash aggregate on the column name — a single
    pass over the feature frame, no joins, no Python.
    """
    cols = list(ts_cols)
    if not cols:
        raise ValueError("leakage_audit: need at least one ts column")
    st = _int_time(features, spine_ts, "leakage_audit")
    entries = [
        F.struct(
            F.lit(c).alias("ts_col"),
            _int_time(features, c, "leakage_audit").alias("__t"),
        )
        for c in cols
    ]
    e = features.select(
        st.alias("__s"), F.explode(F.array(*entries)).alias("f")
    ).select(F.col("f.ts_col").alias("ts_col"), F.col("f.__t").alias("__t"),
             "__s")
    return (
        e.groupBy("ts_col")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("__t").alias("n_matched"),
            F.coalesce(
                F.sum(F.when(F.col("__t") > F.col("__s"), 1).otherwise(0)),
                F.lit(0),
            ).alias("n_violations"),
            F.max(F.col("__t") - F.col("__s")).alias("max_skew_us"),
        )
    )


def cohort_retention(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    period_seconds: int = 7 * 86_400,
) -> DataFrame:
    """Cohort retention matrix over an event stream: bucket time into
    fixed periods, assign every key to the cohort of its FIRST active
    period, and count how many of each cohort's keys are active again
    ``period_off`` periods later. Output one row per (cohort, offset):
    ``(cohort, cohort_lo_us, period_off, n_active, n_cohort,
    retention)`` — ``retention`` is 1.0 at offset 0 by construction.
    The classic engagement/retention triangle, here as a first-class
    distributed plan (the reference has no longitudinal analytics; its
    window ops are per-stream, runtime/nodes/_window.py:21).

    Plan (100 TB story): ONE full-data exchange — a hash aggregate on
    ``key`` computing (min bucket, collect_set of distinct buckets);
    everything after runs on per-key rows (≤ horizon/period buckets per
    key — e.g. 52 for a year of weekly periods; choose coarser periods
    for longer horizons) and two tiny aggregates on (cohort, offset) /
    (cohort). No window function anywhere, so key skew is absorbed by
    map-side partial aggregation. Cross-engine parity: buckets are
    exact epoch-µs integer divisions (nonneg epochs; pre-1970 ts would
    split Spark DIV vs DuckDB floor-div), counts are exact, and
    ``retention`` is the single ROUND-6 IEEE division of the repo's
    float discipline."""
    if period_seconds <= 0:
        raise ValueError("cohort_retention: period_seconds must be > 0")
    p_us = int(period_seconds) * 1_000_000
    base = (
        df.filter(F.col(key).isNotNull() & F.col(ts).isNotNull())
        .select(
            F.col(key).alias("__k"),
            epoch_us(ts).alias("__us"),
        )
        .withColumn("__bk", F.expr(f"__us DIV {p_us}"))
    )
    keyagg = base.groupBy("__k").agg(
        F.min("__bk").alias("cohort"),
        F.collect_set("__bk").alias("__bks"),
    )
    act = keyagg.select(
        "cohort", F.explode("__bks").alias("__bk"),
    ).select("cohort", (F.col("__bk") - F.col("cohort")).alias("period_off"))
    ret = act.groupBy("cohort", "period_off").agg(
        F.count(F.lit(1)).alias("n_active"))
    sizes = keyagg.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        ret.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            (F.col("cohort") * F.lit(p_us)).alias("cohort_lo_us"),
            "period_off", "n_active", "n_cohort",
            F.round(
                F.col("n_active").cast("double")
                / F.col("n_cohort").cast("double"), 6).alias("retention"),
        )
    )


def calendar_features(
    df: DataFrame,
    ts: str = "ts",
    prefix: str = "",
    cyclical: bool = False,
) -> DataFrame:
    """Calendar/seasonality features from a timestamp: exact integer
    fields ``hour minute day month year iso_dow week epoch_day
    is_weekend`` (``iso_dow`` 1=Monday..7=Sunday, ``week`` the ISO-8601
    week number, ``epoch_day`` days since 1970-01-01 — all wall-clock
    fields of the naive timestamp, session-tz-independent like
    :func:`epoch_us`). NULL ts yields NULL fields. ``cyclical=True``
    adds ``hour_sin/hour_cos/dow_sin/dow_cos`` continuous encodings
    (sin(2π·hour/24) etc.) — floats whose libm rounding is NOT part of
    the cross-engine contract (engine-side only; the integer fields are
    the gated surface). Pure codegen projection, evaluated at the scan —
    zero shuffle at any scale."""
    import math  # noqa: PLC0415

    c = F.col(ts)
    p = prefix
    iso_dow = (F.weekday(c) + F.lit(1))
    out = df.withColumns({
        f"{p}hour": F.hour(c).cast("int"),
        f"{p}minute": F.minute(c).cast("int"),
        f"{p}day": F.dayofmonth(c).cast("int"),
        f"{p}month": F.month(c).cast("int"),
        f"{p}year": F.year(c).cast("int"),
        f"{p}iso_dow": iso_dow.cast("int"),
        f"{p}week": F.weekofyear(c).cast("int"),
        f"{p}epoch_day": F.unix_date(c.cast("date")).cast("int"),
        f"{p}is_weekend": F.when(c.isNotNull(),
                                 (iso_dow >= 6).cast("int")),
    })
    if cyclical:
        two_pi = 2.0 * math.pi
        out = out.withColumns({
            f"{p}hour_sin": F.sin(F.hour(c) * F.lit(two_pi / 24.0)),
            f"{p}hour_cos": F.cos(F.hour(c) * F.lit(two_pi / 24.0)),
            f"{p}dow_sin": F.sin((iso_dow - 1) * F.lit(two_pi / 7.0)),
            f"{p}dow_cos": F.cos((iso_dow - 1) * F.lit(two_pi / 7.0)),
        })
    return out


def range_zscore(
    df: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    value: str = "value",
    window_seconds: float = 3600.0,
    out_col: str = "z",
    n_col: str = "z_n",
    bits: int = 20,
    include_current: bool = False,
    min_n: int = 2,
) -> DataFrame:
    """Trailing anomaly score: each row's z-score against ITS OWN key's
    strictly-preceding ``[t − w, t)`` window ("how unusual is this value
    vs this user's last hour") — the standard streaming-outlier feature,
    leakage-free because the row's own point never enters its baseline
    (``include_current=True`` opts it in).

    Cross-engine float parity by the corr_pairs identity: values freeze
    ONCE to ``ROUND(x·2^bits)`` BIGINTs, the window computes exact
    integer (n, Σx, Σx²), and the frozen scale CANCELS in
    ``z = (n·x − Σx) / √(n·Σx² − (Σx)²)`` — all operands exact integers,
    one cast-to-double each for numerator and radicand (correctly
    rounded in any engine), one ROUND-6. NULL when the window holds
    fewer than ``min_n`` points or has zero variance; NULL values score
    NULL and never enter baselines. Internal sums are DECIMAL(38,0) —
    corr_pairs' overflow envelope note applies per WINDOW, not corpus.

    Plan: one key exchange + one WindowExec (three aggregates share the
    frame). Mega-key note: this is a bare-key range window; for a
    mega-key compute the same (n, Σx, Σx²) via ``range_agg(impl=
    'prefix', chunk_seconds=…)`` on a frozen column and apply the
    identical z expression — the formula is deliberately a pure
    projection over those three sums."""
    if window_seconds <= 0:
        raise ValueError("range_zscore: window_seconds must be > 0")
    if min_n < 1:
        raise ValueError("range_zscore: min_n must be >= 1")
    if not _is_temporal(df.schema[ts].dataType):
        raise ValueError("range_zscore needs a temporal ts column")
    keys = _as_list(on)
    dec = "decimal(38,0)"
    scale = 1 << bits
    xf = F.round(F.col(value).cast("double") * F.lit(scale), 0).cast("long")
    # NULL-ts rows sit in their own window peer group: null their frozen
    # value so they score NULL and never enter any baseline
    d = df.withColumn("__zs_t", epoch_us(ts)) \
        .withColumn("__zs_xf", F.when(F.col("__zs_t").isNotNull(), xf))
    hi = 0 if include_current else -1
    frame = (
        Window.partitionBy(*keys).orderBy("__zs_t")
        .rangeBetween(-int(round(window_seconds * 1_000_000)), hi))
    n = F.count("__zs_xf").over(frame)
    s1 = F.sum(F.col("__zs_xf").cast(dec)).over(frame)
    s2 = F.sum(F.col("__zs_xf").cast(dec) * F.col("__zs_xf")).over(frame)
    d = (
        d.withColumn("__zs_n", n)
        .withColumn("__zs_s1", s1)
        .withColumn("__zs_s2", s2)
    )
    num = (F.col("__zs_n").cast(dec) * F.col("__zs_xf")
           - F.col("__zs_s1")).cast("double")
    rad_int = (F.col("__zs_n").cast(dec) * F.col("__zs_s2")
               - F.col("__zs_s1") * F.col("__zs_s1"))
    z = F.when(
        (F.col("__zs_n") >= min_n) & (rad_int > 0),
        F.round(num / F.sqrt(rad_int.cast("double")), 6))
    return (
        d.withColumn(n_col, F.col("__zs_n").cast("long"))
        .withColumn(out_col, z)
        .drop("__zs_xf", "__zs_t", "__zs_n", "__zs_s1", "__zs_s2")
    )


def expanding_agg(
    df: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    aggs: dict | None = None,
    include_current: bool = False,
    chunk_seconds: float | None = None,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """Expanding (lifetime-to-date) aggregates: each row gains
    count / sum / min / max / avg of SAME-KEY rows strictly before it —
    "events this user has ever produced before now", "their max value so
    far" — the cumulative complement of :func:`range_agg`'s trailing
    window, leakage-free by the strict bound (``include_current=True``
    closes it). ``aggs`` is range_agg's contract; empty history yields
    count 0 and NULL elsewhere. Ties (equal µs) are OUT under the strict
    bound and IN under ``include_current`` — value-range frames, so tied
    rows always agree.

    Hot-key path (``chunk_seconds=``): an expanding aggregate needs NO
    inverse, so unlike range_agg's prefix sweep the chunked carry is
    legal for min/max too — local per-(key, time-chunk) running values +
    an exclusive prefix carry of per-chunk totals over the tiny chunk
    frame (sum carries by +, min/max by least/greatest), joined back via
    :func:`carry_join`. Identical output (unit-pinned; the gate shares
    the unchunked oracle); a mega-key fans out across its chunks.

    Plan: one key exchange + one WindowExec (chunked: (key, chunk)
    exchange + tiny carry agg). Temporal ts only — the strict bound
    needs an exact −1 µs frame offset. NULL-ts rows report an empty
    history (count 0, NULL aggregates) and never enter any baseline."""
    if not aggs:
        raise ValueError("expanding_agg: aggs= is required (name -> (fn, col))")
    specs = _range_specs(aggs)
    if not _is_temporal(df.schema[ts].dataType):
        raise ValueError("expanding_agg needs a temporal ts column")
    keys = _as_list(on)
    hi = 0 if include_current else -1
    d = df.withColumn("__xa_t", epoch_us(ts))

    def _src(col):
        base = F.lit(1) if col is None else F.col(col)
        # NULL-ts rows share a window peer group: null their contributions
        # so they report an EMPTY history (count 0 / NULL aggregates) and
        # never enter any baseline — identical on the chunked path, whose
        # NULL chunk then carries nothing
        return F.when(F.col("__xa_t").isNotNull(), base)

    if chunk_seconds is None:
        frame = (
            Window.partitionBy(*keys).orderBy("__xa_t")
            .rangeBetween(Window.unboundedPreceding, hi))
        for name, fn, col in specs:
            c = getattr(F, fn)(_src(col)).over(frame)
            if fn == "count":
                c = c.cast("long")
            elif fn == "avg":
                n = F.count(_src(col)).over(frame)
                c = F.when(n > 0,
                           F.sum(_src(col)).over(frame) / n)
            d = d.withColumn(name, c)
        return d.drop("__xa_t")

    ck = _chunk_id(ts, df.schema[ts].dataType, chunk_seconds)
    d = d.withColumn("__xa_ck", ck)
    w_local = (
        Window.partitionBy(*keys, "__xa_ck").orderBy("__xa_t")
        .rangeBetween(Window.unboundedPreceding, hi))
    w_carry = (
        Window.partitionBy(*keys).orderBy("__xa_ck")
        .rowsBetween(Window.unboundedPreceding, -1))
    # local running values + per-chunk totals per distinct (fn, col) need
    tot_aggs, car_cols, loc_cols = [], [], []
    need = {}
    for name, fn, col in specs:
        for f2 in ({"count", "sum"} if fn == "avg" else {fn}):
            need.setdefault((f2, col), f"__xa_{f2}_{col or '_'}")
    for (fn, col), tag in need.items():
        src = _src(col)
        if fn == "count":
            loc = F.count(src).over(w_local)
            tot = F.count(src)
            car = F.coalesce(F.sum(F.col(f"{tag}_tot")).over(w_carry),
                             F.lit(0))
        elif fn == "sum":
            loc = F.sum(src).over(w_local)
            tot = F.sum(src)
            car = F.sum(F.col(f"{tag}_tot")).over(w_carry)
        elif fn == "min":
            loc = F.min(src).over(w_local)
            tot = F.min(src)
            car = F.min(F.col(f"{tag}_tot")).over(w_carry)
        else:  # max
            loc = F.max(src).over(w_local)
            tot = F.max(src)
            car = F.max(F.col(f"{tag}_tot")).over(w_carry)
        d = d.withColumn(f"{tag}_loc", loc)
        tot_aggs.append(tot.alias(f"{tag}_tot"))
        car_cols.append(car.alias(f"{tag}_car"))
        loc_cols.append(tag)
    totals = d.groupBy(*keys, "__xa_ck").agg(*tot_aggs)
    carry = totals.select(*keys, "__xa_ck", *car_cols)
    j = carry_join(d, carry, [*keys, "__xa_ck"], broadcast=broadcast_carry)

    def _combined(fn, col):
        tag = need[(fn, col)]
        lc, cc = F.col(f"{tag}_loc"), F.col(f"{tag}_car")
        if fn == "count":
            # NULL-ts rows live in a NULL chunk, which a join on the chunk
            # key can never match — their carry is NULL, not 0
            return (lc + F.coalesce(cc, F.lit(0))).cast("long")
        if fn == "sum":
            return F.when(
                lc.isNotNull() | cc.isNotNull(),
                F.coalesce(lc, F.lit(0)) + F.coalesce(cc, F.lit(0)))
        if fn == "min":
            return F.least(lc, cc)
        return F.greatest(lc, cc)

    for name, fn, col in specs:
        if fn == "avg":
            n = _combined("count", col)
            j = j.withColumn(name, F.when(n > 0, _combined("sum", col) / n))
        else:
            j = j.withColumn(name, _combined(fn, col))
    drop = ["__xa_t", "__xa_ck"]
    drop += [f"{t}_loc" for t in loc_cols] + [f"{t}_car" for t in loc_cols]
    return j.drop(*drop)


def session_features(
    df: DataFrame,
    key: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    gap: float = 1800.0,
    order_extra: Sequence[str] = ("turn_idx",),
    session_col: str = "session_id",
    seq_col: str = "session_seq",
) -> DataFrame:
    """Session-relative features in one pass: :func:`sessionize` plus,
    per row, ``turn_in_session`` (0-based position within its session),
    ``us_into_session`` (exact µs since the session's first row) and
    ``session_start_us`` — the "where am I in this session" block every
    conversational feature vector carries. All backward-looking (a row's
    features derive from its session prefix only — no session-total
    columns here; aggregate AFTER the fact for those, e.g.
    ``session_stats``).

    Plan: sessionize's lag window, the running boundary sum, and the
    within-(key, session) row_number/min all share ONE ``key`` hash
    exchange — ClusteredDistribution is satisfied by a partitioning on a
    SUBSET of the window keys (the tool_chains precedent), so the whole
    block plans a single shuffle (asserted in tests). Mega-key note:
    these are bare-key windows; for a mega-key chunk the count with
    :func:`chunked_row_number` and the session assignment with
    :func:`sessionize_chunked`."""
    keys = _as_list(key)
    extras = [c for c in order_extra if c in df.columns]
    out = sessionize(df, gap=gap, key=keys, ts=ts,
                     order_extra=extras, out=session_col, seq_out=seq_col)
    w = Window.partitionBy(*keys, seq_col).orderBy(F.col(ts), *extras)
    t_us = epoch_us(ts)
    if not _is_temporal(df.schema[ts].dataType):
        t_us = F.col(ts)
    start = F.min(t_us).over(
        Window.partitionBy(*keys, seq_col)
        .orderBy(F.col(ts), *extras)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        out.withColumn("turn_in_session",
                       (F.row_number().over(w) - 1).cast("long"))
        .withColumn("session_start_us", start)
        .withColumn("us_into_session", t_us - start)
    )


def rows_agg(
    df: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    n: int = 10,
    aggs: dict | None = None,
    include_current: bool = False,
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Trailing LAST-N-EVENTS aggregates: each row gains count / sum /
    min / max / avg over its key's previous ``n`` rows — the count-based
    twin of :func:`range_agg` ("mean of this user's last 10 purchase
    amounts"), preferable when event cadence varies so a fixed time
    window holds wildly different sample sizes. ``include_current=True``
    closes the frame at the row itself (last n+1 incl. self).

    Positional frames need a TOTAL order to be deterministic: rows are
    ordered by ``(ts, *order_extra)`` — pass a unique tiebreaker (an id
    column) whenever timestamps can collide, or tied rows may swap
    between runs (the oracle convention; the gate orders by
    (ts, event_id)). Fewer than ``n`` prior rows aggregate whatever
    exists; zero prior rows give count 0 / NULL.

    Plan: one key exchange + one WindowExec, all aggregates sharing the
    ROWS frame. Mega-key note: a positional frame cannot value-chunk
    (the last N spans chunk borders by up to N rows) — for a mega-key
    either bound the history by TIME instead (range_agg's chunked
    prefix) or pre-rank with :func:`chunked_row_number` and gather via
    last_k_join's rank-bucket join."""
    if n < 1:
        raise ValueError("rows_agg: n must be >= 1")
    if not aggs:
        raise ValueError("rows_agg: aggs= is required (name -> (fn, col))")
    specs = _range_specs(aggs)
    keys = _as_list(on)
    extras = [F.col(c) for c in order_extra]
    hi = 0 if include_current else -1
    frame = (
        Window.partitionBy(*keys).orderBy(F.col(ts), *extras)
        .rowsBetween(-n, hi))
    out = df
    for name, fn, col in specs:
        src = F.lit(1) if col is None else F.col(col)
        if fn == "count":
            c = F.count(src).over(frame).cast("long")
        elif fn == "avg":
            cnt = F.count(src).over(frame)
            c = F.when(cnt > 0, F.sum(src).over(frame) / cnt)
        else:
            c = getattr(F, fn)(src).over(frame)
        out = out.withColumn(name, c)
    return out
