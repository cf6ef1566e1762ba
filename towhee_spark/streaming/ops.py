"""Streaming analogues of the engine's window/session operators.

Towhee has no streaming runtime (a pipeline invocation is one bounded row
set); the engine's tables-in-motion story is Structured Streaming:
``readStream → transform → writeStream`` with event-time watermarks.  The
same functions work on batch DataFrames (Spark's unified semantics), which
is how the tests validate them against the batch operators.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from towhee_spark.layout import collect_small


def with_watermark(df: DataFrame, ts: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Late-data bound; required before stateful event-time aggs in streams."""
    return df.withWatermark(ts, delay) if df.isStreaming else df


def stream_time_window_agg(
    df: DataFrame,
    aggs: Mapping[str, Column],
    key: str = "conv_id",
    ts: str = "ts",
    size: str = "10 minutes",
    step: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding/tumbling event-time window aggregation (streaming-safe).

    Equivalent of the batch ``time_window`` node's fast path: Spark's
    F.window is step-aligned and emits only non-empty groups, matching
    Towhee's buffer on gap-free ordered streams (pipeline.py parity tests
    cover the exact-gap semantics on the batch path)."""
    src = with_watermark(df, ts, watermark)
    win = F.window(F.col(ts), size, step or size)
    return (
        src.groupBy(F.col(key), win.alias("win"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            key,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *aggs.keys(),
        )
    )


def stream_dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    ts: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Ingest-time exact dedup: keep the first-seen row per NORMALIZED text
    — the streaming face of ``dedup.dedup_exact`` for a training-data
    pipeline's front door.

    Streaming frames use ``dropDuplicatesWithinWatermark`` so state holds
    one entry per distinct text seen inside the watermark horizon and is
    EVICTED as the watermark advances — plain ``dropDuplicates`` on a
    stream would grow state forever, which is exactly the unbounded-state
    bug this wrapper exists to prevent. Batch frames take the plain
    ``dropDuplicates`` (one hash aggregate). Duplicates farther apart than
    the watermark delay are NOT collapsed on the streaming path (they're
    separate state entries by then) — pick the delay to cover the dup
    window the source actually produces, and run the batch
    ``dedup_exact`` downstream for global exactness."""
    from towhee_spark.functions.text import normalize_text  # noqa: PLC0415

    out = df.withColumn("__norm", normalize_text(text_col))
    if df.isStreaming:
        return (
            out.withWatermark(ts, watermark)
            .dropDuplicatesWithinWatermark(["__norm"])
            .drop("__norm")
        )
    return out.dropDuplicates(["__norm"]).drop("__norm")


def _pd_nullable(dt) -> str | None:
    """Pandas nullable extension dtype for a Spark integral/bool type —
    unmatched as-of rows surface as NaN, and a float column with NaN fails
    Arrow's safe cast back to bigint/int; the extension dtypes carry the
    null natively. (Keyed on type CLASSES: simpleString() spells LongType
    'bigint' and ShortType 'smallint', which a name-keyed map missed.)"""
    from pyspark.sql import types as T  # noqa: PLC0415

    for cls, name in ((T.LongType, "Int64"), (T.IntegerType, "Int32"),
                      (T.ShortType, "Int16"), (T.ByteType, "Int8"),
                      (T.BooleanType, "boolean")):
        if isinstance(dt, cls):
            return name
    return None


def stream_asof_static(
    df: DataFrame,
    ctx: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    right_cols: list[str] | None = None,
    suffix: str = "",
    matched_ts_col: str | None = None,
    max_snapshot_rows: int = 2_000_000,
) -> DataFrame:
    """As-of join of an unbounded event stream against a STATIC context
    snapshot — the streaming face of ``temporal.asof_join`` when the right
    side is a slowly-changing dimension (the flagship's context-enrich
    stage on tables-in-motion).

    The snapshot is taken ONCE at plan time (an action on ``ctx``) and
    shipped in the task closure, so ``ctx`` must be dimension-sized — the
    same contract as a ``F.broadcast`` join side. Each micro-batch (or
    batch partition) then runs ``pd.merge_asof`` against the sorted
    snapshot: STATELESS — no state store, no watermark buffer, and
    micro-batch arrival order is irrelevant because the right side never
    changes, so out-of-order streams need no ``ordered=False`` machinery
    (contrast the stateful ops in ``streaming.stateful``).

    Parity with :func:`towhee_spark.temporal.asof_join`: atomic matched-row
    attach, ``tolerance`` in seconds (numeric ts: same unit as the column),
    duplicate ctx (key, ts) ties resolve backward=MAX payload /
    forward=MIN. Rows with a null event time OR a null join key pass
    through with null matches (ctx rows with either are dropped from the
    snapshot — a stateless snapshot join has nothing for them to match;
    batch ``asof_join`` instead groups null keys together, the one
    documented parity divergence).

    ``max_snapshot_rows`` (default 2M) guards the plan-time snapshot: a
    ``ctx`` bigger than the cap raises loudly instead of OOMing the
    driver — point a big, changing right side at the stateful buffered
    asof in ``towhee_spark.streaming.stateful`` instead, or raise the cap
    explicitly if the snapshot genuinely fits driver memory. Guard and
    snapshot are one bounded action (layout.collect_small).
    """
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql import types as T  # noqa: PLC0415

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    vcols = (list(right_cols) if right_cols is not None
             else [c for c in ctx.columns if c not in (on, ts)])
    # collision guard: a left column shadowing a (suffixed) match column
    # would make pandas merge fork it into _x/_y names, and the reindex to
    # the output schema would then silently emit ALL-NULL match columns
    clash = ({c + suffix for c in vcols} | ({matched_ts_col} if matched_ts_col else set())) \
        & set(df.columns)
    if clash:
        raise ValueError(
            f"stream_asof_static: output columns {sorted(clash)} already exist "
            f"on the left frame — pass suffix= (or a different matched_ts_col)"
        )

    # plan-time snapshot: dedupe ties with the batch asof's direction rule
    # (payload-lexicographic max for backward, min for forward)
    snap = collect_small(
        ctx.select(on, ts, *vcols), max_snapshot_rows, to_pandas=True)
    if snap is None:
        raise ValueError(
            f"stream_asof_static: ctx exceeds max_snapshot_rows="
            f"{max_snapshot_rows} — the snapshot ships in the task closure "
            f"and must be dimension-sized. Use the stateful buffered asof "
            f"(towhee_spark.streaming.stateful) for a large/changing right "
            f"side, or raise max_snapshot_rows= if it truly fits the driver")
    # null merge keys make pd.merge_asof raise ('Merge keys contain null
    # values on right side'), and a single null in an integral column has
    # already widened it to float64 on the Arrow→pandas hop — drop the
    # unmatchable rows, then restore the exact integral dtype below
    snap = snap[snap[ts].notna() & snap[on].notna()]
    _np_integral = {T.LongType: "int64", T.IntegerType: "int32",
                    T.ShortType: "int16", T.ByteType: "int8",
                    T.BooleanType: "bool"}

    def _np_exact(dt) -> str | None:
        for cls, name in _np_integral.items():
            if isinstance(dt, cls):
                return name
        return None

    ctx_schema = ctx.schema
    for c, f in ((on, ctx_schema[on]), (ts, ctx_schema[ts])):
        want = _np_exact(f.dataType)
        if want and str(snap[c].dtype) != want:
            snap[c] = snap[c].astype(want)
    snap = snap.sort_values([on, ts, *vcols], kind="mergesort")
    snap = snap.drop_duplicates(
        [on, ts], keep="last" if direction == "backward" else "first")
    renames = {c: c + suffix for c in vcols}
    snap = snap.rename(columns=renames)
    out_vcols = [renames[c] for c in vcols]
    if matched_ts_col:
        snap[matched_ts_col] = snap[ts]
    snap = snap.sort_values(ts, kind="mergesort").reset_index(drop=True)
    # integral/bool MATCH columns ride through the merge as pandas nullable
    # extension dtypes: with any unmatched left row, a plain int64 column
    # would round-trip through float64 (NaN fill) and silently round values
    # above 2^53 (hash-derived long ids live up there)
    for c, f in [(renames[v], ctx_schema[v]) for v in vcols] + (
            [(matched_ts_col, ctx_schema[ts])] if matched_ts_col else []):
        ext = _pd_nullable(f.dataType)
        if ext:
            snap[c] = snap[c].astype(ext)

    out_fields = list(df.schema.fields) + [
        T.StructField(renames[c], ctx_schema[c].dataType, True) for c in vcols
    ]
    if matched_ts_col:
        out_fields.append(
            T.StructField(matched_ts_col, ctx_schema[ts].dataType, True))
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]
    # unmatched rows surface as NaN; integer/bool columns must go back to
    # Arrow as nullable extension dtypes, not float (covers match cols AND
    # left integral cols that rode in as float64 because a row was null —
    # the good/bad concat would otherwise re-widen the restored int64)
    null_casts = {
        f.name: dt
        for f in out_fields
        if (dt := _pd_nullable(f.dataType))
    }

    # a null anywhere in an integral left key/ts column widens the WHOLE
    # column to float64 on the Arrow→pandas hop; after the null rows are
    # split off, restore the declared dtype so merge_asof's by-key dtype
    # check (int64 vs float64 → MergeError) can't fire
    left_exact = {c: w for c in (on, ts)
                  if (w := _np_exact(df.schema[c].dataType))}

    def merge(batches):
        right = {}  # ts-dtype-aligned snapshot, cached per worker

        for pdf in batches:
            if not len(pdf):
                continue
            # null event time OR null join key: pass through unmatched
            # (merge_asof raises on null keys; batch asof groups null keys
            # together — on this stateless path they can never match the
            # snapshot, whose null-key rows were dropped at plan time)
            ok = pdf[ts].notna() & pdf[on].notna()
            good, bad = pdf[ok], pdf[~ok]
            parts = []
            if len(good):
                left = good.sort_values(ts, kind="mergesort")
                for c, want in left_exact.items():
                    if str(left[c].dtype) != want:
                        left = left.assign(**{c: left[c].astype(want)})
                tol = None
                if tolerance is not None:
                    if pd.api.types.is_datetime64_any_dtype(left[ts]):
                        tol = pd.Timedelta(seconds=tolerance)
                    elif pd.api.types.is_integer_dtype(left[ts]):
                        # pandas rejects a float tolerance against an int64
                        # key; integral tolerances narrow losslessly, and a
                        # fractional one forces the float64 compare the
                        # batch path uses (numeric ts are cast to double)
                        if float(tolerance).is_integer():
                            tol = int(tolerance)
                        else:
                            tol = float(tolerance)
                            left = left.assign(**{ts: left[ts].astype("float64")})
                    else:
                        tol = tolerance
                key = str(left[ts].dtype)
                if key not in right:
                    r = snap.copy()
                    if str(r[ts].dtype) != key:
                        r[ts] = r[ts].astype(left[ts].dtype)
                    right[key] = r
                m = pd.merge_asof(
                    left, right[key], on=ts, by=on, direction=direction,
                    tolerance=tol, allow_exact_matches=allow_exact_matches)
                parts.append(m)
            if len(bad):
                parts.append(bad.reindex(columns=out_names))
            out = pd.concat(parts) if len(parts) > 1 else parts[0]
            out = out.reindex(columns=out_names)
            for c, dt in null_casts.items():
                out[c] = out[c].astype(dt)
            yield out

    return df.mapInPandas(merge, schema=out_schema)


def stream_sessionize(
    df: DataFrame,
    aggs: Mapping[str, Column],
    key: str = "conv_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based session aggregation via F.session_window — the streaming
    dual of towhee_spark.temporal.sessionize (which labels individual rows
    in batch; here sessions close when the watermark passes ts+gap)."""
    src = with_watermark(df, ts, watermark)
    win = F.session_window(F.col(ts), gap)
    return (
        src.groupBy(F.col(key), win.alias("sess"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            key,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *aggs.keys(),
        )
    )


def stream_neardup_static(
    df: DataFrame,
    ref: DataFrame | None = None,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    hash: str = "md5",
    seed: int = 11,
    impl: str = "arrow",
    ts: str | None = None,
    watermark: str = "30 minutes",
    broadcast_index: bool | None = None,
) -> DataFrame:
    """Ingest-time near-duplicate flagging against a STATIC reference corpus
    — the approximate counterpart of ``stream_dedup_exact`` for a training
    pipeline's front door: every incoming document is checked against an
    already-curated corpus's MinHash index, and matches come back as
    (stream row + ref_id + est_jaccard ≥ threshold).

    Fully STATELESS per row: signatures are per-row projections
    (dedup.minhash_row_signature — no aggregation, unlike the batch
    explode+groupBy signature), candidates come from a stream-static
    equi-join on (band, bucket), and verification is the signature
    agreement rate computed from the two signature arrays already on the
    row — no shuffle-side aggregation, no state store. The only stateful
    step is optional: multi-band duplicate suppression via
    ``dropDuplicatesWithinWatermark`` on streams (``ts`` required), plain
    ``dropDuplicates`` on batch frames.

    Index side: pass ``ref`` to build (and cache) the banded index inline
    — Structured Streaming re-evaluates the static plan every micro-batch,
    so the inline build caches it. For reference corpora beyond memory,
    prebuild with ``dedup.minhash_static_index`` + ``layout.write_bucketed``
    on (band, bh) and pass ``index=`` (zero static-side shuffle per batch).
    ``broadcast_index`` forces/forbids broadcasting it (None lets AQE
    decide — same contract as temporal.carry_join).

    ``impl="arrow"`` (default) computes stream-side signatures in one Arrow
    kernel per batch; ``impl="expr"``+``hash="md5"`` is the
    oracle-reproducible path the correctness gate pins. Estimates are
    E[est] = true Jaccard with binomial error 1/sqrt(num_hashes); run the
    batch exact-verify tiers downstream where exactness matters."""
    from towhee_spark.functions import dedup  # noqa: PLC0415

    if (ref is None) == (index is None):
        raise ValueError("stream_neardup_static: pass exactly one of ref= or index=")
    if num_hashes % bands:
        raise ValueError("stream_neardup_static: bands must divide num_hashes")
    clash = {"__sig", "__bb", "band", "bh", "ref_id", "ref_sig", "est_jaccard"} & set(df.columns)
    if clash:
        raise ValueError(
            f"stream_neardup_static: input columns {sorted(clash)} collide with "
            "the operator's working/output columns — rename them first"
        )
    cached_deps = []
    if index is None:
        index = dedup.minhash_static_index(
            ref, id_col, text_col, num_hashes, bands, n, hash, seed, impl
        ).cache()
        cached_deps.append(index)
    if broadcast_index is True:
        index = F.broadcast(index)
    elif broadcast_index is False:
        index = index.hint("shuffle_hash")

    sig = dedup.minhash_row_signature(text_col, num_hashes, n, hash, seed, impl)
    left = df.withColumn("__sig", sig).select(
        "*",
        F.explode(
            dedup.minhash_band_bucket_expr("__sig", bands, num_hashes, hash)
        ).alias("__bb"),
    ).select(*df.columns, "__sig",
             F.col("__bb.band").alias("band"), F.col("__bb.bh").alias("bh"))

    est = (
        F.size(F.filter(F.zip_with("__sig", "ref_sig", lambda a, b: a == b),
                        lambda m: m))
        / F.lit(float(num_hashes))
    )
    matched = (
        left.join(index, ["band", "bh"])
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select(*df.columns, "ref_id", "est_jaccard")
    )
    # one row per (doc, ref) even when several bands agree
    if matched.isStreaming:
        if ts is None:
            raise ValueError(
                "stream_neardup_static: streaming input needs ts= (event-time "
                "column) so multi-band duplicates can be dropped within the "
                "watermark instead of holding unbounded state"
            )
        out = matched.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
            [id_col, "ref_id"]
        )
    else:
        out = matched.dropDuplicates([id_col, "ref_id"])
    # tag the inline-built cached index so release_cached(out) frees it
    # (CLAUDE: combinators over cached-dep-tagged frames must propagate)
    return dedup._with_cached_deps(out, *cached_deps)  # noqa: SLF001
