"""Output checks: an order-insensitive Spark checksum, prefix deltas, and
the pandas oracle for the turn-feature chain."""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Per-row hashes are reduced mod a prime below 2^31 before summing, so the
# long sum cannot overflow (ANSI mode raises on overflow) below ~4e9 rows.
_MOD = 2_147_483_647
_DIGITS = 6


def _stable(c: Column, dt: T.DataType) -> Column:
    """Column form fed to the row hash: floating values rounded to
    ``_DIGITS`` decimals (also inside arrays) so that a last-bit change in
    floating arithmetic does not read as a different answer."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), _DIGITS)
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, (T.DoubleType, T.FloatType)):
        # an element-wise cast is compiled code; F.transform would run the
        # interpreted lambda evaluator per element
        return c.cast(T.ArrayType(T.DecimalType(18, _DIGITS)))
    return c


def checksum_aggs(df: DataFrame) -> list[Column]:
    """``rows`` and ``checksum`` aggregates over every column of ``df``.
    The checksum is a sum of per-row hashes, so it does not depend on row
    order or partitioning; every column feeds the hash, so the optimizer
    cannot prune any of them from the plan."""
    row = F.xxhash64(*[_stable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields])
    return [F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.pmod(row, F.lit(_MOD))), F.lit(0)).alias("checksum")]


def spark_checksum(df: DataFrame, *extra: Column) -> dict:
    """Run ``df`` to completion once and return its rows, checksum and any
    ``extra`` named aggregates as a dict."""
    return df.agg(*checksum_aggs(df), *extra).collect()[0].asDict()


def prefix_deltas(medians: list[float]) -> list[float]:
    """Per-stage cost from cumulative prefix timings: stage i costs what
    prefix i adds over the slowest prefix before it. Prefix medians can
    dip (noise, or a later stage letting the optimizer drop work), so the
    running maximum is used and no delta is negative."""
    out, best = [], 0.0
    for m in medians:
        out.append(max(0.0, m - best))
        best = max(best, m)
    return out


# -- turn-feature oracle -----------------------------------------------------

def embed_reference(text: str | None, dim: int) -> np.ndarray:
    """Hashed bag-of-tokens embedding written as a plain loop: crc32 bucket
    ``h % dim``, sign from bit 31, L2-normalized."""
    v = np.zeros(dim)
    for tok in (text or "").split():
        h = zlib.crc32(tok.encode("utf-8"))
        v[h % dim] += 1.0 if h < 0x80000000 else -1.0
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


def turn_features_oracle(turns: pd.DataFrame, ctx: pd.DataFrame, *, tolerance_s: float,
                         gap_s: float, dim: int) -> pd.DataFrame:
    """pandas reference of the turn-feature chain: ``merge_asof`` (backward,
    inclusive tolerance) → text-length lag 1, lag 2, lead 1 → forward-filled
    tool → gap sessionization → embedding. One row per turn, sorted by
    (conv_id, turn_idx)."""
    left = turns.sort_values("ts", kind="mergesort")
    right = ctx.rename(columns={"ts": "ctx_ts"}).sort_values("ctx_ts", kind="mergesort")
    j = pd.merge_asof(left, right, left_on="ts", right_on="ctx_ts", by="conv_id",
                      direction="backward", tolerance=pd.Timedelta(seconds=tolerance_s),
                      allow_exact_matches=True)
    j = j.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    g = j.groupby("conv_id", sort=False)
    j["text_len"] = j["text"].str.len()
    j["text_len_lag1"] = g["text_len"].shift(1)
    j["text_len_lag2"] = g["text_len"].shift(2)
    j["text_len_lead1"] = g["text_len"].shift(-1)
    j["tool_ff"] = g["tool"].ffill()
    prev = g["ts"].shift(1)
    new = prev.isna() | ((j["ts"] - prev) > pd.Timedelta(seconds=gap_s))
    j["session_seq"] = new.astype(np.int64).groupby(j["conv_id"]).cumsum()
    j["emb"] = [embed_reference(t, dim) for t in j["text"]]
    return j.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> list[str]:
    """Column-by-column differences between two row-aligned frames; NULL
    equals NULL, floats compare to 1e-6."""
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    problems = []
    for c in cols:
        a, b = got[c].reset_index(drop=True), want[c].reset_index(drop=True)
        if c == "emb":
            bad = sum(not np.allclose(np.asarray(x, dtype=np.float32), y, atol=1e-6)
                      for x, y in zip(a, b))
        elif pd.api.types.is_float_dtype(b) or pd.api.types.is_float_dtype(a):
            x, y = a.astype("float64").to_numpy(), b.astype("float64").to_numpy()
            bad = int((~(np.isclose(x, y, atol=1e-6) | (np.isnan(x) & np.isnan(y)))).sum())
        else:
            bad = int((~((a == b) | (a.isna() & b.isna()))).sum())
        if bad:
            problems.append(f"{c}: {bad} of {len(b)} rows differ")
    return problems
