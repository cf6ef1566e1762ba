"""Every value-chunked operator against its plain form on NULL-ts inputs.

NULL-ts rows sort first ascending and last descending in the plain
windows; the chunked forms put them in the lowest chunk, which must take
its cross-chunk carry like any other. The frame has 2-3 NULL-ts rows per
key, one NULL-ts group whose value column is all NULL, and gaps that skip
several empty 300 s chunks."""

import datetime

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from towhee_spark import temporal
from towhee_spark.functions import transcripts as tr
from towhee_spark.pipeline import Pipeline

T0 = datetime.datetime(2026, 1, 1)
CHUNK = 300.0
KEY = ["conv_id", "turn_idx"]


def _at(s):
    return None if s is None else T0 + datetime.timedelta(seconds=s)


@pytest.fixture(scope="module")
def frames(spark):
    # (conv_id, [(turn_idx, seconds or None, tool)]) — turn_idx is unique per
    # key and orders the NULL-ts rows among themselves
    convs = {
        "a": [(7, None, "n1"), (8, None, None), (9, None, "n3"),
              (0, 10, None), (1, 20, "t1"), (2, 700, None), (3, 2500, None),
              (4, 2510, "t4"), (5, 9000, None)],
        # the NULL-ts group has no tool of its own
        "b": [(5, None, None), (6, None, None),
              (0, 100, None), (1, 1300, "u1"), (2, 1310, None),
              (3, 5000, None)],
        "c": [(3, None, "m3"), (4, None, None),
              (0, 50, "m0"), (1, 4000, None), (2, 4001, None)],
    }
    rows = [(k, i, f"w{i} " * (i % 3 + 1), tool, _at(s), i * 10 + len(k))
            for k, turns in convs.items() for i, s, tool in turns]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tool string, "
              "ts timestamp, v long")
    ctx_rows = [("a", _at(s), float(s or -1)) for s in (None, 5, 690, 2505, 8000)] \
        + [("b", _at(s), float(s or -1)) for s in (None, None, 1305)] \
        + [("c", _at(s), float(s or -1)) for s in (None, 60)]
    ctx = spark.createDataFrame(ctx_rows, "conv_id string, ts timestamp, ctx_score double")
    return df, ctx


def _window(chunk):
    return (Pipeline.input("turn_idx")
            .window("turn_idx", ("lo", "hi", "n"), size=3, step=2,
                    fn=lambda v: (F.min(v), F.max(v), F.count(v)),
                    wid_col="wid", chunk_seconds=chunk)
            .output("conv_id", "wid", "lo", "hi", "n"))


def _time_window(chunk):
    return (Pipeline.input("turn_idx")
            .time_window("turn_idx", ("lo", "hi", "n"), "ts", 600, 300,
                         lambda v: (F.min(v), F.max(v), F.count(v)),
                         exact=True, emit_start="wstart", chunk_seconds=chunk)
            .output("conv_id", "wstart", "lo", "hi", "n"))


def _by(cols, keys=KEY):
    def collect(df):
        return {tuple(r[k] for k in keys): tuple(r[c] for c in cols)
                for r in df.collect()}
    return collect


LL = ["text_lag1", "text_lag2", "tool_lead1", "tool_lead2", "tool_lag1"]
XA = {"n": ("count", "*"), "s": ("sum", "v"), "mn": ("min", "v"),
      "mx": ("max", "v"), "a": ("avg", "v")}
CASES = {
    "sessionize": (
        lambda df, _: temporal.sessionize(df, gap=600.0, seq_out="seq"),
        lambda df, _: temporal.sessionize_chunked(
            df, gap=600.0, seq_out="seq", chunk_seconds=CHUNK),
        _by(["session_id", "seq"])),
    "lag_lead": (
        lambda df, _: temporal.lag_lead(df, ["text", "tool"], [1, 2, -1, -2]),
        lambda df, _: temporal.lag_lead_chunked(
            df, ["text", "tool"], [1, 2, -1, -2], chunk_seconds=CHUNK),
        _by(LL)),
    "locf": (
        lambda df, _: temporal.locf(df, ["tool"]),
        lambda df, _: temporal.locf_chunked(df, ["tool"], chunk_seconds=CHUNK),
        _by(["tool_ff"])),
    "bfill": (
        lambda df, _: temporal.bfill(df, ["tool"]),
        lambda df, _: temporal.bfill_chunked(df, ["tool"], chunk_seconds=CHUNK),
        _by(["tool_bf"])),
    "asof_backward": (
        lambda df, ctx: temporal.asof_join(df, ctx),
        lambda df, ctx: temporal.asof_join_chunked(df, ctx, chunk_seconds=CHUNK),
        _by(["ctx_score"])),
    "asof_forward": (
        lambda df, ctx: temporal.asof_join(df, ctx, direction="forward"),
        lambda df, ctx: temporal.asof_join_chunked(
            df, ctx, direction="forward", chunk_seconds=CHUNK),
        _by(["ctx_score"])),
    "chunked_row_number": (
        lambda df, _: df.withColumn("idx", F.row_number().over(
            Window.partitionBy("conv_id").orderBy("ts", "turn_idx")) - 1),
        lambda df, _: temporal.chunked_row_number(
            df, ["conv_id"], "ts", CHUNK, extra_order=["turn_idx"], out="idx"),
        _by(["idx"])),
    "window": (
        lambda df, _: _window(None).apply(df, by="conv_id", order=("ts", "turn_idx")),
        lambda df, _: _window(CHUNK).apply(df, by="conv_id", order=("ts", "turn_idx")),
        _by(["lo", "hi", "n"], ["conv_id", "wid"])),
    "truncate_context": (
        lambda df, _: tr.truncate_context(df, budget=9),
        lambda df, _: tr.truncate_context(df, budget=9, chunk_seconds=CHUNK),
        _by(["n_tokens", "cum_from_end", "kept"])),
    "expanding_agg": (
        lambda df, _: temporal.expanding_agg(df, ts="ts", aggs=XA),
        lambda df, _: temporal.expanding_agg(df, ts="ts", aggs=XA,
                                             chunk_seconds=CHUNK),
        _by(list(XA))),
    "time_window": (
        lambda df, _: _time_window(None).apply(df, by="conv_id"),
        lambda df, _: _time_window(CHUNK).apply(df, by="conv_id"),
        _by(["lo", "hi", "n"], ["conv_id", "wstart"])),
}


@pytest.mark.parametrize("case", list(CASES))
def test_chunked_matches_plain_on_null_ts(spark, frames, case):
    plain, chunked, collect = CASES[case]
    df, ctx = frames
    exp = collect(plain(df, ctx))
    assert exp  # the case produced rows
    assert collect(chunked(df, ctx)) == exp


@pytest.mark.parametrize("chunked", [False, True])
def test_gap_in_fractional_seconds_is_inclusive(spark, chunked):
    """Two turns exactly 1.001 s apart stay in one session under
    gap=1.001: the gap converts to 1,001,000 µs (not a truncated
    1,000,999)."""
    df = spark.createDataFrame(
        [("k", 0, T0), ("k", 1, T0 + datetime.timedelta(microseconds=1_001_000))],
        "conv_id string, turn_idx int, ts timestamp")
    if chunked:
        out = temporal.sessionize_chunked(df, gap=1.001, seq_out="seq",
                                          chunk_seconds=60.0)
    else:
        out = temporal.sessionize(df, gap=1.001, seq_out="seq")
    assert sorted(r.seq for r in out.collect()) == [1, 1]
