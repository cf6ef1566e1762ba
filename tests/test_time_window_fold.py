"""Python-folded time windows see their rows in the declared order, the
same order the count window's fold sees."""

import pytest
from pyspark.sql import types as T

from towhee_spark.pipeline import Pipeline


@pytest.mark.parametrize("ts_col, order", [
    ("ts", ("ts", "turn_idx")),
    ("at", ("turn_idx",)),  # timestamp column not named ts, not in order
])
def test_time_window_fold_breaks_ts_ties_by_declared_order(spark, ts_col, order):
    rows = [("c", 1_000, i, f"t{i}") for i in range(10)][::-1]
    df = spark.createDataFrame(
        rows, f"conv_id string, {ts_col} long, turn_idx int, text string"
    ).coalesce(1)
    fold = dict(fn=lambda v: ",".join(v), out_types=[T.StringType()])
    count_w = Pipeline.input("text").window("text", "seq", 10, 10, **fold)
    time_w = Pipeline.input("text").time_window(
        "text", "seq", ts_col, 3600, 3600, **fold)
    want = ",".join(f"t{i}" for i in range(10))
    for p in (count_w, time_w):
        got = [r.seq for r in p.apply(df, by="conv_id", order=order).collect()]
        assert got == [want]
