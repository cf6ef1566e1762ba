"""Runs of Python map/filter/flat_map nodes: each maximal run compiles to ONE
mapInPandas. Goldens pin the row semantics every step keeps inside a run
(compat filter retention, per-fan-out padding, atomic renames, missing
inputs, emptied batches, nested bodies); the handoff test pins what the
next step of a run receives."""

import pytest
from pyspark.sql import types as T

from towhee_spark.pipeline import Pipeline


def test_compat_filter_then_map_reads_failed_output(spark):
    base = (
        Pipeline.input("a")
        .filter("a", "c", "a", lambda s: len(s) > 1, native=False)
        .map("c", "d", lambda c: c.upper(), native=False)
    )
    rows = [("x",), ("yy",), ("z",)]
    # the failed row keeps flowing with c Empty, and the map skips it
    assert base.output("a", "c", "d").run_rows(spark, rows, compat=True) == [
        ("x", None, None), ("yy", "yy", "YY"), ("z", None, None)]
    # default mode drops the row and does not forward the consumed 'a'
    assert base.output("c", "d").run_rows(spark, rows) == [("yy", "YY")]


def _two_fanouts():
    return (
        Pipeline.input("s")
        .flat_map("s", "w", lambda s: s.split(), native=False)
        .flat_map("w", "ch", lambda w: list(w), native=False)
        .output("s", "w", "ch")
    )


def test_two_flat_maps_default_order(spark):
    rows = _two_fanouts().run_rows(spark, [("ab c",), ("d",)])
    assert rows == [("ab c", "ab", "a"), ("ab c", "ab", "b"),
                    ("ab c", "c", "c"), ("d", "d", "d")]


def test_two_flat_maps_compat_pads_per_fanout(spark):
    rows = _two_fanouts().run_rows(spark, [("ab c",), ("d",)], compat=True)
    # each fan-out pads its parent's side columns on children 2..N: 's' on
    # the first fan-out's second child, 's' and 'w' on the second's
    assert rows == [("ab c", "ab", "a"), (None, None, "b"),
                    (None, "c", "c"), ("d", "d", "d")]


def test_swap_rename_filter_then_map(spark):
    p = (
        Pipeline.input("a", "b")
        .filter(("a", "b"), ("b", "a"), "a", lambda a: a != "skip", native=False)
        .map(("a", "b"), "c", lambda a, b: f"{a}|{b}", native=False)
        .output("a", "b", "c")
    )
    rows = p.run_rows(spark, [("p", "q"), ("skip", "r"), ("s", "t")])
    assert rows == [("q", "p", "q|p"), ("t", "s", "t|s")]


def test_zero_output_map_and_generator_into_flat_map(spark):
    seen = []
    p = (
        Pipeline.input("s")
        .map("s", (), seen.append)
        .map("s", "g", lambda s: (c for c in s),
             out_types=[T.ArrayType(T.StringType())], native=False)
        .flat_map("g", "ch", lambda g: [c * 2 for c in g], native=False)
        .output("s", "g", "ch")
    )
    rows = p.run_rows(spark, [("ab",), ("c",)])
    assert [(s, list(g), ch) for s, g, ch in rows] == [
        ("ab", ["a", "b"], "aa"), ("ab", ["a", "b"], "bb"), ("c", ["c"], "cc")]


def test_every_row_of_a_batch_filtered_out(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "s string").coalesce(1)
    p = (
        Pipeline.input("s")
        .map("s", "t", lambda s: s + "!", native=False)
        .filter("t", "t", "t", lambda t: t == "none", native=False)
        .flat_map("t", "u", lambda t: [t, t], native=False)
        .map("u", "v", lambda u: u.upper(), native=False)
        .output("s", "u", "v")
    )
    out = p.apply(df)
    assert out.collect() == []
    assert out.columns == ["s", "u", "v"]
    assert p.run_rows(spark, [("a",)]) == []


def test_nested_python_body(spark):
    sub = (
        Pipeline.input("x")
        .map("x", "y", lambda v: v.upper(), native=False)
        .map("y", "z", lambda v: v + "!", native=False)
        .output("z")
    )
    p = (
        Pipeline.input("a")
        .map("a", "b", sub)
        .map("b", "c", lambda b: b * 2, native=False)
        .output("a", "b", "c")
    )
    assert p.run_rows(spark, ["p", "q"]) == [("p", "P!", "P!P!"), ("q", "Q!", "Q!Q!")]


def test_next_step_receives_the_returned_value(spark):
    """Inside a run the next step gets what the previous fn returned: an
    int stays int even when its batch also holds a NULL (an Arrow round
    trip would hand over float), and a list stays a list (not ndarray)."""
    df = spark.createDataFrame([("1",), (None,), ("3",)], "s string").coalesce(1)
    p = (
        Pipeline.input("s")
        .map("s", "n", lambda s: int(s), out_types=[T.LongType()], native=False)
        .map("n", "nt", lambda n: type(n).__name__, native=False)
        .map("s", "l", lambda s: [s], out_types=[T.ArrayType(T.StringType())],
             native=False)
        .map("l", "lt", lambda v: type(v).__name__, native=False)
        .output("s", "n", "nt", "lt")
    )
    got = sorted(p.apply(df).collect(), key=lambda r: r.s or "")
    assert [tuple(r) for r in got] == [
        (None, None, None, None), ("1", 1, "int", "list"), ("3", 3, "int", "list")]


@pytest.mark.parametrize("native", [True, False])
def test_map_overwriting_a_column_keeps_its_position(spark, native):
    df = spark.createDataFrame([(1, "x"), (5, "y")], "a long, b string")
    p = Pipeline.input("a", "b").map("a", "a", lambda x: x + 1,
                                     out_types=[T.LongType()], native=native)
    out = p.apply(df)
    assert out.columns == ["a", "b"]
    assert sorted(tuple(r) for r in out.collect()) == [(2, "x"), (6, "y")]
