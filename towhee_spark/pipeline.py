"""Towhee-parity Pipeline DSL compiled to Spark DataFrame plans.

Mirrors the 9 node types of towhee/runtime/pipeline.py (input/output/map/
flat_map/filter/window/time_window/window_all/reduce/concat) with the same
signatures and row semantics (golden tests reuse the reference's own
expected outputs), but each node compiles to a declarative DataFrame
transformation — Catalyst does the planning that Towhee's thread-per-node
DataQueue runtime (towhee/runtime/runtime_pipeline.py) did by hand.

Function dispatch: every user callable is first tried NATIVELY — called
with ``pyspark.sql.Column`` arguments; if it returns Column(s) (e.g.
``lambda x: x + 1``), the node stays entirely JVM-side inside whole-stage
codegen.  Only genuinely-Python callables fall back to Arrow-batched
execution — batched transfer, no per-row serialization; the fn is still
called once per row, Towhee's per-row call contract (use
``towhee_spark.kernels`` for vectorized hot-path kernels).

Runs: each maximal run of consecutive Python map/filter/flat_map nodes
compiles to ONE ``mapInPandas`` in which every row passes through the
nodes' steps in order (Towhee runs one thread per node; Spark pipelines
the run inside one Python operator, SURVEY.md §1.1). Native nodes and
group nodes split runs. Handoff rule: values enter a run as the pandas
batch holds them (``Series.tolist()``); inside the run, the next step
receives the Python value the previous fn returned (a list stays a list,
an int stays an int), and a NULL the engine emits — a missing input, a
compat filter's failed output, a compat fan-out pad — is ``None``. This
is how Towhee's DataQueue hands values between nodes.

A Towhee pipeline invocation ``p(a, b)`` pushes one logical row through the
DAG; a table-mode run treats the whole input DataFrame as the batch of all
invocations (SURVEY.md §1.1).  Group-scoped nodes (window/time_window/
window_all/reduce) act per ``by`` key — the invocation id in parity mode,
``conv_id`` in transcript pipelines.

Default divergences (queue-alignment artifacts of the reference's
DataQueue, replaced by relational semantics) — ALL reproducible exactly
with ``compat=True`` on apply()/run_rows(), golden-tested against the
reference's own cases in tests/test_compat_mode.py:

* flat_map fan-out: Towhee pads the parent's side-by columns with Empty()
  on rows 2..N (test_flat_map_node.py:278-318); the default REPLICATES the
  parent values (standard explode semantics) — NULL-padded parents would
  break downstream joins/windows. compat pads.
* filter: Towhee keeps failing rows alive on side-by queues and zips the
  renamed outputs back as Empty() (test_user_pipeline.py:213-224); the
  default drops the whole row (relational WHERE), matching the
  single-output golden (:204-211) and every SQL oracle. compat keeps the
  row with NULL outputs, and output() drops rows whose every referenced
  column is Empty (so the single-output golden still holds).
* reduce on a fully-filtered (empty) stream: Towhee still calls the fn on
  empty generators and emits one row (test_user_pipeline.py:395-405), while
  an all-empty window_all emits nothing (:383-393); the default emits no
  row for an empty group (SQL GROUP BY). compat reproduces both.

compat encodes Empty() as NULL, so a genuine None returned by a user fn is
indistinguishable from Empty there (output() drops all-NULL rows, window
fns skip NULL inputs); pipelines whose fns legitimately emit None as data
should run in default mode, where NULL is just a value.

One queue artifact is NOT replicated in either mode: per-COLUMN length
zipping at output after a group node changes one branch's cardinality
(test_user_pipeline.py:417-431 — a time_window's 2-row output column zips
against a 7-row sibling column with Empty padding). Rows here are zipped at
concat time, so sibling columns share the row's cardinality from that point
on; pipelines needing the reference layout should concat AFTER the group
node (both orderings express the same data).
"""

from __future__ import annotations

import copy
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field, replace
from types import GeneratorType
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ROW_ORDER = "__row_order"
_INVOCATION = "__invocation"


@dataclass(frozen=True)
class _Ctx:
    """Execution context threaded through node compilers.

    ``by``     — group key for window-family nodes (invocation id in parity
                 mode, a real key like conv_id in table mode).
    ``order``  — explicit within-group row order for table mode (Towhee
                 streams arrive in queue order; a DataFrame needs the order
                 declared). Falls back to __row_order / (ts, turn_idx).
    ``compat`` — opt-in Towhee queue-artifact semantics (flat_map side-column
                 Empty padding, filter side-by retention, reduce-on-empty);
                 see the module docstring's divergence list.
    """

    by: str | None = None
    order: tuple[str, ...] = ()
    compat: bool = False


def _tup(x) -> tuple[str, ...]:
    if x is None:
        return ()
    return (x,) if isinstance(x, str) else tuple(x)


def _try_native(fn: Callable, in_cols: Sequence[str], mode=None,
                schema: T.StructType | None = None, cache: dict | None = None):
    """Probe fn with Column args; a Column(-tuple) result means the node can
    run JVM-side. Returns list[Column] or None. ``mode``: None=auto probe,
    False=never (force Python path), True=require (raise if not
    compilable).

    Auto-probe trap guard: a genuinely-Python fn whose operators also mean
    something on Columns would silently compile to SQL semantics
    (``lambda s: s * 2`` on a string → numeric multiply → NULL/error, not
    ``'abab'``). When ``mode is None`` and the fn is ALSO callable on plain
    sample values, both interpretations are evaluated on one literal row
    (a driver-local 1-row job at plan build) and the Python path wins on
    disagreement. Explicit ``native=True/False`` skips the check; so does
    ``schema=None`` (the input types the check samples). ``cache`` (the
    node's params dict, keyed by input dtypes) memoizes the verdict so
    repeated apply() of one Pipeline pays the probe job once."""
    if mode is False:
        return None
    try:
        res = fn(*[F.col(c) for c in in_cols])
    except Exception:
        if mode is True:
            raise ValueError("native=True but fn raised when probed with Columns")
        return None
    if isinstance(res, Column):
        cols = [res]
    elif isinstance(res, (tuple, list)) and res and all(isinstance(c, Column) for c in res):
        cols = list(res)
    else:
        if mode is True:
            raise ValueError("native=True but fn did not compile to Column expressions")
        return None
    if mode is None and schema is not None:
        key = None
        if cache is not None:
            try:
                key = tuple(schema[c].dataType.simpleString() for c in in_cols)
            except Exception:
                key = None
        if key is not None and key in cache:
            agreed = cache[key]
        else:
            agreed = _probe_agrees(fn, in_cols, cols, schema)
            if key is not None:
                cache[key] = agreed
        if not agreed:
            return None
    return cols


def _samples_for(dt: T.DataType) -> list | None:
    """Plain-Python probe values for a column type; None = unvalidatable.
    Numerics probe positive, NEGATIVE and ZERO — Python and SQL agree on
    positives for ops they disagree on elsewhere (mod/floordiv sign rules:
    Python (-7) % 5 == 3 vs Spark pmod-less MOD == -2), so a
    positive-only sample would bless wrong native compilations."""
    if isinstance(dt, T.StringType):
        return ["ab ab"]
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return [3, -7, 0]
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return [2.5, -7.5, 0.0]
    if isinstance(dt, T.BooleanType):
        return [True, False]
    if isinstance(dt, T.ArrayType):
        inner = _samples_for(dt.elementType)
        return None if inner is None else [[v, v] for v in inner]
    return None


def _probe_agrees(fn, in_cols, cols, schema: T.StructType) -> bool:
    """True unless fn is ALSO a plain-Python fn whose Python result differs
    from the compiled Columns' result on any sampled literal row.

    Sample rows take the diagonal of each input's sample list (padded with
    its last value), so every input sees its negative/zero probes. Rows
    where the PYTHON eval raises (e.g. 1/0 on the zero probe) are skipped —
    they can't discriminate; if every row raises the fn is Column-only and
    native is right. A SQL-side error on the comparable rows means SQL
    semantics diverge where Python works → keep the Python path."""
    try:
        per_col = [_samples_for(schema[c].dataType) for c in in_cols]
    except Exception:
        return True
    if any(s is None for s in per_col):
        return True  # no probe value for this type — trust the Column probe
    # full cartesian when feasible (multi-input sign traps like a % b need
    # MIXED-sign rows — the diagonal (3,3)/(-7,-7)/(0,0) agrees on ops that
    # diverge only at (-7, 5)); these are literal rows in one tiny local
    # job, so up to ~1000 combinations is cheap. Beyond that (7+ numeric
    # inputs), the diagonal is augmented with explicit PAIRWISE mixing rows
    # — for every column pair, both (2nd sample, 1st sample) orientations —
    # which covers every two-column sign interaction; rotated-diagonal
    # schemes do NOT (columns whose index distance is a multiple of the
    # sample count always move in lockstep — code-review finding)
    import itertools  # noqa: PLC0415

    n_comb = 1
    for s in per_col:
        n_comb *= len(s)
    if n_comb <= 1024:
        rows = list(itertools.product(*per_col))
    else:
        n_rows = max(len(s) for s in per_col)
        # diagonal rows (all-pos / all-neg / all-zero) ...
        rows = [tuple(s[min(j, len(s) - 1)] for s in per_col) for j in range(n_rows)]
        # ... plus single-deviation rows: column i takes each of its other
        # samples while every other column sits at its first (positive)
        # sample — covers every (col_i value, col_j positive) interaction
        for i, samples in enumerate(per_col):
            for v in samples[1:]:
                r = [s[0] for s in per_col]
                r[i] = v
                rows.append(tuple(r))
        # dedupe by repr: sample values may be unhashable (array samples)
        seen: set[str] = set()
        rows = [r for r in rows if not (repr(r) in seen or seen.add(repr(r)))]

    py_ok: list[tuple] = []   # (row, py_result) where python evaluated
    for r in rows:
        try:
            py_ok.append((r, fn(*r)))
        except Exception:
            continue
    if not py_ok:
        return True  # Column-only fn (raises on plain values) — native is right
    if any(isinstance(v, Column)
           for _, res in py_ok
           for v in (res if isinstance(res, (tuple, list)) else (res,))):
        return True  # fn builds Columns regardless of input — native
    sample_schema = T.StructType([T.StructField(c, schema[c].dataType) for c in in_cols])
    try:
        sql_rows = (
            SparkSession.active().createDataFrame([r for r, _ in py_ok], schema=sample_schema)
            .select(*[c.alias(f"__v{i}") for i, c in enumerate(cols)])
            .collect()
        )
    except Exception:
        return False  # SQL meaning errors where Python works (ANSI cast etc.)
    import math  # noqa: PLC0415

    for (_, py_res), row in zip(py_ok, sql_rows):
        if len(cols) == 1:
            py_vals = [py_res]
        else:
            py_vals = list(py_res) if isinstance(py_res, (tuple, list)) else [py_res]
        if len(py_vals) != len(row):
            return False
        for p, s in zip(py_vals, row):
            if p is None and s is None:
                continue
            if isinstance(p, float) or isinstance(s, float):
                if p is None or s is None or not math.isclose(float(p), float(s), rel_tol=1e-9):
                    return False
                continue
            if isinstance(p, (tuple, list)):
                if not isinstance(s, (tuple, list)):
                    return False  # Python fn yields a collection, SQL a scalar
                p, s = list(p), list(s)
            try:
                if p != s:
                    return False
            except Exception:
                return False  # incomparable shapes → keep Python semantics
    return True


def _out_fields(out_cols, out_types) -> list[T.StructField]:
    types = list(out_types) if out_types else [T.StringType() for _ in out_cols]
    if len(types) != len(out_cols):
        raise ValueError("out_types length must match out_cols")
    types = [t if isinstance(t, T.DataType) else T._parse_datatype_string(t) for t in types]
    return [T.StructField(c, t, True) for c, t in zip(out_cols, types)]


@dataclass
class _Node:
    kind: str
    in_cols: tuple[str, ...] = ()
    out_cols: tuple[str, ...] = ()
    fn: Any = None
    params: dict = field(default_factory=dict)


class Pipeline:
    """Immutable builder (each call deep-copies, mirroring
    towhee/runtime/pipeline.py:104-141's dag copy) of a node list that
    :meth:`apply` compiles onto a DataFrame."""

    def __init__(self, nodes: list[_Node] | None = None, input_cols: tuple[str, ...] = ()):
        self._nodes: list[_Node] = nodes or []
        self._input_cols = input_cols

    # -- builders ---------------------------------------------------------
    @classmethod
    def input(cls, *cols: str) -> "Pipeline":
        return cls([_Node("input", in_cols=tuple(cols))], tuple(cols))

    def _append(self, node: _Node) -> "Pipeline":
        return Pipeline(copy.deepcopy(self._nodes) + [node], self._input_cols)

    def map(self, in_cols, out_cols, fn, out_types=None, native=None) -> "Pipeline":
        """1-row→1-row projection.

        Dispatch: ``native=None`` (default) probes fn with Column args and
        compiles JVM-side when it returns Column(s). CAVEAT: a Python fn
        whose operators also mean something on Columns compiles to SQL
        semantics (``lambda s: s * 2`` on a string column → numeric multiply
        → NULL, not ``'abab'``) — pass ``native=False`` to force the Arrow
        Python path, ``native=True`` to require JVM compilation (errors if
        the probe fails)."""
        return self._append(_Node("map", _tup(in_cols), _tup(out_cols), fn,
                                  {"out_types": out_types, "native": native}))

    def flat_map(self, in_cols, out_cols, fn, out_types=None, native=None) -> "Pipeline":
        return self._append(_Node("flat_map", _tup(in_cols), _tup(out_cols), fn,
                                  {"out_types": out_types, "native": native}))

    def filter(self, in_cols, out_cols, filter_cols, fn, native=None) -> "Pipeline":
        if len(_tup(in_cols)) != len(_tup(out_cols)):
            raise ValueError("filter: len(in_cols) must equal len(out_cols)")
        return self._append(_Node("filter", _tup(in_cols), _tup(out_cols), fn,
                                  {"filter_cols": _tup(filter_cols), "native": native}))

    def window(self, in_cols, out_cols, size: int, step: int, fn, out_types=None,
               wid_col: str | None = None,
               chunk_seconds: float | None = None) -> "Pipeline":
        """Count window of ``size`` rows advancing by ``step``.  ``wid_col``
        names an extra output carrying the 0-based window id (Towhee emits
        windows in order but anonymously; tables want the id addressable).

        ``chunk_seconds`` is the HOT-KEY lever: the per-key row index is
        computed per (key, time-chunk of the first order column) with a
        prefix-sum carry (temporal.chunked_row_number) instead of one
        bare-key row_number window — a mega-key no longer serializes onto
        one task. Same results; requires apply(by=..., order=...)."""
        return self._append(_Node("window", _tup(in_cols), _tup(out_cols), fn,
                                  {"size": size, "step": step, "out_types": out_types,
                                   "wid_col": wid_col,
                                   "chunk_seconds": chunk_seconds}))

    def time_window(self, in_cols, out_cols, timestamp_col: str, size: int, step: int,
                    fn, out_types=None, exact: bool = True,
                    emit_start: str | None = None,
                    chunk_seconds: float | None = None,
                    broadcast_carry: bool | None = True) -> "Pipeline":
        """Time window [start, start+size) advancing by ``step`` seconds.
        ``emit_start`` names an extra output carrying the window start in
        epoch seconds (both exact and scale paths).

        ``chunk_seconds`` (exact path only) is the HOT-KEY lever: the
        realign recurrence is computed per (key, time-chunk) with a tiny
        per-chunk carry — same results, but a mega-key no longer serializes
        onto one task (cf. temporal.locf_chunked). ``broadcast_carry``
        controls the carry join strategy (see temporal.carry_join)."""
        return self._append(_Node("time_window", _tup(in_cols), _tup(out_cols), fn,
                                  {"ts": timestamp_col, "size": size, "step": step,
                                   "out_types": out_types, "exact": exact,
                                   "emit_start": emit_start,
                                   "chunk_seconds": chunk_seconds,
                                   "broadcast_carry": broadcast_carry}))

    def window_all(self, in_cols, out_cols, fn, out_types=None) -> "Pipeline":
        return self._append(_Node("window_all", _tup(in_cols), _tup(out_cols), fn,
                                  {"out_types": out_types}))

    def reduce(self, in_cols, out_cols, fn, out_types=None) -> "Pipeline":
        if isinstance(fn, Pipeline):
            raise ValueError("pipelines are not allowed as reduce fn")  # pipeline.py:390-391
        return self._append(_Node("reduce", _tup(in_cols), _tup(out_cols), fn,
                                  {"out_types": out_types}))

    def concat(self, *others: "Pipeline") -> "Pipeline":
        """Merge sibling branches forked from a common ancestor
        (_concat.py:30-66 semantics, validated against the reference's
        test_user_pipeline.py concat goldens):

        * each branch computes from the FORK state, not from the other
          branches' outputs;
        * on conflicting column writes, the later-listed pipeline wins
          (``self`` has lowest precedence — updated_schema1/2 goldens);
        * branches ending in window_all/reduce yield per-key scalars that
          replicate against the surviving row stream (multi_types golden) —
          compiled as a broadcast join on the group key.
        """
        if not others:
            raise ValueError("concat requires at least one pipeline")
        if any(not isinstance(o, Pipeline) for o in others):
            raise ValueError("concat arguments must be Pipelines")
        prefix_len = len(self._nodes)
        for o in others:
            pl = 0
            for a, b in zip(self._nodes, o._nodes):
                if a.kind == b.kind and a.in_cols == b.in_cols and a.out_cols == b.out_cols:
                    pl += 1
                else:
                    break
            prefix_len = min(prefix_len, pl)
        prefix = copy.deepcopy(self._nodes[:prefix_len])
        branches = [copy.deepcopy(self._nodes[prefix_len:])] + [
            copy.deepcopy(o._nodes[prefix_len:]) for o in others
        ]
        return Pipeline(
            prefix + [_Node("concat", params={"branches": branches})], self._input_cols
        )

    def output(self, *cols: str) -> "Pipeline":
        return self._append(_Node("output", in_cols=tuple(cols)))

    # -- execution --------------------------------------------------------
    def apply(
        self,
        df: DataFrame,
        by: str | None = None,
        order: Sequence[str] | str | None = None,
        compat: bool = False,
    ) -> DataFrame:
        """Compile the node list onto ``df`` (table mode).  ``by`` scopes
        group nodes (window/time_window/window_all/reduce); None = global.
        ``order`` declares the within-group row order (e.g. ("ts",
        "event_id")) — required for deterministic count windows on tables.
        ``compat=True`` enables Towhee queue-artifact semantics (see _Ctx)."""
        return _compile_nodes(df, self._nodes, _Ctx(by=by, order=_tup(order), compat=compat))

    __call__ = apply

    def run_rows(self, spark: SparkSession, rows: list[tuple], schema=None,
                 compat: bool = False) -> list[tuple]:
        """Towhee parity mode: each element of ``rows`` is one pipeline
        invocation (``p.batch()``, runtime_pipeline.py:179-202). Returns the
        output rows in invocation order. ``compat=True`` enables the queue-
        artifact semantics (see _Ctx)."""
        cols = list(self._input_cols)
        rows = [r if isinstance(r, tuple) else (r,) for r in rows]
        pdf = pd.DataFrame([
            dict(zip(cols, r), **{_INVOCATION: i, _ROW_ORDER: 0}) for i, r in enumerate(rows)
        ])
        df = spark.createDataFrame(pdf, schema=schema) if schema else spark.createDataFrame(pdf)
        res = self.apply(df, by=_INVOCATION, compat=compat)
        out_cols = [c for c in res.columns if not c.startswith("__")]
        order = [c for c in (_INVOCATION, _ROW_ORDER) if c in res.columns]
        collected = res.orderBy(*order).select(*out_cols).collect()
        return [tuple(r) for r in collected]


def pipe() -> type[Pipeline]:
    return Pipeline


# -- node compilers --------------------------------------------------------

def _compile_input(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    missing = [c for c in node.in_cols if c not in df.columns]
    if missing:
        raise ValueError(f"input columns not in DataFrame: {missing}")
    return df


def _compile_output(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    # bookkeeping columns survive only in parity mode (run_rows needs them
    # for invocation ordering and filters them itself); table-mode output is
    # exactly the declared columns
    keep = (
        [c for c in df.columns if c.startswith("__")]
        if _INVOCATION in df.columns
        else []
    )
    if ctx.compat and node.in_cols:
        # a queue row exists only while >=1 referenced column still has a
        # value — a compat-filter row whose every output column is Empty is
        # never emitted (ref test_user_pipeline.py:203-210 vs :213-224)
        alive = None
        for c in node.in_cols:
            nn = F.col(c).isNotNull()
            alive = nn if alive is None else (alive | nn)
        df = df.filter(alive)
    return df.select(*node.in_cols, *keep)


def _compile_nodes(df: DataFrame, nodes: Sequence[_Node], ctx: _Ctx) -> DataFrame:
    """Compile a node list onto ``df``. Consecutive map/filter/flat_map
    nodes whose native probe fails collect into a run that compiles to ONE
    Python operator (_compile_run); any other node ends the run. The probe
    reads each in-col's type from the run's derived schema."""
    run: list[_Node] = []
    fields: list[T.StructField] | None = None  # schema after the pending run
    for node in nodes:
        native = None
        if node.kind in ("map", "filter", "flat_map") and not isinstance(node.fn, Pipeline):
            if node.kind == "map" and not node.out_cols:
                # 0-output map: fn runs for side effects, row passes through
                # unchanged (_map.py:72-76) — side effects don't belong in a
                # Spark plan, so this is the identity.
                continue
            if fields is None:
                fields = list(df.schema.fields)
            native = _native_cols(node, T.StructType(fields))
            if native is None:
                run.append(node)
                fields = _step_fields(fields, node, ctx)
                continue
        if run:
            df, run = _compile_run(df, run, fields, ctx), []
        fields = None
        df = (_NATIVE[node.kind](df, node, native, ctx) if native is not None
              else _COMPILERS[node.kind](df, node, ctx))
    return _compile_run(df, run, fields, ctx) if run else df


def _native_cols(node: _Node, schema: T.StructType) -> list[Column] | None:
    """The node's Column expressions when it compiles JVM-side, else None:
    a map needs one Column per output, a filter one predicate, a flat_map
    one array Column for its single output."""
    fn_in = node.params["filter_cols"] if node.kind == "filter" else node.in_cols
    cols = _try_native(node.fn, fn_in, node.params.get("native"), schema,
                       node.params.setdefault("_probe_cache", {}))
    want = len(node.out_cols) if node.kind == "map" else 1
    if cols is None or len(cols) != want or (node.kind == "flat_map" and len(node.out_cols) != 1):
        return None
    return cols


def _native_map(df: DataFrame, node: _Node, cols: list[Column], ctx: _Ctx) -> DataFrame:
    for name, col in zip(node.out_cols, cols):
        df = df.withColumn(name, col)
    return df


def _native_filter(df: DataFrame, node: _Node, cols: list[Column], ctx: _Ctx) -> DataFrame:
    # compat keeps every row, with the outputs NULL where the predicate
    # fails; the default drops the row (see _step_fields)
    ok = F.coalesce(cols[0], F.lit(False))
    if not ctx.compat:
        df = df.filter(cols[0])
    src = dict(zip(node.out_cols, node.in_cols))
    return df.select(*[
        (F.when(ok, F.col(src[f.name])) if ctx.compat else F.col(src[f.name])).alias(f.name)
        if f.name in src else f.name
        for f in _step_fields(df.schema.fields, node, ctx)
    ])


def _native_flat_map(df: DataFrame, node: _Node, cols: list[Column], ctx: _Ctx) -> DataFrame:
    # fn of Columns returning one array Column → posexplode (the position
    # column keeps within-parent emission order well-defined)
    others = [c for c in df.columns if c != node.out_cols[0]]
    df = df.select(*others, F.posexplode(cols[0]).alias("__pos", node.out_cols[0]))
    if ctx.compat:
        df = df.select(*[F.when(F.col("__pos") == 0, F.col(c)).alias(c)
                         if _padded(c, node.out_cols, ctx) else c for c in df.columns])
    return _renumber(df)


_NATIVE = {"map": _native_map, "filter": _native_filter, "flat_map": _native_flat_map}


def _step_fields(fields: list[T.StructField], node: _Node, ctx: _Ctx) -> list[T.StructField]:
    """Schema after one Python row step; the native filter selects its
    columns through it too."""
    if node.kind == "filter":
        # the positional in→out rename is ATOMIC (swap golden
        # test_filter_node.py:153-181); consumed inputs are not forwarded.
        # compat: Towhee keeps failing rows alive on side-by queues, outputs
        # Empty and consumed inputs flowing (ref test_user_pipeline.py:
        # 213-224 golden: (5,6,8,Empty())); _compile_output drops rows whose
        # every OUTPUT-referenced column is Empty.
        ins, outs = node.in_cols, node.out_cols
        if ins == outs and not ctx.compat:
            return fields
        types = {f.name: f.dataType for f in fields}
        gone = set(outs) if ctx.compat else set(ins) | set(outs)
        return ([f for f in fields if f.name not in gone]
                + [T.StructField(o, types[i], True) for i, o in zip(ins, outs)])
    if node.kind == "map":
        # an output that replaces a field keeps its position, as withColumn
        # does on the native path (_native_map)
        new = {f.name: f for f in _out_fields(node.out_cols, node.params.get("out_types"))}
        return [new.pop(f.name, f) for f in fields] + list(new.values())
    kept = [f for f in fields if f.name not in node.out_cols]
    if node.kind == "flat_map" and ctx.compat:
        kept = [T.StructField(f.name, f.dataType, True) if _padded(f.name, node.out_cols, ctx)
                else f for f in kept]
    return kept + _out_fields(node.out_cols, node.params.get("out_types"))


def _compile_run(df: DataFrame, nodes: list[_Node], fields: list[T.StructField],
                 ctx: _Ctx) -> DataFrame:
    """ONE mapInPandas for a run of Python row nodes: each batch row passes
    through every node's step in order (_run_batch). A run that fans out
    emits each row's per-input-row emission index as ``__pos``, from which
    _renumber re-derives the row order once."""
    steps = [(n.kind, n.in_cols, n.out_cols, n.params.get("filter_cols"), n.fn)
             for n in nodes]
    fans = any(n.kind == "flat_map" for n in nodes)
    if fans:
        fields = fields + [T.StructField("__pos", T.IntegerType())]
    names = [f.name for f in fields]

    def run(batches):
        for pdf in batches:
            yield _run_batch(pdf, steps, names, ctx)

    out = df.mapInPandas(run, schema=T.StructType(fields))
    return _renumber(out) if fans else out


def _run_batch(pdf: pd.DataFrame, steps, names: list[str], ctx: _Ctx) -> pd.DataFrame:
    """One Arrow batch through a run's steps. A column is the name of an
    untouched batch column or the list of its current Python values; ``src``
    maps each current row to its input row (steps drop or fan out rows in
    order, so the rows of one input row stay adjacent)."""
    src = list(range(len(pdf)))
    cols: dict[str, str | list] = {c: c for c in pdf.columns}
    batch_values: dict[str, list] = {}

    def read(c):
        v = cols[c]
        if isinstance(v, list):
            return v
        if v not in batch_values:
            batch_values[v] = pdf[v].tolist()
        return [batch_values[v][i] for i in src]

    def rows_of(in_cols):
        return list(zip(*map(read, in_cols))) if in_cols else [()] * len(src)

    def take(rows):  # keep or repeat current rows by position
        nonlocal src
        src = [src[r] for r in rows]
        for c, v in cols.items():
            if isinstance(v, list):
                cols[c] = [v[r] for r in rows]

    for kind, in_cols, out_cols, filter_cols, fn in steps:
        if kind == "map":
            res = [_map_row(fn, args, len(out_cols)) for args in rows_of(in_cols)]
            for j, o in enumerate(out_cols):
                cols[o] = [r[j] for r in res]
        elif kind == "filter":
            ok = [bool(fn(*args)) for args in rows_of(filter_cols)]
            if ctx.compat:  # failing rows survive with Empty outputs (_step_fields)
                values = [read(i) for i in in_cols]
                for o, v in zip(out_cols, values):
                    cols[o] = [x if keep else None for x, keep in zip(v, ok)]
            else:  # drop, then the atomic in→out rename (_step_fields)
                take([r for r, keep in enumerate(ok) if keep])
                renamed = {o: cols[i] for i, o in zip(in_cols, out_cols)}
                for i in in_cols:
                    del cols[i]
                cols.update(renamed)
        else:  # flat_map
            parent, pos, items = [], [], []
            for r, args in enumerate(rows_of(in_cols)):
                for j, item in enumerate(fn(*args)):
                    parent.append(r)
                    pos.append(j)
                    items.append(_fan_item(item, out_cols))
            take(parent)
            for j, o in enumerate(out_cols):
                cols[o] = [it[j] for it in items]
            if ctx.compat:  # children 2..N carry Empty side columns (_padded)
                for c in cols:
                    if _padded(c, out_cols, ctx):
                        cols[c] = [v if p == 0 else None for v, p in zip(read(c), pos)]

    data: dict[str, Any] = {}
    for c in names:
        if c == "__pos":  # emission index within the input row
            data[c] = pd.Series(src, dtype="int64").groupby(src).cumcount()
        elif isinstance(cols[c], list):
            data[c] = pd.Series(cols[c], dtype=object)
        else:
            data[c] = pdf[cols[c]].iloc[src].reset_index(drop=True)
    return pd.DataFrame(data, columns=names)


def _is_missing(v) -> bool:
    """Empty in a Python value: None, or a scalar unequal to itself (NaN,
    NaT). Arrays and pd.NA compare to no single bool and are values."""
    if v is None:
        return True
    try:
        ne = v != v
    except Exception:
        return False
    return isinstance(ne, (bool, np.bool_)) and bool(ne)


def _map_row(fn, args, n_out: int) -> tuple:
    # a missing (Empty≈NULL) input skips the fn and emits NULL outputs
    # (_map.py:58-59); generator results are materialized to lists
    # (_map.py:85-92)
    if any(_is_missing(a) for a in args):
        return (None,) * n_out
    res = fn(*args)
    return tuple(list(v) if isinstance(v, GeneratorType) else v
                 for v in ((res,) if n_out == 1 else res))


def _fan_item(item, out_cols) -> tuple:
    if len(out_cols) == 1:
        return (item,)
    if isinstance(item, (tuple, list, np.ndarray)):
        return tuple(item)
    raise TypeError(f"flat_map fn item {item!r} not splittable into {out_cols}")


def _inline_subpipeline(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    """Nested pipeline as a map fn — the reference inlines the sub-DAG with
    schema renaming (dag_repr.py:384-430); here: bridge outer in_cols onto
    the sub-pipeline's declared inputs, apply its nodes, rename its outputs.
    """
    sub: Pipeline = node.fn
    sub_nodes = sub._nodes  # noqa: SLF001
    if not sub_nodes or sub_nodes[0].kind != "input" or sub_nodes[-1].kind != "output":
        raise ValueError("nested pipeline must start with input() and end with output()")
    sub_in = sub_nodes[0].in_cols
    sub_out = sub_nodes[-1].in_cols
    if len(sub_in) != len(node.in_cols) or len(sub_out) != len(node.out_cols):
        raise ValueError(
            f"nested pipeline arity mismatch: inputs {sub_in} vs {node.in_cols}, "
            f"outputs {sub_out} vs {node.out_cols}"
        )
    clash = [c for c in sub_in if c in df.columns and c not in node.in_cols]
    if clash:
        raise ValueError(f"nested pipeline input names collide with columns: {clash}")
    out = df
    for outer, inner in zip(node.in_cols, sub_in):
        if outer != inner:
            out = out.withColumn(inner, F.col(outer))
    # body only: the outer pipeline keeps its columns
    out = _compile_nodes(out, sub_nodes[1:-1], ctx)
    for inner, outer in zip(sub_out, node.out_cols):
        if inner != outer:
            out = out.withColumn(outer, F.col(inner)).drop(inner)
    drop_bridges = [i for o, i in zip(node.in_cols, sub_in) if o != i]
    return out.drop(*drop_bridges)


def _padded(c: str, out_cols, ctx: _Ctx) -> bool:
    """compat: the reference emits a flat_map parent's side columns only on
    the FIRST child row — rows 2..N carry Empty() (test_flat_map_node.py:
    278-318 golden: num=[1,2] then Empty); the default replicates them
    (relational explode). Never padded: the outputs, ``__`` bookkeeping and
    the grouping key — an engine concept (apply(by=...)), not a Towhee queue
    column; NULLing it would merge every fan-out row into one NULL group
    for downstream window/reduce nodes."""
    return c not in out_cols and c != ctx.by and not c.startswith("__")


def _renumber(df: DataFrame) -> DataFrame:
    """Re-derive per-invocation row order after a fan-out (parity mode).
    Secondary sort on the fan-out position — row_number over parent order
    alone would tie all children of one parent and break emission order."""
    if _ROW_ORDER in df.columns and _INVOCATION in df.columns:
        order = [c for c in (_ROW_ORDER, "__pos") if c in df.columns]
        w = Window.partitionBy(_INVOCATION).orderBy(*order)
        df = df.withColumn(_ROW_ORDER, F.row_number().over(w))
    return df.drop("__pos")


def _order_cols(df: DataFrame, ctx: _Ctx) -> list[str]:
    if ctx.order:
        missing = [c for c in ctx.order if c not in df.columns]
        if missing:
            raise ValueError(f"order columns not in DataFrame: {missing}")
        return list(ctx.order)
    if _ROW_ORDER in df.columns:
        return [_ROW_ORDER]
    if "ts" in df.columns:
        return [c for c in ("ts", "turn_idx") if c in df.columns]
    return []


def _native_agg(df2, node, group_keys):
    """Window-family fast path: probe the fn with Column args — a fn built
    from aggregate expressions (``lambda v: (F.count(v), F.sum(v))``)
    compiles the whole node to one JVM hash aggregate (map-side combine,
    zero Python) instead of an applyInPandas call per group. Python
    list-taking fns probe-fail and keep the exact per-group semantics.
    Note: native aggregation is ORDER-INSENSITIVE — order-dependent folds
    (e.g. collect-style) must pass native=False."""
    agg_cols = _try_native(node.fn, node.in_cols, node.params.get("native"))
    if agg_cols is None or len(agg_cols) != len(node.out_cols):
        return None
    try:
        aliased = [c.alias(o) for c, o in zip(agg_cols, node.out_cols)]
        return df2.groupBy(*group_keys).agg(*aliased)
    except Exception:  # non-aggregate Column expr → per-group Python path
        return None


def _apply_grouped(df, node, ctx: _Ctx, assign_extra_cols):
    """Shared skeleton for window-family nodes: assign group/window ids,
    then applyInPandas the list-taking fn per (by, window) group."""
    in_cols, out_cols, fn = list(node.in_cols), list(node.out_cols), node.fn
    fields = _out_fields(node.out_cols, node.params.get("out_types"))
    keys = [ctx.by] if ctx.by else []
    order = _order_cols(df, ctx)
    df2, win_keys = assign_extra_cols(df, keys, order)
    group_keys = keys + win_keys
    if not ctx.compat:
        nat = _native_agg(df2, node, group_keys)
        if nat is not None:
            return nat
    schema = T.StructType([df2.schema[k] for k in group_keys] + fields)
    names = [f.name for f in schema.fields]
    sort_cols = [c for c in order if c in df2.columns]
    # compat: an all-Empty window/window_all never emits, but reduce on an
    # empty stream still calls fn on empty iterables and emits one row
    # (ref test_user_pipeline.py:383-405 — window_all→[] vs reduce→[[0]])
    skip_empty = ctx.compat and node.kind != "reduce"

    def run(key, pdf):
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
        # each column's stream skips its own Empties independently
        # (_window_base.py:68-71; golden test_reduce.py:234-276)
        args = [[v for v in pdf[c] if not _is_missing(v)] for c in in_cols]
        if skip_empty and all(len(a) == 0 for a in args):
            return pd.DataFrame(columns=names)
        res = fn(*args)
        res = res if isinstance(res, tuple) else (res,)
        d = dict(zip(group_keys, key))
        d.update(dict(zip(out_cols, res)))
        return pd.DataFrame([d], columns=names)

    # no key: one global group (a single-partition fold)
    return df2.groupBy(*(group_keys or [F.lit(1).alias("__g")])).applyInPandas(
        run, schema=schema)


def _compile_window(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    size, step = node.params["size"], node.params["step"]

    def assign(df, keys, order):
        chunk_s = node.params.get("chunk_seconds")
        if chunk_s and not (keys and order):
            # silent fallback here would resurrect the bare-key mega-key
            # serialization chunk_seconds exists to remove (advisor r3) —
            # loud, like asof_join_chunked's unorderable-payload guard
            raise ValueError(
                "window(chunk_seconds=...) requires apply(by=..., order=...): "
                f"got by={keys!r}, order={order!r}"
            )
        if chunk_s and keys and order:
            # hot-key path: per-(key, chunk) local row_number + prefix-sum
            # offsets — no bare-key per-row window (see window() docstring)
            from towhee_spark.temporal import chunked_row_number  # noqa: PLC0415

            first = order[0]
            if not isinstance(first, str):
                raise ValueError(
                    "window(chunk_seconds=...) needs string order columns "
                    "(the first one is value-chunked)"
                )
            df = chunked_row_number(
                df, keys, first, chunk_s,
                extra_order=[o for o in order[1:]], out="__idx",
            )
        else:
            w = (Window.partitionBy(*keys).orderBy(*order) if keys or order
                 else Window.orderBy(F.monotonically_increasing_id()))
            df = df.withColumn("__idx", F.row_number().over(w) - 1)
        idx = F.col("__idx")
        lo = F.greatest(F.lit(0), F.ceil((idx - F.lit(size - 1)) / F.lit(step))).cast("long")
        hi = F.floor(idx / F.lit(step)).cast("long")
        # step>size leaves inter-window rows with lo>hi → member of no window
        # (Spark sequence(lo,hi) would generate a DESCENDING range there).
        wids = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(F.array().cast("array<long>"))
        df = df.withColumn("__wid", F.explode(wids)).drop("__idx")
        return df, ["__wid"]

    res = _apply_grouped(df, node, ctx, assign)
    wid_col = node.params.get("wid_col")
    if wid_col:
        return res.withColumnRenamed("__wid", wid_col)
    if _ROW_ORDER not in res.columns:  # window id is the new row order
        res = res.withColumnRenamed("__wid", _ROW_ORDER)
    return res.drop("__wid")


class _TwBuf:
    """Semantics model of the reference's chained time-window buffer
    (towhee/runtime/nodes/_time_window.py:54-99): a window [start, start+size)
    that routes rows crossing start+step into a lazily-created successor;
    an *empty* window completing at row t realigns itself to t//step*step
    (rows missing the realigned window are dropped, step>size case)."""

    __slots__ = ("start", "size", "step", "rows", "nxt")

    def __init__(self, start: int, size: int, step: int):
        self.start, self.size, self.step = start, size, step
        self.rows: list[int] = []
        self.nxt: "_TwBuf | None" = None

    def feed(self, i: int, t: int) -> bool:
        """Returns True when this window is complete (flushable)."""
        if t < self.start:
            return False
        if t < self.start + self.size:
            self.rows.append(i)
            if t >= self.start + self.step:
                if self.nxt is None:
                    self.nxt = _TwBuf(self.start + self.step, self.size, self.step)
                self.nxt.feed(i, t)
            return False
        if not self.rows:
            self.start = t // self.step * self.step
            if self.start <= t < self.start + self.size:
                return self.feed(i, t)
            return False
        if self.nxt is None:
            self.nxt = _TwBuf(self.start + self.step, self.size, self.step)
        self.nxt.feed(i, t)
        return True


def towhee_time_window_ids(
    ts_ms: list[int], size_sec: int, step_sec: int, with_starts: bool = False
) -> list:
    """Per emitted window, the indices of the ts-ordered rows it holds —
    exact Towhee time_window semantics including gap realignment
    (_time_window.py:81-87; _window_base.py:53-80 flush protocol).
    ``with_starts=True`` yields (start_ms, indices) tuples instead."""
    head = _TwBuf(0, size_sec * 1000, step_sec * 1000)
    out: list = []

    def emit(buf):
        out.append((buf.start, buf.rows) if with_starts else buf.rows)

    for i, t in enumerate(ts_ms):
        if head.feed(i, int(t)) and head.rows:
            emit(head)
            head = head.nxt
    while head is not None and head.rows:  # seal: flush chain until empty buf
        emit(head)
        head = head.nxt
    return out


def _compile_time_window(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    size, step, ts_col = node.params["size"], node.params["step"], node.params["ts"]
    exact = node.params.get("exact", True)
    emit_start = node.params.get("emit_start")
    keys = [ctx.by] if ctx.by else []
    is_ts = dict(df.dtypes)[ts_col].startswith("timestamp")
    # epoch_us handles TIMESTAMP_NTZ scans session-tz-independently
    # (a bare cast("double") rejects NTZ in Spark 4 ANSI mode);
    # numeric ts columns are interpreted as epoch-MILLISECONDS (Towhee's
    # time unit, _time_window.py:54-57)
    from towhee_spark.temporal import epoch_us  # noqa: PLC0415

    ms = (
        epoch_us(ts_col).cast("double") / 1000
        if is_ts
        else F.col(ts_col).cast("double")
    )
    size_ms, step_ms = size * 1000, step * 1000
    hi = F.floor(ms / step_ms).cast("long")
    lo = F.greatest(
        (F.floor((ms - size_ms) / step_ms) + 1).cast("long"), F.lit(0).cast("long")
    )

    if exact:
        # EXACT Towhee-buffer semantics, compiled natively. The buffer's gap
        # realignment (_time_window.py:81-87) reduces to a closed-form
        # pairwise recurrence — validated against towhee_time_window_ids on
        # 20k random (stream, size, step) cases (tests/test_time_window_ids
        # property test):
        #   * after processing row t_prev, the first EMPTY chain window
        #     starts at floor(t_prev/step)*step + step when t_prev was a
        #     member of its own aligned window, else AT floor(t_prev/step)*
        #     step itself (step>size dead-zone row: the realigned head
        #     stayed empty);
        #   * the chain REALIGNS at row t iff t >= that_empty_start + size,
        #     jumping to base = floor(t/step)*step — windows below the
        #     running max of these bases never exist.
        # So: lag → realign threshold → running base → clamp the aligned
        # window range at the base. Fully JVM (one window spec + explode) —
        # no per-key Python buffer, no single-task mega-key hazard beyond
        # the native lag/last sort every windowed op shares.
        def pair_base(prev, t):
            # the pairwise recurrence kernel: the realign base contributed
            # by consecutive rows (prev, t); null when no realign fires
            prev_base = F.floor(prev / step_ms) * step_ms
            thr = F.when(prev.isNull(), F.lit(float(size_ms))).otherwise(
                prev_base
                + F.when(prev - prev_base < size_ms, F.lit(step_ms)).otherwise(F.lit(0))
                + F.lit(size_ms)
            )
            return F.when(t >= thr, F.floor(t / step_ms) * step_ms)

        chunk_s = node.params.get("chunk_seconds")
        if chunk_s:
            # HOT-KEY path: the recurrence state between consecutive rows is
            # just (prev ts); the running base is a MAX-aggregate of the
            # pairwise bases (monotone in ts, so last-non-null == running
            # max). Both chunk cleanly: compute per (key, time-chunk), carry
            # (last ts, max base) across chunks via a tiny per-chunk frame —
            # a mega-key fans out across chunks instead of one task.
            # Equal ts always share a chunk (floor bucketing), so tie
            # handling is identical to the global-window path.
            from towhee_spark.temporal import _carry_chunk, _chunk_carry  # noqa: PLC0415

            chunk_ms = float(chunk_s) * 1000
            ckw = Window.partitionBy(*keys, "__ck").orderBy("__ms")
            s0 = (
                df.withColumn("__ms", ms)
                .withColumn("__ck", _carry_chunk(
                    F.floor(F.col("__ms") / F.lit(chunk_ms)).cast("long")))
                .withColumn("__pl", F.lag("__ms").over(ckw))
            )

            def scan(before, _):
                # chunks hold disjoint increasing ts ranges: the max last ts
                # of the earlier chunks is the previous chunk's last ts
                return {
                    "__prevlast": F.max("__last").over(before),
                    "__carryB": F.max(F.greatest(
                        "__bmax", pair_base(F.col("__prevlast"), F.col("__first"))
                    )).over(before),
                }

            # per-chunk aggregates: first/last ts + max pairwise base among
            # rows with an IN-chunk predecessor (row 1 recomputed below with
            # the carried predecessor)
            joined = _chunk_carry(s0, keys, "__ck", [
                F.min("__ms").alias("__first"),
                F.max("__ms").alias("__last"),
                F.max(F.when(F.col("__pl").isNotNull(),
                             pair_base(F.col("__pl"), F.col("__ms")))).alias("__bmax"),
            ], scan, broadcast=node.params.get("broadcast_carry", True))
            be = pair_base(
                F.coalesce(F.col("__pl"), F.col("__prevlast")), F.col("__ms")
            )
            run_local = F.last("__base_evt", ignorenulls=True).over(
                ckw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            src = (
                joined.withColumn("__base_evt", be)
                .withColumn(
                    "__B",
                    F.coalesce(
                        F.greatest(run_local, F.col("__carryB")), F.lit(0.0)
                    ),
                )
                .drop("__ck", "__pl", "__prevlast", "__carryB")
            )
        else:
            kw = Window.partitionBy(*keys).orderBy("__ms")
            prev = F.lag("__ms").over(kw)
            base_evt = pair_base(prev, F.col("__ms"))
            run_base = F.coalesce(
                F.last("__base_evt", ignorenulls=True).over(
                    kw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                F.lit(0.0),
            )
            src = (
                df.withColumn("__ms", ms)
                .withColumn("__base_evt", base_evt)
                .withColumn("__B", run_base)
            )
        lo = F.greatest(lo, (F.col("__B") / step_ms).cast("long"))
    else:
        # Scale path: ALL non-empty step-aligned windows (Spark F.window
        # semantics) — skips the per-key lag/base pass; coincides with exact
        # whenever no realignment fires (gap-free streams).
        src = df
    wids = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
        F.array().cast("array<long>")
    )
    df2 = (
        src.withColumn("__twid", F.explode(wids))
        .withColumn("__wstart", F.col("__twid") * F.lit(step))
        .drop("__twid", "__ms", "__base_evt", "__B")
    )
    # each window folds in (timestamp_col, *declared order) order
    tw_ctx = replace(ctx, order=tuple(dict.fromkeys((ts_col, *ctx.order))))
    res = _apply_grouped(df, node, tw_ctx, lambda *_: (df2, ["__wstart"]))
    if exact:
        # per-key window ordinal (the exact path's historical row order)
        ow = Window.partitionBy(*keys).orderBy("__wstart")
        res = res.withColumn(_ROW_ORDER, (F.row_number().over(ow) - 1).cast("long"))
    if emit_start:
        return res.withColumnRenamed("__wstart", emit_start)
    return res.drop("__wstart")


def _compile_window_all(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    """Fold the whole group → one row; reduce compiles the same way (the
    reference feeds it generators instead of lists, _reduce.py:57-76 — the
    fn contract, one iterable per column, is identical)."""
    return _apply_grouped(df, node, ctx, lambda df, keys, order: (df, []))


def _is_scalar_branch(branch: list[_Node]) -> bool:
    return bool(branch) and all(n.kind == "map" for n in branch[:-1]) and branch[
        -1
    ].kind in ("window_all", "reduce")


def _compile_concat(df: DataFrame, node: _Node, ctx: _Ctx) -> DataFrame:
    branches = [b for b in node.params["branches"] if b]
    if not branches:
        return df
    if all(all(n.kind == "map" for n in b) for b in branches):
        # per-row branches: each reads fork snapshots; later branches
        # override on conflicting writes (argument precedence)
        fork_cols = list(df.columns)
        acc = df.select(
            *fork_cols, *[F.col(c).alias(f"__fork__{c}") for c in fork_cols]
        )
        writes: dict[str, str] = {}
        new_order: list[str] = []
        renamed: list[_Node] = []
        for bi, branch in enumerate(branches):
            local = {c: f"__fork__{c}" for c in fork_cols}
            for ni, n in enumerate(branch):
                new_in = tuple(local.get(c, c) for c in n.in_cols)
                new_out = tuple(f"__b{bi}_{ni}__{c}" for c in n.out_cols)
                renamed.append(_Node("map", new_in, new_out, n.fn, n.params))
                for oc, nc in zip(n.out_cols, new_out):
                    local[oc] = nc
            # the whole branch VIEW overrides (Towhee zips row dicts with
            # dict.update — a later branch's untouched fork values also win,
            # goldens updated_schema1/multi_schema)
            writes.update(local)
            for oc in local:
                if oc not in fork_cols and oc not in new_order:
                    new_order.append(oc)
        final = [F.col(writes[c]).alias(c) for c in fork_cols] + [
            F.col(writes[c]).alias(c) for c in new_order
        ]
        return _compile_nodes(acc, renamed, ctx).select(*final)

    scalars = [b for b in branches if _is_scalar_branch(b)]
    streams = [b for b in branches if not _is_scalar_branch(b)]
    if len(streams) > 1:
        base = _zip_stream_branches(df, streams, ctx)
    else:
        base = _compile_nodes(df, streams[0] if streams else [], ctx)
    for b in scalars:
        sdf = _compile_nodes(df, b, ctx)
        keys = [ctx.by] if ctx.by and ctx.by in sdf.columns and ctx.by in base.columns else []
        if keys:
            base = base.join(F.broadcast(sdf), on=keys, how="left")
        else:
            base = base.crossJoin(F.broadcast(sdf))
    return base


def _zip_stream_branches(df: DataFrame, streams: list, ctx: _Ctx) -> DataFrame:
    """Positional zip of 2+ cardinality-changing concat branches — the
    reference pulls one row per step from EVERY sibling queue and merges the
    dicts until all queues drain (_concat.py:49-66): each column is owned by
    the LAST branch whose schema carries it, and an exhausted branch pads its
    columns with Empty/NULL. Here: per-branch row_number within the
    invocation (or ``by`` group) full-outer-joined on the position."""
    part_keys = [c for c in (_INVOCATION, ctx.by) if c and c in df.columns]
    # dedupe while preserving order (by may equal the invocation col)
    part_keys = list(dict.fromkeys(part_keys))
    compiled = []
    for b in streams:
        bdf = _compile_nodes(df, b, ctx)
        order = _order_cols(bdf, ctx)
        if not order:
            raise ValueError(
                "multi-branch concat needs a positional row order: run in "
                "parity mode (run_rows) or pass order= to apply()"
            )
        w = Window.partitionBy(*part_keys).orderBy(*order)
        compiled.append(bdf.withColumn("__zip", F.row_number().over(w)))
    owner: dict[str, int] = {}
    for bi, bdf in enumerate(compiled):
        for c in bdf.columns:
            if c not in part_keys and not c.startswith("__"):
                owner[c] = bi  # later branches win (cols_every_que reversal)
    zipped = None
    for bi, bdf in enumerate(compiled):
        mine = [c for c in bdf.columns if owner.get(c) == bi]
        sel = bdf.select(*part_keys, "__zip", *mine)
        zipped = (
            sel
            if zipped is None
            else zipped.join(sel, [*part_keys, "__zip"], "full_outer")
        )
    if _ROW_ORDER in df.columns:
        zipped = zipped.withColumn(_ROW_ORDER, F.col("__zip").cast("long"))
    return zipped.drop("__zip")


_COMPILERS = {
    "input": _compile_input,
    "output": _compile_output,
    "concat": _compile_concat,
    "map": _inline_subpipeline,
    "window": _compile_window,
    "time_window": _compile_time_window,
    "window_all": _compile_window_all,
    "reduce": _compile_window_all,
}
