"""Sequence packing: lay a token stream of documents into fixed-length
training sequences.

LLM training consumes fixed-size context windows, not documents; the
standard recipe (the GPT-style "concatenate and chunk" described in public
training reports) concatenates every document's tokens in a deterministic
order and cuts the stream every ``seq_len`` tokens, so packs are 100%
utilized and documents may span a pack boundary. The reference has no
packing stage — its pipelines end at per-row features (SURVEY.md §2.3);
this closes the gap between curation (``functions.curation``) and an
actual training shard layout.

Scale shape: the only global quantity is an exclusive prefix sum of token
counts in the stream order. A naive ``Window.orderBy(...)`` cumsum is a
single-partition sort — the exact mega-key serialization the chunked
temporal family exists to remove — so the prefix sum here is two-level,
the ``temporal.chunked_row_number`` construction with SUM instead of
COUNT: hash-bucket the order key's top bits (buckets are uniform by
construction), run the cumsum per bucket, then carry an exclusive prefix
of the tiny per-bucket totals back with ``temporal._chunk_carry``. One
bucket shuffle + one ``n_buckets``-row aggregate, no global sort, no
mega-partition.

Determinism: the stream order is ``(hash60(id, salt), id)`` — a pure
function of each row, so two runs (or two engines) lay out the identical
stream regardless of partitioning, retries, or AQE re-plans (the same
argument as ``curation.hash_split``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from towhee_spark.functions.curation import hash60
from towhee_spark.temporal import _chunk_carry


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    count_col: str | None = None,
    salt: str = "pack",
    bucket_bits: int = 10,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """Assign every document its slice(s) of fixed-``seq_len`` training
    packs under concat-and-chunk packing.

    Output: one row per (document, pack) overlap —

    - ``<id_col>`` — the document id;
    - ``pack_id`` (long) — 0-based pack index in the global stream;
    - ``tok_begin`` / ``tok_end`` (long) — the half-open token slice of
      THIS document that lands in the pack (``tok_end - tok_begin``
      tokens);
    - ``pack_off`` (long) — where the slice starts inside the pack.

    A doc shorter than the remaining pack space emits one row; a doc
    crossing boundaries emits one row per pack it touches. Every pack
    except the last is exactly full (utilization 1.0) — the property that
    makes this the production default over first-fit bin packing, which
    preserves doc boundaries but wastes tail space and needs a sequential
    carry to be deterministic (future work; the recurrence would follow
    the exact time_window realign pattern, pipeline.py:916).

    Token counts come from ``count_col`` when given (pre-tokenized
    corpora), else ``text.token_count(text_col)`` — the same whitespace
    contract the token-budget sampler uses, so budgets and packs agree on
    the unit. Zero/NULL-count documents contribute no tokens and emit no
    rows.

    ``bucket_bits`` sizes the prefix-sum fan-out (2^bits buckets of the
    60-bit order hash): 10 → 1,024 buckets is right up to ~10^10 docs;
    grow it once per-bucket row counts threaten executor memory. The
    per-bucket cumsum window partitions on uniform hash buckets, so no
    hot key exists by construction. ``broadcast_carry`` follows the
    ``temporal.carry_join`` contract (True = broadcast the tiny bucket
    frame, False = shuffled merge, None = let AQE pick).
    """
    if seq_len <= 0:
        raise ValueError(f"pack_sequences: seq_len must be positive, got {seq_len}")
    if not 1 <= bucket_bits <= 30:
        raise ValueError(f"pack_sequences: bucket_bits must be in [1, 30], got {bucket_bits}")
    clash = {"pack_id", "tok_begin", "tok_end", "pack_off"} & set(df.columns)
    if clash:
        raise ValueError(
            f"pack_sequences: input columns {sorted(clash)} collide with the "
            "operator's output columns — rename them first")

    if count_col is None:
        from towhee_spark.functions.text import token_count  # noqa: PLC0415

        cnt: Column = token_count(text_col)
    else:
        cnt = F.col(count_col)
    d = (
        df.select(
            F.col(id_col),
            cnt.cast("long").alias("__cnt"),
            hash60(id_col, salt).alias("__h"),
        )
        .filter(F.col("__cnt") > 0)
        .withColumn("__bkt", F.shiftright("__h", 60 - bucket_bits))
    )

    # per-bucket exclusive cumsum in stream order (__h, id) — buckets are
    # top-bits ranges of __h, so bucket order × local order IS the global
    # stream order
    w_local = (
        Window.partitionBy("__bkt")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("__loff", F.coalesce(F.sum("__cnt").over(w_local), F.lit(0)))

    # exclusive prefix of per-bucket totals: ≤ 2^bucket_bits rows, the
    # single-partition window is on the TINY frame only. Totals derive
    # from the WINDOWED frame (last row's __loff + __cnt == the bucket
    # sum), not from a fresh groupBy on the input: both branches then
    # share the identical hashpartitioning(__bkt) exchange, so Spark
    # plans a ReusedExchange instead of a second full corpus scan +
    # re-tokenize (verified in tests/test_plans.py)
    j = _chunk_carry(
        d, [], "__bkt", [F.max(F.col("__loff") + F.col("__cnt")).alias("__t")],
        lambda before, _: {
            "__boff": F.coalesce(F.sum("__t").over(before), F.lit(0))},
        broadcast=broadcast_carry)
    j = j.withColumn("__start", F.col("__boff") + F.col("__loff"))

    # packs this doc touches: floor(start/L) .. floor((start+cnt-1)/L) —
    # integer DIV keeps the arithmetic exact past 2^53 total tokens
    # (double floor(x/L) is NOT safe at the 10^12-turn target)
    lo = F.expr(f"__start DIV {seq_len}")
    hi = F.expr(f"(__start + __cnt - 1) DIV {seq_len}")
    out = (
        j.withColumn("pack_id", F.explode(F.sequence(lo, hi)))
        .select(
            id_col,
            "pack_id",
            F.greatest(F.col("pack_id") * seq_len - F.col("__start"), F.lit(0))
            .cast("long").alias("tok_begin"),
            F.least((F.col("pack_id") + 1) * seq_len - F.col("__start"),
                    F.col("__cnt")).cast("long").alias("tok_end"),
            F.greatest(F.col("__start") - F.col("pack_id") * seq_len, F.lit(0))
            .cast("long").alias("pack_off"),
        )
    )
    return out


def materialize_packs(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    salt: str = "pack",
    bucket_bits: int = 10,
    broadcast_carry: bool | None = True,
    with_spans: bool = False,
) -> DataFrame:
    """Materialize the actual training shards: gather each pack's token
    ids from the :func:`pack_sequences` layout over a pre-encoded corpus
    (``encode_ids`` output — one row per document with an
    ``array<int>`` id column). Output one row per pack:
    ``(pack_id:long, n_fill:int, ids:array<element>)`` — every pack
    except the stream tail has exactly ``seq_len`` ids, in the
    deterministic global stream order.

    Scale shape: the layout side moves only (id, count, hash60) — the
    cumsum never shuffles the payload; the ids cross the wire ONCE, as
    per-(doc, pack) slices joined on ``id_col`` and hash-aggregated by
    pack_id (collect_list of ≤ seq_len elements per group, flattened in
    pack_off order — the order-stable aggregation pattern). No group can
    exceed seq_len tokens by construction, so there is no hot pack.

    ``with_spans=True`` adds ``doc_spans: array<struct<doc_id, off:int,
    len:int>>`` in pack order — the per-pack document boundaries a
    trainer needs for cross-document attention masks / per-doc loss
    masks. The spans are the pack_sequences layout re-keyed, gathered in
    the SAME aggregate (no extra shuffle).

    ``df`` is read twice (layout cumsum + payload join) — cache it when
    it is the output of an expensive encode. Zero/NULL-id documents
    contribute nothing (the pack_sequences rule)."""
    d = df.select(
        F.col(id_col), F.col(ids_col).alias("__ids")
    ).withColumn("__n", F.size("__ids"))
    layout = pack_sequences(
        d, seq_len, id_col=id_col, count_col="__n", salt=salt,
        bucket_bits=bucket_bits, broadcast_carry=broadcast_carry)
    parts = layout.join(d, id_col).select(
        F.col(id_col).alias("__doc"),
        "pack_id", "pack_off",
        F.slice(
            F.col("__ids"),
            (F.col("tok_begin") + 1).cast("int"),
            (F.col("tok_end") - F.col("tok_begin")).cast("int"),
        ).alias("__part"),
    )
    sorted_parts = F.array_sort(
        F.collect_list(F.struct("pack_off", "__part", "__doc")))
    aggs = [F.flatten(F.transform(
        sorted_parts, lambda s: s.getField("__part"))).alias(ids_col)]
    if with_spans:
        aggs.append(F.transform(
            sorted_parts,
            lambda s: F.struct(
                s.getField("__doc").alias(id_col),
                s.getField("pack_off").cast("int").alias("off"),
                F.size(s.getField("__part")).cast("int").alias("len"),
            )).alias("doc_spans"))
    out_cols = ["pack_id", F.size(ids_col).cast("int").alias("n_fill"),
                ids_col] + (["doc_spans"] if with_spans else [])
    return parts.groupBy("pack_id").agg(*aggs).select(*out_cols)


def pack_stats(packs: DataFrame, seq_len: int) -> DataFrame:
    """Per-pack audit of a :func:`pack_sequences` result: document count,
    token fill, and utilization. Under concat-and-chunk every pack except
    the stream tail shows ``fill == seq_len``; the tail pack's shortfall
    is the only padding the layout ever needs."""
    return (
        packs.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("tok_end") - F.col("tok_begin")).alias("fill"),
        )
        .withColumn("utilization",
                    F.round(F.col("fill") / F.lit(float(seq_len)), 6))
    )
