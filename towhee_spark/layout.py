"""Physical layout: hash repartitioning by conversation + hot-key salting.

The north_rule requires explicit partition/shuffle/skew handling:
conversations hash-repartitioned by conv_id, secondary-sorted by
(ts, turn_idx), hot conversations salted.  AQE handles join-side skew, but
``groupBy().applyInPandas`` groups are not split by AQE — a single
mega-conversation serializes one task — hence explicit salting here.

Salting changes per-group semantics at salt boundaries, so windowed ops
must either run before salting or carry overlap rows across salt splits
(SURVEY.md §7.3.4); ``salted_keys`` therefore only feeds operators that are
salt-safe (pure per-row kernels, partial aggregation).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas

    from pyspark.sql import Row


def repartition_by_key(
    df: DataFrame,
    key: str | Sequence[str] = "conv_id",
    num_partitions: int | None = None,
    sort_within: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Hash-repartition on the key and secondary-sort within partitions.

    Establishes the canonical physical layout: every per-conversation
    operator downstream (windows, applyInPandas kernels) reuses this
    partitioning without an extra shuffle; the within-partition sort gives
    order-dependent ops their stable (ts, turn_idx) ordering.
    """
    keys = [F.col(k) for k in ([key] if isinstance(key, str) else key)]
    out = df.repartition(num_partitions, *keys) if num_partitions else df.repartition(*keys)
    if sort_within:
        out = out.sortWithinPartitions(*keys, *sort_within)
    return out


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW-scan frame up to the session's
    parallelism so CPU-bound per-row stages (shingle explode + hash
    partial-aggregates, tokenizer/embedding kernels, per-pair
    prefilters) spread across cores.

    Why it exists: Spark assigns parquet splits by ROW GROUP — a corpus
    written as one file with one row group scans as ONE partition no
    matter what `maxPartitionBytes`/`openCostInBytes` say, and every
    expression evaluated before the first exchange then runs on one
    core (measured: the whole sf0.1 fuzzy_pairs candidate stream, and
    every shingle-family partial aggregate, ran 1 task on local[32] —
    4.5× on fuzzy_pairs after the fan-out). At warehouse scale inputs
    carry >= parallelism splits and this is a NO-OP (the guard compares
    the frame's actual partition count); the exchange it adds on small
    inputs moves only the narrow pre-explode rows. User repartitions
    are never AQE-coalesced, so the fan-out survives adaptive re-plans.
    """
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def collect_small(
    df: DataFrame, max_rows: int, *, to_pandas: bool = False
) -> list[Row] | pandas.DataFrame | None:
    """The one small-input gate: ``df``'s rows on the driver if it has at
    most ``max_rows``, else ``None``. Train/solve operators solve a small
    input driver-side and fall back distributed on ``None``; the
    driver-snapshot guards (scan_topk, stream_asof_static) raise on it.

    ``max_rows <= 0`` runs NO job and returns ``None``. Otherwise ONE
    bounded action: ``limit(max_rows + 1)`` — the extra row tells "at the
    cap" from "past it" without collecting more — then ``collect()``, or
    ``toPandas()`` with ``to_pandas`` (Arrow→pandas types; ``collect()``
    makes timestamps driver-local-time datetimes). An empty input returns
    an empty result, not ``None``. The count is exact on purpose: a
    Catalyst estimate (``optimizedPlan.stats``) is no gate — without CBO
    join estimates multiply (6.0e31 bytes for a 407-row edge plan)."""
    if max_rows <= 0:
        return None
    head = df.limit(max_rows + 1)
    rows = head.toPandas() if to_pandas else head.collect()
    return rows if len(rows) <= max_rows else None


def hot_keys(
    df: DataFrame, key: str = "conv_id", threshold: int = 100_000
) -> DataFrame:
    """Cheap skew sketch: keys whose row count exceeds ``threshold``.

    One partial-aggregated count — at 100 TB this is a map-side-combined
    scan producing a tiny driver-broadcastable table of offenders.
    """
    return df.groupBy(key).count().filter(F.col("count") > threshold).select(key, "count")


def suggest_chunk_seconds(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    hot_threshold: int = 1_000_000,
    target_rows_per_chunk: int = 250_000,
) -> float | None:
    """Executable form of the chunked-path adoption rule (BENCH/BASELINE.md:
    "route keys to chunked paths once per-key rows reach the millions").

    One map-side-combined aggregation job (a diagnostic ACTION, not plan
    construction) computes per-key row count and time span for keys above
    ``hot_threshold``, then sizes ``chunk_seconds`` for the worst offender
    (highest rows/sec) so every hot key's (key, chunk) groups hold ≈
    ``target_rows_per_chunk`` rows — the value to pass to
    ``temporal.*_chunked`` / ``time_window(chunk_seconds=)`` /
    ``window(chunk_seconds=)``.

    Returns None when no key is hot (use the bare-key windows — the chunked
    paths cost ~2 extra shuffles for nothing on uniform data), or 0.0 when a
    hot key has zero time span (time-chunking cannot split it; salt with
    :func:`add_salt` instead). For NUMERIC ts columns the returned value is
    in the column's own unit, matching ``temporal._chunk_id``."""
    from pyspark.sql import types as T  # noqa: PLC0415

    from towhee_spark.temporal import _time_value  # noqa: PLC0415

    dt = df.schema[ts].dataType
    tv = _time_value(F.col(ts), dt)
    unit_div = (
        1e6 if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))
        else 1.0
    )
    stats = (
        df.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            ((F.max(tv) - F.min(tv)) / F.lit(unit_div)).alias("span"),
        )
        .filter(F.col("n") > hot_threshold)
    )
    worst = stats.agg(
        F.min(F.col("span") * F.lit(float(target_rows_per_chunk)) / F.col("n"))
        .alias("chunk_s"),
        F.count(F.lit(1)).alias("n_hot"),
        F.min("span").alias("min_span"),
    ).first()
    if worst.n_hot == 0:
        return None
    if worst.min_span is None or worst.min_span <= 0 or worst.chunk_s <= 0:
        return 0.0
    return float(worst.chunk_s)


def add_salt(
    df: DataFrame,
    key: str = "conv_id",
    hot: DataFrame | None = None,
    buckets: int = 16,
    salt_col: str = "__salt",
    salted_key_col: str = "salted_key",
) -> DataFrame:
    """Append a salt bucket to hot keys so one conversation spreads over
    ``buckets`` tasks; cold keys get salt 0 (their salted_key == key#0).

    ``hot`` is broadcast (it is small by construction); the salt itself is a
    deterministic hash of stable row identity (turn_idx if present, else ts)
    so re-runs land rows in identical buckets (checkpoint resumability).
    """
    id_col = "turn_idx" if "turn_idx" in df.columns else "ts"
    if hot is None:
        hot = hot_keys(df, key)
    flagged = df.join(
        F.broadcast(hot.select(F.col(key).alias("__hk"), F.lit(True).alias("__is_hot"))),
        on=F.col(key) == F.col("__hk"),
        how="left",
    ).drop("__hk")
    salted = flagged.withColumn(
        salt_col,
        F.when(
            F.col("__is_hot").isNotNull(),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("__is_hot")
    return salted.withColumn(
        salted_key_col, F.concat_ws("#", F.col(key), F.col(salt_col).cast("string"))
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | Sequence[str],
    buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Materialize a bucketed (co-located) layout: pay the shuffle ONCE at
    write time, then every join/aggregation on the bucket key across
    readers plans with ZERO exchange (both join sides must share key and
    bucket count). This is the 100 TB lever for tables that are joined
    repeatedly on the same key — transcripts ⋈ context on conv_id, an
    embedding index ⋈ doc metadata on doc_id — where per-query shuffles
    of the big side dominate. Spark requirements this encodes:

    - ``saveAsTable`` (bucket metadata lives in the catalog; plain
      ``parquet(path)`` writes silently drop bucketing). ``path`` makes it
      an external table (data at ``path``, metadata in the session
      catalog).
    - Size ``buckets`` so one bucket ≈ one healthy partition at the
      target scale (~128 MB-1 GB); buckets are NOT AQE-coalesced, so a
      too-fine bucketing survives as tiny tasks forever.
    - ``sort_cols`` (default: the key) pre-sorts within buckets, giving
      sort-merge joins presorted runs when files-per-bucket is 1.

    Verified by tests/test_layout_pipelines.py: bucketed join AND
    groupBy(key) both plan with zero Exchange while the unbucketed
    control shuffles."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.format(fmt).mode(mode).bucketBy(buckets, *keys)
    w = w.sortBy(*(list(sort_cols) if sort_cols else keys))
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket metadata (must go via
    the catalog — ``spark.read.parquet(path)`` on the same files loses
    the layout and re-shuffles)."""
    return spark.table(table)


def shard_by_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic training-shard layout: every row gets (shard,
    shard_pos) where shard = pmod(hash60(salt||id), n_shards) and
    shard_pos = the row's rank within its shard ordered by the SAME hash
    (id-asc tie-break) — i.e. a reproducible global shuffle of the
    corpus, cut into n_shards files. The standard last step before
    writing pretraining data: training must not see documents in crawl /
    source order, and ``rand()``-based shuffles change under retries and
    AQE re-plans while this layout is a pure function of (salt, id).
    Write with ``.write.partitionBy('shard')`` and read shards in
    shard_pos order; change ``salt`` to draw an independent epoch
    ordering (the multi-epoch shuffle trick).

    Scale: the only wide op is one row_number window PARTITIONED BY
    SHARD — width ≈ n/n_shards by the hash's uniformity, and n_shards
    scales with the corpus (a 100 TB corpus writes 10^5 shards), so no
    task ever sees more than a shard's worth of rows. hash60(NULL) is
    NULL, so NULL-id rows get NULL shard/pos — give rows real ids first."""
    from pyspark.sql import Window  # noqa: PLC0415

    from towhee_spark.functions.curation import hash60  # noqa: PLC0415

    if n_shards < 1:
        raise ValueError("shard_by_hash: n_shards must be >= 1")
    for c in ("shard", "shard_pos", "__h"):
        if c in df.columns:
            raise ValueError(
                f"shard_by_hash: input already has a {c!r} column — rename it first")
    h = hash60(id_col, salt)
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("shard_pos", F.row_number().over(w))
        .drop("__h")
    )


def curriculum_boundaries(
    df: DataFrame,
    score_col,
    n_buckets: int,
    scale: int = 1_000_000,
) -> list[int]:
    """Equal-frequency curriculum bucket boundaries — a train-step ACTION
    (the kmeans/mixture_rates convention: one tiny collect, then the
    values ride the plan as literals). Returns ``n_buckets − 1`` ascending
    FROZEN thresholds t_i = the smallest ROUND(score·scale) int64 whose
    ascending cumulative count reaches ⌈i·n/B⌉ — exact integer arithmetic
    end to end, so an engine mirroring the histogram derives the identical
    boundaries (no float quantile anywhere).

    Scale story (the top_quantile_by argument): the histogram is one
    map-side-combined hash aggregate over frozen scores (cells = distinct
    scores, thousands not corpus-sized); the cumulative window runs over
    that tiny frame; the collect is B−1 rows. Never a percentile/ntile
    window over the data. NULL scores are excluded from the histogram and
    from n."""
    if n_buckets < 2:
        raise ValueError("curriculum_boundaries: n_buckets must be >= 2")
    from pyspark.sql import Window  # noqa: PLC0415

    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    si = F.round(sc * F.lit(float(scale)), 0).cast("long")
    hist = (
        df.select(si.alias("__s")).where(F.col("__s").isNotNull())
        .groupBy("__s").agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = (Window.orderBy("__s")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (hist.withColumn("__cum", F.sum("__c").over(w_cum))
           .withColumn("__n", F.sum("__c").over(Window.partitionBy())))
    b = n_buckets
    idx = cum.sparkSession.range(1, b).select(F.col("id").alias("__i"))
    rows = (  # B-1-row action: boundary per rank ⌈i·n/B⌉ (kmeans convention)
        # cum >= ceil(i·n/B)  ⟺  cum·B >= i·n — integer-only, no division
        cum.crossJoin(F.broadcast(idx))
        .where(F.col("__cum") * b >= F.col("__i") * F.col("__n"))
        .groupBy("__i").agg(F.min("__s").alias("__t"))
        .orderBy("__i").collect()
    )
    return [r["__t"] for r in rows]


def curriculum_order(
    df: DataFrame,
    score_col,
    boundaries: list[int],
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    salt: str = "curr",
    bucket_col: str = "bucket",
    order_col: str = "order_key",
) -> DataFrame:
    """Curriculum data ordering: every row gets (``bucket_col`` = how
    many frozen ``boundaries`` its ROUND(score·scale) reaches — ascending
    difficulty 0..len(boundaries), ``order_col`` = hash60(salt||id) — the
    deterministic within-bucket shuffle). Feed a trainer in (bucket,
    order_key) order for easy→hard curriculum; change ``salt`` for an
    independent epoch order (the shard_by_hash trick); pass
    ``boundaries`` from :func:`curriculum_boundaries` for equal-frequency
    buckets or hand-pick them for fixed difficulty cuts.

    Pure scan math: the boundary compares are literal CASE sums and the
    order key is one hash projection — zero shuffle, zero Python, and a
    pure function of (score, salt, id) so retries/AQE re-plans/engine
    swaps reproduce the order exactly (the anti-``rand()`` posture). A
    NULL score yields a NULL bucket (loud downstream) rather than
    silently landing in bucket 0. Within-bucket hash order intentionally
    decorrelates difficulty from source order; compose with shard_by_hash
    per bucket to cut files."""
    from towhee_spark.functions.curation import hash60  # noqa: PLC0415

    if list(boundaries) != sorted(boundaries):
        raise ValueError("curriculum_order: boundaries must be ascending")
    for c in (bucket_col, order_col):
        if c in df.columns:
            raise ValueError(
                f"curriculum_order: input already has column {c!r}")
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    si = F.round(sc * F.lit(float(scale)), 0).cast("long")
    bucket = sum(
        [(si >= F.lit(int(t))).cast("int") for t in boundaries], F.lit(0))
    return (
        df.withColumn(bucket_col,
                      F.when(si.isNotNull(), bucket).cast("int"))
        .withColumn(order_col, hash60(id_col, salt))
    )


def skew_report(
    df: DataFrame,
    cols: Sequence[str],
    k: int = 10,
    null_token: str = "__null__",
) -> DataFrame:
    """Partition-key skew diagnostic across MANY candidate key columns in
    one pass: for each column, the ``k`` heaviest values with exact count,
    corpus share, total rows and distinct-value count — the table you
    read before choosing a join/groupBy key, a salt factor
    (:func:`add_salt`) or a ``chunk_seconds`` (the chunked family).
    Output: ``(col_name, key_value, n, share, total, n_distinct, rank)``,
    ``rank`` 1-based by ``(n DESC, key_value ASC)`` (deterministic under
    count ties). Complements :func:`hot_keys` (single column, threshold
    cut) — this one ranks and compares columns side by side.

    Plan: the columns STACK into (col_name, value) pairs before a single
    hash aggregate — one scan and one exchange for any number of columns
    (vs C scans for per-column groupBys); per-column totals/distincts are
    a second tiny aggregate over the counts frame. The final top-k
    ranking windows the COUNTS frame (one row per distinct value), not
    the data: exact and fine up to ~10^8 distinct values per column; for
    ultra-high-cardinality columns use ``sketches.heavy_hitters`` (CMS)
    instead. NULLs report as ``null_token`` — a null-heavy join key is
    the most common real-world skew. ``share`` is the repo's single
    ROUND-6 division of exact integers."""
    if not cols:
        raise ValueError("skew_report: need at least one column")
    if k < 1:
        raise ValueError("skew_report: k must be >= 1")
    pairs = F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.coalesce(F.col(c).cast("string"), F.lit(null_token))
            .alias("key_value"),
        )
        for c in cols
    ])
    st = df.select(F.explode(pairs).alias("p")).select("p.*")
    counts = st.groupBy("col_name", "key_value").agg(
        F.count(F.lit(1)).alias("n"))
    g = counts.groupBy("col_name").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    w = Window.partitionBy("col_name").orderBy(F.col("n").desc(), "key_value")
    ranked = counts.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)
    return (
        ranked.join(F.broadcast(g), "col_name")
        .select(
            "col_name", "key_value", "n",
            F.round(F.col("n").cast("double")
                    / F.col("total").cast("double"), 6).alias("share"),
            "total", "n_distinct", "rank",
        )
    )


def join_coverage(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    broadcast_keys: bool | None = None,
) -> DataFrame:
    """Join-key coverage diagnostic — the ONE-ROW report to read before
    committing to a join: ``(n_left, n_right, n_left_matched,
    left_match_rate, n_right_matched, right_match_rate, n_left_null_key,
    n_right_null_key)``. Low match rates flag key-domain drift (string
    vs int ids, zero-padded codes); null-key counts flag the rows an
    inner join silently drops.

    Plan: each side joins the OTHER side's distinct-key frame (left_semi
    would lose the unmatched count, so it's a left join on distinct keys
    + a flag sum), then two 1-row aggregates cross-join into the report.
    Distinct-key frames are one hash agg each; ``broadcast_keys`` hints
    the key-frame side of each join (None = AQE decides — right when
    one side's key domain is huge). A NULL in any key column never
    matches (SQL join semantics) and is tallied separately. Rates are
    the repo's single ROUND-6 exact-integer division."""
    keys = [on] if isinstance(on, str) else list(on)

    def _null_any(df):
        cond = F.lit(False)
        for k in keys:
            cond = cond | F.col(k).isNull()
        return cond

    def _side(df, other, n_name, m_name, null_name):
        from towhee_spark.temporal import carry_join  # noqa: PLC0415

        dk = other.select(*keys).distinct().withColumn("__jc_hit", F.lit(1))
        j = carry_join(df, dk, keys, broadcast=broadcast_keys)
        return j.agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.coalesce(F.sum("__jc_hit"), F.lit(0)).cast("long")
            .alias(m_name),
            F.sum(_null_any(df).cast("long")).cast("long").alias(null_name),
        )
    l_stats = _side(left, right, "n_left", "n_left_matched",
                    "n_left_null_key")
    r_stats = _side(right, left, "n_right", "n_right_matched",
                    "n_right_null_key")
    return (
        l_stats.crossJoin(F.broadcast(r_stats))
        .select(
            "n_left", "n_right", "n_left_matched",
            F.when(  # an EMPTY side is the pathology this report exists
                # to surface — report NULL rate, never DIVIDE_BY_ZERO
                F.col("n_left") > 0,
                F.round(F.col("n_left_matched").cast("double")
                        / F.col("n_left").cast("double"), 6))
            .alias("left_match_rate"),
            "n_right_matched",
            F.when(
                F.col("n_right") > 0,
                F.round(F.col("n_right_matched").cast("double")
                        / F.col("n_right").cast("double"), 6))
            .alias("right_match_rate"),
            "n_left_null_key", "n_right_null_key",
        )
    )
