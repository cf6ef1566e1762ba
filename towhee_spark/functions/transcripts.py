"""Conversation-level feature vectors over transcript tables.

The temporal core (towhee_spark/temporal.py) produces PER-TURN features
under the strict as-of/no-leakage contract; a training-data pipeline also
needs WHOLE-CONVERSATION profiles — the per-conv feature vector that
feeds curation (filter degenerate conversations), mixture design (strata
by interaction shape), and data cards. These are deliberately
leakage-irrelevant: each row summarizes a finished conversation, never a
turn-in-progress (contrast temporal.asof_join, which must not read the
future).

The reference's closest surface is DataCollection-over-rows aggregation
(towhee/runtime/data_queue.py drains whole queues); it has no
conversation analytics — these follow the repo's transcripts schema
(conv_id, turn_idx, role, text, tool, ts) from sources/tables.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from towhee_spark.layout import collect_small
from towhee_spark.temporal import epoch_us, sessionize


def conv_features(
    df: DataFrame,
    gap: float = 1800.0,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    roles: Sequence[str] = ("user", "assistant", "system", "tool"),
    response_role: str = "assistant",
) -> DataFrame:
    """One feature row per conversation: turn/session/tool counts, span,
    per-role turn counts, text volume, and ``response_role`` latency —
    the conversation-shape profile that drives curation filters (drop
    single-turn or zero-assistant convs), mixture strata, and data cards.

    Columns: (key, n_turns, n_sessions, duration_us, n_tool_calls,
    n_tools, n_turns_<role>..., total_chars, avg_turn_chars, n_responses,
    avg_response_latency_us). Latency for a ``response_role`` turn is
    ts − previous turn's ts (any role) in exact epoch-µs integers; the
    conversation's first turn has no predecessor and never counts as a
    response. Averages are ONE IEEE division of an exact integer sum,
    ROUND(·, 6) — bit-identical across engines (the kmeans freeze
    posture); a conv with zero responses gets NULL latency.

    Plan shape: sessionize's lag/run-sum windows and the latency lag
    share the (key) hash partitioning, so Catalyst plans ONE exchange for
    the whole chain (the flagship single-shuffle property), then one hash
    aggregate. Scale: conversations are bounded (10²–10⁴ turns), so the
    per-key window is safe; a degenerate mega-conversation would hotspot
    any whole-conv profile by definition — curate it out first
    (temporal's chunked family covers the per-turn ops that must still
    run on it)."""
    s = sessionize(df, gap=gap, key=key, ts=ts, order_extra=order_extra,
                   out="__sid", seq_out="__sess")
    w = Window.partitionBy(key).orderBy(ts, *order_extra)
    lat = epoch_us(ts) - F.lag(epoch_us(ts)).over(w)
    s = s.withColumn("__lat", lat)
    is_resp = (F.col(role_col) == response_role) & F.col("__lat").isNotNull()
    n_resp = F.sum(is_resp.cast("int")).alias("n_responses")
    resp_sum = F.sum(F.when(is_resp, F.col("__lat")))
    n = F.count(F.lit(1))
    chars = F.sum(F.length(text_col))
    aggs = [
        n.alias("n_turns"),
        F.max("__sess").alias("n_sessions"),
        (F.max(epoch_us(ts)) - F.min(epoch_us(ts))).alias("duration_us"),
        F.count(tool_col).alias("n_tool_calls"),
        F.countDistinct(tool_col).alias("n_tools"),
        *[F.sum((F.col(role_col) == r).cast("int")).cast("long")
          .alias(f"n_turns_{r}") for r in roles],
        chars.cast("long").alias("total_chars"),
        F.round(chars.cast("double") / n, 6).alias("avg_turn_chars"),
        n_resp,
    ]
    g = s.groupBy(key).agg(*aggs,
                           F.round(resp_sum.cast("double")
                                   / F.sum(is_resp.cast("int")), 6)
                           .alias("avg_response_latency_us"))
    return g


def role_transitions(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    per_key: bool = False,
) -> DataFrame:
    """Consecutive-turn role bigram counts — the conversation-dynamics
    fingerprint (user→assistant dominance, tool-loop density, system
    interleave): (from_role, to_role, n), or per conversation with
    ``per_key=True``. The first turn of each conversation has no
    predecessor and contributes nothing. One lag window (per-conv, the
    bounded-key argument in :func:`conv_features`) + one hash aggregate;
    corpus-wide output is ≤ |roles|² rows."""
    w = Window.partitionBy(key).orderBy(ts, *order_extra)
    base = df.select(
        F.col(key),
        F.lag(role_col).over(w).alias("from_role"),
        F.col(role_col).alias("to_role"),
    ).where(F.col("from_role").isNotNull())
    keys = ([key] if per_key else []) + ["from_role", "to_role"]
    return base.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def sft_examples(
    df: DataFrame,
    max_context_turns: int = 8,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    response_role: str = "assistant",
    sep: str = "\n",
    include_empty: bool = False,
) -> DataFrame:
    """Turn transcripts into supervised fine-tuning pairs: every
    ``response_role`` turn becomes one example whose ``prompt`` is the
    previous ≤ ``max_context_turns`` turns rendered as ``role: text``
    lines (joined by ``sep``) and whose ``completion`` is the turn's own
    text. Output: (key, *order_extra, prompt, completion,
    n_context_turns) — the conversation→example exploder every
    chat-model data pipeline needs (the OpenAI/ShareGPT layout, one row
    per assistant message with a sliding context window).

    The context is a bounded window frame (ROWS BETWEEN k PRECEDING AND
    1 PRECEDING) over the deterministic (ts, *order_extra) total order —
    frame membership and in-frame order both derive from that one sort,
    so the rendered prompt is engine-stable (DuckDB's windowed list()
    and Spark's windowed collect_list both emit frame order; verified in
    the gate). NULL texts render as '' rather than nulling the whole
    line. ``include_empty=False`` (default) drops zero-context examples
    (a conversation-opening assistant turn has nothing to condition on).

    One window + one projection — no shuffle beyond the conv
    partitioning, no Python; the per-conv bounded-key argument from
    :func:`conv_features` applies. Pair with curation.hash_split for
    train/val and packing for the token stream."""
    if max_context_turns < 1:
        raise ValueError("sft_examples: max_context_turns must be >= 1")
    line = F.concat(F.col(role_col), F.lit(": "),
                    F.coalesce(F.col(text_col), F.lit("")))
    w = (Window.partitionBy(key).orderBy(ts, *order_extra)
         .rowsBetween(-max_context_turns, -1))
    out = (
        df.withColumn("__ctx", F.collect_list(line).over(w))
        .where(F.col(role_col) == response_role)
        .select(
            key, *order_extra,
            F.array_join("__ctx", sep).alias("prompt"),
            F.coalesce(F.col(text_col), F.lit("")).alias("completion"),
            F.size("__ctx").alias("n_context_turns"),
        )
    )
    if not include_empty:
        out = out.where(F.col("n_context_turns") > 0)
    return out


def preference_pairs(
    df: DataFrame,
    score_col: str,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Build preference (DPO/RLHF) pairs from transcripts: every
    ``response_role`` turn whose immediate predecessor is a
    ``prompt_role`` turn is a candidate response to that prompt text;
    for each prompt seen with ≥2 candidates ANYWHERE in the corpus, the
    highest-``score_col`` candidate becomes ``chosen`` and the lowest
    becomes ``rejected`` (the best-vs-worst pairing every preference
    pipeline starts from). Pairs with zero score margin are dropped —
    DPO needs a strict preference.

    Ranking is two row_number windows over the SAME prompt partition
    with exactly reversed total orders (score, key, *order_extra), so
    chosen/rejected are deterministic under ties and chosen ≠ rejected
    whenever the group has ≥2 rows. Output: (prompt, chosen, rejected,
    chosen_score, rejected_score, n_candidates, chosen_<key>,
    chosen_<order_extra[0]>, rejected_<key>, rejected_<order_extra[0]>).

    Plan: one lag window on the conv partitioning, one exchange on
    prompt shared by both row_number windows AND the final hash
    aggregate (argmax via MAX(CASE WHEN rn=1 ...)), so the whole pairing
    costs two exchanges total. Prompt groups are corpus-wide but bounded
    by prompt-text cardinality; a viral mega-prompt only serializes its
    own group's sort."""
    if score_col not in df.columns:
        raise ValueError(f"preference_pairs: score column {score_col!r} "
                         "must exist on the input frame")
    wlag = Window.partitionBy(key).orderBy(ts, *order_extra)
    cand = (
        df.select(
            key, *order_extra, F.col(text_col).alias("__text"),
            F.col(score_col).alias("__sc"),
            F.col(role_col).alias("__role"),
            F.lag(role_col).over(wlag).alias("__prev_role"),
            F.lag(text_col).over(wlag).alias("prompt"),
        )
        .where((F.col("__role") == response_role)
               & (F.col("__prev_role") == prompt_role)
               & F.col("prompt").isNotNull())
    )
    wp = Window.partitionBy("prompt")
    fwd = [F.col("__sc").desc(), F.col(key).asc(),
           *[F.col(c).asc() for c in order_extra]]
    rev = [F.col("__sc").asc(), F.col(key).desc(),
           *[F.col(c).desc() for c in order_extra]]
    r = cand.select(
        "prompt", "__text", "__sc", key, *order_extra,
        F.row_number().over(wp.orderBy(*fwd)).alias("__rd"),
        F.row_number().over(wp.orderBy(*rev)).alias("__ra"),
    )

    def pick(rn: str, out_prefix: str):
        flag = F.col(rn) == 1
        cols = [
            F.max(F.when(flag, F.coalesce(F.col("__text"), F.lit(""))))
            .alias("chosen" if out_prefix == "chosen" else "rejected"),
            F.max(F.when(flag, F.col("__sc"))).alias(f"{out_prefix}_score"),
            F.max(F.when(flag, F.col(key))).alias(f"{out_prefix}_{key}"),
        ]
        if order_extra:
            cols.append(F.max(F.when(flag, F.col(order_extra[0])))
                        .alias(f"{out_prefix}_{order_extra[0]}"))
        return cols

    g = r.groupBy("prompt").agg(
        *pick("__rd", "chosen"), *pick("__ra", "rejected"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return g.where(F.col("chosen_score") > F.col("rejected_score"))


def truncate_context(
    df: DataFrame,
    budget: int,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    text_col: str = "text",
    count_col: str | None = None,
    keep_only: bool = False,
    chunk_seconds: float | None = None,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """Context-window fitting: mark, per conversation, the longest
    SUFFIX of turns whose total token count fits ``budget`` — the
    standard chat truncation rule (drop the oldest turns first). Adds
    (n_tokens, cum_from_end, kept); ``keep_only=True`` returns just the
    surviving turns. Counts come from ``count_col`` when given (e.g. a
    precomputed model-token count from functions.tokenize), else the
    whitespace token_count of ``text_col``.

    One reverse-ordered running-sum window per conversation (ROWS
    UNBOUNDED PRECEDING over (ts DESC, *order_extra DESC)) — a single
    exchange on the conv key, integer arithmetic only. A turn larger
    than the whole budget drops itself and everything older.

    ``chunk_seconds`` switches to the hot-key path (the temporal chunked
    family): local reverse running sum per (key, time-chunk) + a
    later-chunk suffix-sum carry joined back via temporal._chunk_carry —
    a mega-conversation fans out across chunks instead of serializing
    one task, same results (gated). ``broadcast_carry`` follows the
    carry_join contract (True/False/None = broadcast / shuffled / AQE)."""
    if budget < 0:
        raise ValueError("truncate_context: budget must be >= 0")
    from towhee_spark.functions.text import token_count  # noqa: PLC0415

    cnt = (F.col(count_col) if count_col
           else token_count(text_col)).cast("int")
    rev = [F.col(ts).desc(), *[F.col(c).desc() for c in order_extra]]
    if chunk_seconds is None:
        w = (Window.partitionBy(key).orderBy(*rev)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = (df.withColumn("n_tokens", cnt)
                 .withColumn("cum_from_end",
                             F.sum("n_tokens").over(w).cast("long")))
    else:
        from towhee_spark.temporal import _carry_chunk, _chunk_carry, _chunk_id  # noqa: PLC0415

        d = df.withColumn("n_tokens", cnt).withColumn("__tc_ck", _carry_chunk(
            _chunk_id(ts, df.schema[ts].dataType, chunk_seconds)))
        w_local = (Window.partitionBy(key, "__tc_ck").orderBy(*rev)
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        local = d.withColumn("__lc", F.sum("n_tokens").over(w_local))
        # suffix sum of LATER chunks' totals
        out = (_chunk_carry(
                   local, [key], "__tc_ck", [F.sum("n_tokens").alias("__t")],
                   lambda _, after: {
                       "__carry": F.coalesce(F.sum("__t").over(after), F.lit(0))},
                   source=d, broadcast=broadcast_carry)
               .withColumn("cum_from_end",
                           (F.col("__lc") + F.col("__carry")).cast("long"))
               .drop("__tc_ck", "__lc", "__carry"))
    out = out.withColumn("kept", F.col("cum_from_end") <= F.lit(int(budget)))
    return out.where(F.col("kept")) if keep_only else out


def tool_chains(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    tool_col: str = "tool",
    tool_role: str = "tool",
) -> DataFrame:
    """Tool-loop detection: maximal runs of consecutive ``tool_role``
    turns (gaps-and-islands on the global turn order — island id =
    overall row_number − tool-only row_number). One row per chain:
    (key, first_<o>, last_<o>, chain_len, n_tools, first_tool,
    last_tool) where <o> = order_extra[0] — the agent-loop density
    signal (long tool chains flag runaway agents; n_tools counts
    distinct tools in the run).

    Three row_number windows share the conv partitioning (one
    exchange), then one hash aggregate on (key, island) — first/last
    tool are argmin/argmax via MAX(CASE WHEN rank=1), the
    dedup_best one-aggregate convention."""
    if not order_extra:
        raise ValueError("tool_chains: order_extra must name at least one "
                         "column (the chain id is first_<order_extra[0]>)")
    o = order_extra[0]
    w = Window.partitionBy(key).orderBy(ts, *order_extra)
    rn = df.withColumn("__rn", F.row_number().over(w))
    tools = rn.where(F.col(role_col) == tool_role)
    wt = Window.partitionBy(key).orderBy("__rn")
    tools = tools.withColumn("__island",
                             F.col("__rn") - F.row_number().over(wt))
    wc = Window.partitionBy(key, "__island")
    tools = tools.select(
        key, "__island", F.col(o), F.col(tool_col).alias("__tool"),
        F.row_number().over(wc.orderBy("__rn")).alias("__rk"),
        F.row_number().over(wc.orderBy(F.col("__rn").desc())).alias("__rkd"),
    )
    return (
        tools.groupBy(key, "__island")
        .agg(
            F.min(o).alias(f"first_{o}"),
            F.max(o).alias(f"last_{o}"),
            F.count(F.lit(1)).alias("chain_len"),
            F.countDistinct("__tool").alias("n_tools"),
            F.max(F.when(F.col("__rk") == 1, F.col("__tool")))
            .alias("first_tool"),
            F.max(F.when(F.col("__rkd") == 1, F.col("__tool")))
            .alias("last_tool"),
        )
        .drop("__island")
    )


def canned_responses(
    df: DataFrame,
    min_keys: int = 2,
    key: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    response_role: str = "assistant",
) -> DataFrame:
    """Boilerplate detection: normalized ``response_role`` texts that
    recur across ≥ ``min_keys`` distinct conversations — the canned
    /templated-response inventory a transcript-curation pass reweights
    or drops (the turn-level cousin of dedup_exact's doc fingerprint).
    Output: (response, n_convs, n_uses), normalized text as the key.

    One hash aggregate over (normalized text) with countDistinct on the
    conv key — map-side partial aggregation makes this a near-free scan
    at 100 TB; output cardinality is bounded by the distinct canned-text
    inventory, not the corpus."""
    from towhee_spark.functions.text import normalize_text  # noqa: PLC0415

    resp = df.where(F.col(role_col) == response_role)
    return (
        resp.groupBy(normalize_text(text_col).alias("response"))
        .agg(F.countDistinct(key).alias("n_convs"),
             F.count(F.lit(1)).alias("n_uses"))
        .where(F.col("n_convs") >= min_keys)
    )


def self_repetition(
    df: DataFrame,
    key: str = "conv_id",
    text_col: str = "text",
    role_col: str | None = None,
    roles: Sequence[str] | None = None,
) -> DataFrame:
    """Within-conversation repetition profile: per conversation, how
    many turns repeat an identical (normalized) earlier turn — the
    degenerate-loop signal (assistant stuck repeating itself, user
    spamming retries). Output: (key, n_turns, n_distinct_texts,
    n_repeats, repeat_ratio) with n_repeats = n_turns −
    n_distinct_texts and ratio = ROUND(n_repeats / n_turns, 6) (one
    IEEE division of exact integers, the conv_features posture).
    ``roles`` restricts the profile to those roles.

    No window at all: two stacked hash aggregates ((key, text) then
    key), both with map-side combine — strictly cheaper than the
    row_number formulation and order-free, so no sort anywhere."""
    if roles is not None:
        if role_col is None:
            raise ValueError("self_repetition: roles given without role_col")
        df = df.where(F.col(role_col).isin(list(roles)))
    from towhee_spark.functions.text import normalize_text  # noqa: PLC0415

    per_text = (df.groupBy(key, normalize_text(text_col).alias("__t"))
                  .agg(F.count(F.lit(1)).alias("__n")))
    n_turns = F.sum("__n").cast("long")
    n_dist = F.count(F.lit(1)).cast("long")
    return per_text.groupBy(key).agg(
        n_turns.alias("n_turns"),
        n_dist.alias("n_distinct_texts"),
        (n_turns - n_dist).alias("n_repeats"),
        F.round((n_turns - n_dist).cast("double") / n_turns, 6)
        .alias("repeat_ratio"),
    )


def conv_fingerprint(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """(key, fp): order-sensitive md5 fingerprint of a whole conversation
    — the turns rendered as ``role: normalized-text`` lines in the
    deterministic (ts, *order_extra, line) order, joined on chr(31) and
    hashed. Two conversations with identical turn sequences share a
    fingerprint regardless of absolute timestamps (only ORDER enters);
    any role flip, text edit, insertion, or reorder changes it. md5 of
    the same byte string in both engines → exact oracle.

    One hash aggregate: collect_list of (epoch_us, *order_extra, line)
    structs, array_sort (struct field-order = the total order), project
    the lines, join, md5 — no window, map-side partial aggregation. The
    bounded-conversation argument from :func:`conv_features` applies."""
    from towhee_spark.functions.text import normalize_text  # noqa: PLC0415

    line = F.concat(F.col(role_col), F.lit(": "), normalize_text(text_col))
    item = F.struct(
        epoch_us(ts).alias("t"),
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_extra)],
        line.alias("line"),
    )
    return (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_list(item)).alias("__items"))
        .select(
            key,
            F.md5(F.array_join(
                F.transform("__items", lambda x: x.getField("line")),
                "\x1f")).alias("fp"),
        )
    )


def conv_dedup_exact(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Exact conversation dedup: group :func:`conv_fingerprint` values,
    keep the lowest-``key`` representative — (key, fp, dup_count), the
    conversation-granularity twin of dedup.dedup_exact (retranscribed
    sessions, replayed API logs, and forked eval runs all produce
    byte-identical conversations at corpus scale). Two stacked hash
    aggregates, no window."""
    fps = conv_fingerprint(df, key, ts, order_extra, role_col, text_col)
    return (
        fps.groupBy("fp")
        .agg(F.min(key).alias(key), F.count(F.lit(1)).alias("dup_count"))
        .select(key, "fp", "dup_count")
    )


def conv_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    method: str = "exact",
    key: str = "conv_id",
    text_col: str = "text",
    max_turn_freq: int | None = None,
    num_hashes: int = 64,
    bands: int = 64,
) -> DataFrame:
    """Near-duplicate CONVERSATION pairs (id_a < id_b, jaccard ≥
    threshold) over the turn-set representation: each conversation is the
    SET of its distinct normalized turn texts, so rephrased orderings,
    dropped tool chatter, and partial replays still match — the
    conversation-granularity tier of the dedup family.

    * ``method="exact"`` — inverted-index self-join on shared turn texts
      (the ngram_jaccard_pairs plan with turns as shingles).
      ``max_turn_freq`` drops boilerplate turns occurring in more than
      that many conversations — the same frequency cap that bounds the
      O(freq²) bucket blow-up at corpus scale (canned_responses shows
      what gets dropped). None keeps exact semantics (the oracle path).
    * ``method="lsh"`` — MinHash bands over the same turn sets via
      dedup.minhash_lsh_pairs(shingles_df=...), exact-verified, for
      corpora where even the capped index join is too wide. Conversation
      Jaccard sits low (sharing half your turns is already suspicious),
      so default bands = num_hashes (1-row bands): P(candidate) =
      1−(1−J)^bands, ≥0.999 at J=0.1 with 64 bands.

    Both paths emit (id_a, id_b, jaccard) with the shared
    dedup._jaccard_join rounding — comparable across tiers by
    construction. Feed the pairs to dedup.dedup_groups for survivors."""
    from towhee_spark.functions import dedup as _dd  # noqa: PLC0415
    from towhee_spark.functions.text import normalize_text  # noqa: PLC0415

    sh = df.select(
        F.col(key).alias("id"),
        normalize_text(text_col).alias("shingle"),
    ).distinct()
    if method == "lsh":
        # verify_impl="intersect": conversations are FEW large shingles
        # (one per distinct turn text) — the array-intersect verify wins
        # 2× over the explode form there (see _verify_pairs_exact_jaccard)
        return _dd.minhash_lsh_pairs(
            df, key, text_col, num_hashes=num_hashes, bands=bands,
            threshold=threshold, verify="exact", shingles_df=sh,
            verify_impl="intersect")
    if method != "exact":
        raise ValueError(f"conv_neardup_pairs: unknown method {method!r}")
    sh_cached = sh.cache()
    sh = sh_cached
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_turn_freq is not None:
        ok = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
              .filter(F.col("f") <= max_turn_freq).select("shingle"))
        sh = sh.join(ok, "shingle")
    inter = (
        sh.select("shingle", F.col("id").alias("id_a"))
        .join(sh.select("shingle", F.col("id").alias("id_b")), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _dd._with_cached_deps(
        _dd._jaccard_join(inter, sizes, threshold), sh_cached)


def preference_length_bias(
    pairs: DataFrame,
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
) -> DataFrame:
    """Length-bias diagnostic over a preference-pair frame (the standard
    RLHF sanity check: if 'chosen' is systematically longer, a reward
    model trained on the pairs learns length, not quality). One row:
    (n_pairs, mean_chosen_len, mean_rejected_len, frac_chosen_longer,
    frac_equal_len) — exact integer sums, each mean/fraction ONE
    ROUND(·, 6) IEEE division (the conv_features posture). One hash
    aggregate, no shuffle beyond the final 1-row reduce."""
    cl = F.length(F.coalesce(F.col(chosen_col), F.lit("")))
    rl = F.length(F.coalesce(F.col(rejected_col), F.lit("")))
    n = F.count(F.lit(1))
    return pairs.agg(
        n.cast("long").alias("n_pairs"),
        F.round(F.sum(cl).cast("double") / n, 6).alias("mean_chosen_len"),
        F.round(F.sum(rl).cast("double") / n, 6).alias("mean_rejected_len"),
        F.round(F.sum((cl > rl).cast("int")).cast("double") / n, 6)
        .alias("frac_chosen_longer"),
        F.round(F.sum((cl == rl).cast("int")).cast("double") / n, 6)
        .alias("frac_equal_len"),
    )


def refusal_stats(
    df: DataFrame,
    key: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    response_role: str = "assistant",
) -> DataFrame:
    """Per-conversation refusal profile over ``response_role`` turns:
    (key, n_responses, n_refusals, refusal_ratio) — the
    distillation-cleanup signal (conversations where the assistant
    mostly declines make degenerate SFT sources; filter or down-weight
    them before sft_curation). Refusal = any text.REFUSAL_MARKERS phrase
    (see text.is_refusal). Ratio is ROUND(exact_int/exact_int, 6), one
    division; conversations with zero ``response_role`` turns emit no
    row. One hash aggregate with map-side combine — a scan-speed pass at
    100 TB."""
    from towhee_spark.functions.text import is_refusal  # noqa: PLC0415

    resp = df.where(F.col(role_col) == response_role)
    n = F.count(F.lit(1))
    nr = F.sum(is_refusal(text_col).cast("int"))
    return resp.groupBy(key).agg(
        n.cast("long").alias("n_responses"),
        nr.cast("long").alias("n_refusals"),
        F.round(nr.cast("double") / n, 6).alias("refusal_ratio"),
    )


# --------------------------------------------------------------------------
# branching dialog trees


def _tree_paths_local(df, rows, conv, id_col, parent_col, max_depth,
                      fail_at, leaves_only):
    """Driver-side walk over a collected (conv, id, parent) node table —
    definitionally the pointer-doubling output (see tree_paths; pytest
    pins local == distributed). ``fail_at`` = 2^rounds, the exact
    ancestor-count threshold the distributed live-pointer guard fires at
    (a node fails iff it has >= 2^rounds EXISTING ancestors; the walk
    stops at a NULL or dangling parent exactly like the self-join miss).
    Raises with "max_depth" in the message like the in-plan assert_true.
    Memory: an int depth memo per node + one materialized chain per
    emitted path (output-sized), never per-node chains."""
    import pandas as pd  # noqa: PLC0415
    import pyspark.sql.types as T  # noqa: PLC0415

    nodes: dict[tuple, object] = {}
    for r in rows:
        nodes[(r["__c"], r["__id"])] = r["__ptr"]

    depth: dict[tuple, int] = {}

    def resolve_depth(c, i):
        # iterative: collect the unresolved suffix, then fold back down
        stack = []
        cur = i
        seen = set()
        while (c, cur) not in depth:
            if (c, cur) in seen:
                raise RuntimeError(
                    f"tree_paths: node deeper than max_depth={max_depth} "
                    f"(or a parent cycle) at id={cur}")
            seen.add((c, cur))
            ptr = nodes.get((c, cur))
            if ptr is None or (c, ptr) not in nodes:
                depth[(c, cur)] = 0
                break
            stack.append(cur)
            cur = ptr
        for nid in reversed(stack):
            d = depth[(c, nodes[(c, nid)])] + 1
            if d >= fail_at:
                raise RuntimeError(
                    f"tree_paths: node deeper than max_depth={max_depth} "
                    f"(or a parent cycle) at id={nid}")
            depth[(c, nid)] = d

    for (c, i) in nodes:
        resolve_depth(c, i)

    parent_of = {(c, p) for (c, _i), p in nodes.items() if p is not None}
    out_c, out_pid, out_pos, out_id = [], [], [], []
    for (c, i) in nodes:
        if leaves_only and (c, i) in parent_of:
            continue
        chain = []
        cur = i
        while True:
            chain.append(cur)
            ptr = nodes.get((c, cur))
            if ptr is None or (c, ptr) not in nodes:
                break
            cur = ptr
        chain.reverse()
        for pos, nid in enumerate(chain):
            out_c.append(c)
            out_pid.append(i)
            out_pos.append(pos)
            out_id.append(nid)

    ct = df.schema[conv].dataType
    it = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(conv, ct), T.StructField("path_id", it),
        T.StructField("pos", T.IntegerType()), T.StructField(id_col, it)])
    pdf = pd.DataFrame({conv: out_c, "path_id": out_pid,
                        "pos": out_pos, id_col: out_id})
    return df.sparkSession.createDataFrame(pdf, schema)


def tree_paths(
    df: DataFrame,
    conv: str = "conv_id",
    id_col: str = "turn_id",
    parent_col: str = "parent_id",
    max_depth: int = 64,
    leaves_only: bool = True,
    truncate_lineage: bool = True,
    collect_nodes: int = 30_000,
) -> DataFrame:
    """Flatten BRANCHING conversations (regenerations, edits, agent
    tree-search) into linear paths: every leaf turn becomes one path —
    rows ``(conv, path_id = leaf id, pos, id_col)`` with ``pos`` 0-based
    from the root — so the whole linear-transcript toolchain
    (sft_examples, truncate_context, conv_fingerprint …) runs unchanged
    on trees after a join back to the turn columns keyed by
    ``(conv, path_id)`` instead of ``conv``.

    Turns reference their parent via ``parent_col`` (NULL = root; a
    conversation may hold several roots — each leaf walks to ITS root).

    Scale design: pointer doubling with path accumulation, NOT a per-leaf
    recursive walk and NOT an ancestor-closure join (a linear 10^4-turn
    conversation's transitive closure is 5·10^7 pairs; the accumulated
    path state is just Σ depth ≈ output-sized). Each node carries
    ``(ptr, path)`` where ``path`` is the contiguous id chain from the
    node up to (not including) ``ptr``; one self-join per round composes
    ``path → path_k(x) ++ path_k(ptr_k(x))`` and squares the covered
    span, so ``ceil(log2(max_depth))+1`` joins reach depth ``max_depth``
    regardless of tree shape. All JVM-side array ops, no Python, no
    driver-side iteration on data.

    ``max_depth`` is a hard bound enforced IN the plan: any node still
    carrying a live pointer after the final round (deeper tree — or a
    parent cycle, which can never terminate) fails loudly via
    assert_true at execution, the action-free-build / loud-at-run
    convention (pool_embeddings' ragged guard).

    ``leaves_only=False`` emits a path row-set for EVERY node (its
    root-chain), turning the result into an ancestor table:
    (conv, path_id = node, pos, id) with depth(node) = max(pos).

    Iterative-op caveat (the kmeans/bpe_train family, NOT an action-free
    plan builder): each doubling round ends in a LAZY
    ``localCheckpoint`` — without it the self-join doubles the logical
    plan per round (2^rounds join nodes, and 2^rounds duplicated
    execution: the Spark twin of the DuckDB materialized-CTE trap) —
    and under AQE building the checkpoint RDD schedules its stages
    immediately, so constructing this DataFrame runs jobs. The work is
    done once; the final action consumes the checkpointed rounds.
    ``truncate_lineage=False`` keeps the fully declarative exponential
    plan — only sane for small ``max_depth`` (tests, plan inspection).

    ``collect_nodes``: node tables within the cap (layout.collect_small)
    collect once and the walk runs driver-side (_tree_paths_local —
    definitionally identical, pytest lockstep pin): the doubling rounds'
    checkpoint jobs are pure latency on a small tree. Measured crossover
    (local[32]): 3× faster at 9k nodes (0.39 vs 1.21 s), mildly slower at
    93k (2.7 vs 2.2 s) — the 30k default sits inside the winning regime.
    0 disables (always distributed).
    """
    import math  # noqa: PLC0415

    if max_depth < 1:
        raise ValueError("tree_paths: max_depth must be >= 1")
    rounds = max(1, math.ceil(math.log2(max_depth + 1)))

    probe = collect_small(df.select(
        F.col(conv).alias("__c"), F.col(id_col).alias("__id"),
        F.col(parent_col).alias("__ptr"),
    ), collect_nodes)
    if probe is not None:
        return _tree_paths_local(
            df, probe, conv, id_col, parent_col, max_depth,
            1 << rounds, leaves_only)

    st = df.select(
        F.col(conv).alias("__c"),
        F.col(id_col).alias("__id"),
        F.col(parent_col).alias("__ptr"),
        F.array(F.col(id_col)).alias("__path"),
    )
    for _ in range(rounds):
        # see docstring: truncate per round or the plan (and the
        # execution) double each round
        if truncate_lineage:
            st = st.localCheckpoint(eager=False)
        nxt = st.select(
            F.col("__c").alias("__jc"), F.col("__id").alias("__jid"),
            F.col("__ptr").alias("__jptr"), F.col("__path").alias("__jpath"))
        st = (
            st.join(
                nxt,
                (F.col("__c") == F.col("__jc"))
                & (F.col("__ptr") == F.col("__jid")),
                "left")
            .select(
                "__c", "__id",
                F.when(F.col("__jid").isNotNull(), F.col("__jptr"))
                .alias("__ptr"),
                F.when(
                    F.col("__jid").isNotNull(),
                    F.concat(F.col("__jpath"), F.col("__path")))
                .otherwise(F.col("__path")).alias("__path"),
            ))
    # assert_true returns NULL when the predicate holds and throws at
    # execution otherwise. The guard must live in a FILTER, not woven
    # into the __path projection: whole-stage codegen evaluates project
    # outputs lazily on consumption, so a downstream join that DROPS a
    # row (the leaves_only anti-join — a cycle makes every node a
    # parent) would skip the woven assert entirely. It only ever fired
    # because InferFiltersFromGenerate used to synthesize a
    # size(__path)>0 filter that consumed the expression below the join;
    # with that rule excluded (session defaults, r06) the latent gap
    # surfaced. A Filter predicate is evaluated for EVERY row.
    guard = F.assert_true(
        F.col("__ptr").isNull(),
        F.concat(
            F.lit(f"tree_paths: node deeper than max_depth={max_depth} "
                  f"(or a parent cycle) at id="),
            F.col("__id").cast("string")))
    guarded = st.where(guard.isNull()).select("__c", "__id", "__path")
    if leaves_only:
        parents = df.where(F.col(parent_col).isNotNull()).select(
            F.col(conv).alias("__pc"), F.col(parent_col).alias("__pid"))
        guarded = guarded.join(
            parents,
            (F.col("__c") == F.col("__pc")) & (F.col("__id") == F.col("__pid")),
            "left_anti")
    return guarded.select(
        F.col("__c").alias(conv),
        F.col("__id").alias("path_id"),
        F.posexplode("__path").alias("pos", id_col),
    ).withColumn("pos", F.col("pos").cast("int"))


#: charset funnel step values may use — everything here is regex-literal
#: in BOTH Java regex (Spark rlike) and RE2 (DuckDB regexp_matches), so
#: patterns need no escaping layer that could diverge between engines
_FUNNEL_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_- ")


def funnel_steps(
    df: DataFrame,
    steps: Sequence[str],
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: Sequence[str] = ("turn_idx",),
    col: str = "role",
) -> DataFrame:
    """Ordered-pattern (funnel) analysis per conversation: how far down
    the step sequence ``steps`` does each conversation get, where step k
    counts as reached when steps 1..k appear IN ORDER (not necessarily
    adjacent — the classic subsequence-funnel semantics of product
    analytics, here over turn roles/tools/labels).

    Output: (key, n_turns, steps_reached, converted) — n_turns counts
    turns with a non-NULL ``col``, steps_reached ∈ [0, len(steps)],
    converted ⇔ the full sequence matched.

    Implementation: ONE hash aggregate per conversation (the
    conv_fingerprint shape — no window, map-side partials): the turn
    values sort on (epoch_us, *order_extra, value) into a chr(31)-framed
    string with DOUBLED separators (the BPE packed-string trick: each
    token's ␟v␟ frame never overlaps its neighbor's), then subsequence
    matching is K regex probes ``␟s1␟.*␟s2␟…`` evaluated in one codegen
    projection. Prefix monotonicity (pattern k+1 matching implies k)
    makes the CASE-from-K-down well-defined. Step values are restricted
    to a regex-literal charset so the SAME pattern string is literal in
    Java regex and RE2 — the oracle is string_agg + regexp_matches.

    Scale: bounded-conversation aggregate (conv_features argument); the
    pattern probes are pure string ops on the aggregated row — cost is
    O(conv_len · K) per conversation, no shuffle beyond the one agg.
    """
    if not steps:
        raise ValueError("funnel_steps: need at least one step")
    for s in steps:
        if not s or not set(s) <= _FUNNEL_SAFE:
            raise ValueError(
                f"funnel_steps: step {s!r} outside the regex-literal "
                f"charset [A-Za-z0-9_ -] — map values upstream")
    sep = "\x1f"
    item = F.struct(
        epoch_us(ts).alias("t"),
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_extra)],
        F.col(col).alias("v"),
    )
    g = (
        df.where(F.col(col).isNotNull())
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.array_sort(F.collect_list(item)).alias("__items"),
        )
        .select(
            key,
            "n_turns",
            F.concat(
                F.lit(sep),
                F.array_join(
                    F.transform("__items", lambda x: x.getField("v")),
                    sep + sep),
                F.lit(sep),
            ).alias("__seq"),
        )
    )
    pats = [
        ".*".join(f"{sep}{s}{sep}" for s in steps[: k + 1])
        for k in range(len(steps))
    ]
    reached = F.lit(0)
    for k, p in enumerate(pats):
        reached = F.when(F.col("__seq").rlike(p), F.lit(k + 1)).otherwise(reached)
    return g.select(
        key, "n_turns",
        reached.alias("steps_reached"),
        F.col("__seq").rlike(pats[-1]).alias("converted"),
    )
