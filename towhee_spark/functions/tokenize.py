"""Subword tokenization (WordPiece greedy longest-match) as a Spark plan.

Real training-data pipelines budget, pack and score in MODEL tokens, not
whitespace words — the reference's LLM ops hand text straight to a
provider tokenizer (ref towhee/runtime/hub_ops/llm.py:38-44); here the
tokenizer itself is a first-class distributed op so token budgets
(curation.sample_to_token_budget), packing and perplexity can run in
subword units with a DuckDB-mirrorable derivation (VERDICT r04 ask #2).

Algorithm (the BERT WordPiece encoder, greedy longest-match):

* words = the codebase's canonical whitespace tokens (ranking._toks —
  normalize_text then split);
* a word longer than ``max_word_chars`` is ``[UNK]``;
* otherwise scan left→right: at each position take the LONGEST vocab
  piece matching (position 1 matches bare pieces, later positions match
  ``##``-prefixed continuation pieces); if no piece matches, the whole
  word is ``[UNK]``.

Engine design — Spark-first, not a per-row loop: greedy decoding is a
data-dependent walk, but the walk only ever consults "longest vocab
match at (word, position)", which is a JOIN, not a loop:

1. distinct words (tokenize each distinct word ONCE — the corpus word
   distribution is Zipfian, so this dedup is a huge win at scale);
2. explode (word, pos, piece_len) candidates — bounded by
   max_word_chars · max_piece_len per word — and broadcast-join the
   vocab to take max(piece_len) per (word, pos);
3. one cheap O(len) fold per word replays the greedy walk over the
   per-position longest-match map (element_at lookups only — no vocab
   scan inside the lambda, the interpreted-HOF lesson);
4. join the per-word pieces back and reassemble per document in word
   order (collect_list(struct) + array_sort + flatten — the codebase's
   order-stable aggregation pattern).

Scale story (100 TB): the candidate explosion and vocab join run over
DISTINCT words (≪ corpus tokens); the corpus-sized stages are one
explode + one broadcast-ish join on word + one hash aggregate per doc.
No Python worker in the expr path; ``impl='arrow'`` swaps steps 1-4 for
a batched Arrow kernel doing the same greedy walk against a broadcast
frozenset (identical output, fewer shuffles — the production path when
the vocab is large); equality tests keep the two in lockstep.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from towhee_spark.layout import collect_small

UNK = "[UNK]"

# Java-regex-parity normalizer (the arrow kernel's Python face of
# text.normalize_text): Java's \s is [ \t\n\x0B\f\r] — NOT Python's
# unicode-aware \s — so the class is spelled out; lower() differences
# outside ASCII are out of contract (the expr path is the parity
# reference; the lockstep equality test runs on the shared corpus).
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _normalize_py(t: str | None) -> str:
    return _JAVA_WS.sub(" ", (t or "").lower()).strip(" ")


def wordpiece_vocab(
    docs: DataFrame,
    text_col: str = "text",
    n_words: int = 64,
    n_suffix: int = 16,
    collect_words: int = 200_000,
) -> list[str]:
    """Train a deterministic WordPiece-ish vocab from the corpus (ONE
    action — the ivf_train/kmeans_train "train step" convention):

    * the ``n_words`` most frequent whole words, ties word-ascending;
    * the ``n_suffix`` most frequent 2-char word tails as ``##xx``
      continuation pieces (len(word) >= 3 so the tail is a strict
      suffix), ties tail-ascending;
    * every single character OF THE TOP WORDS, both bare and ``##``
      forms (rare symbols outside the head vocabulary fall to [UNK] —
      deliberate: it keeps the UNK path alive and the vocab small);
    * ``[UNK]``.

    Counts are over word OCCURRENCES (the exploded token stream), so
    both rankings are frequency-weighted exactly like the DuckDB mirror
    (_tokenize_sql) — every step is a count + total-order top-N, no
    floats anywhere. Returns a sorted de-duplicated list[str].

    Train cost: ONE distinct-word count aggregate; when that table fits
    ``collect_words`` rows (layout.collect_small) both rankings are
    derived driver-side from it — integer counts, the same (c DESC, key
    ASC) total orders, ASCII-safe compares — instead of two separate
    corpus jobs (measured 0.83 s → 0.45 s per train at sf0.1, re-paid by
    every *_full bench row that retrains at plan build)."""
    from towhee_spark.functions.ranking import _toks  # noqa: PLC0415

    w = docs.select(
        F.explode(_toks(F.col(text_col))).alias("word"))
    wc = collect_small(
        w.groupBy("word").agg(F.count(F.lit(1)).alias("c")), collect_words)
    if wc is not None:
        counts = [(r["word"], int(r["c"])) for r in wc]
        # occurrence-weighted top words, '##'-prefixed corpus words
        # excluded BEFORE the top-N (ambiguous with continuation pieces)
        top_words = [
            word for word, _ in sorted(
                ((word, c) for word, c in counts
                 if not word.startswith("##")),
                key=lambda t: (-t[1], t[0]))[:n_words]
        ]
        tails: dict[str, int] = {}
        for word, c in counts:
            if len(word) >= 3:
                t = word[-2:]
                tails[t] = tails.get(t, 0) + c
        suf_tails = [t for t, _ in sorted(
            tails.items(), key=lambda kv: (-kv[1], kv[0]))[:n_suffix]]
    else:
        top = (
            # a corpus word that itself starts with '##' would be ambiguous
            # with a continuation piece (the vocab is a flat string set) —
            # excluded BEFORE the top-N so the SQL mirror's LIMIT sees the
            # same candidate stream
            w.where(~F.col("word").startswith("##"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("word").asc())
            .limit(n_words)
            .collect()
        )
        top_words = [r["word"] for r in top]
        suf = (
            w.where(F.length("word") >= 3)
            .select(F.substring(F.col("word"), -2, 2).alias("t"))
            .groupBy("t").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("t").asc())
            .limit(n_suffix)
            .collect()
        )
        suf_tails = [r["t"] for r in suf]
    vocab = set(top_words)
    vocab.update("##" + t for t in suf_tails)
    for word in top_words:
        for ch in word:
            vocab.add(ch)
            vocab.add("##" + ch)
    vocab.add(UNK)
    return sorted(vocab)


def _vocab_core(piece: str) -> tuple[bool, str]:
    """piece → (is_prefix, core): '##ab' → (False, 'ab'); 'ab' → (True,
    'ab'). [UNK] is an output marker, never a match candidate."""
    if piece.startswith("##"):
        return False, piece[2:]
    return True, piece


def wordpiece_tokenize(
    docs: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "expr",
    max_word_chars: int = 16,
    out_col: str = "pieces",
) -> DataFrame:
    """(id_col, out_col: array<string>, n_tokens: int) — the WordPiece
    piece stream per document, words in order, pieces in order within
    each word. Empty/NULL text → empty array, n_tokens = 0.

    ``vocab`` is the trained list (wordpiece_vocab or any list[str] of
    bare + ``##`` pieces — a real BERT vocab file drops straight in);
    the plan broadcasts it, so plan construction is action-free (the
    lsh_topk dim= convention). ``impl='expr'`` is the join-based native
    plan (module doc); ``impl='arrow'`` the batched kernel."""
    if not vocab:
        raise ValueError("wordpiece_tokenize: empty vocab")
    if impl == "arrow":
        return _wp_arrow(docs, vocab, id_col, text_col, max_word_chars,
                         out_col)
    if impl != "expr":
        raise ValueError(
            f"impl must be 'arrow' or 'expr', got {impl!r}")
    return _wp_expr(docs, vocab, id_col, text_col, max_word_chars, out_col)


def _wp_py_word(word: str, vs: frozenset, max_word_chars: int,
                max_piece: int) -> list[str]:
    """Reference greedy walk (the arrow kernel's inner loop; also the
    semantics contract the expr plan and the SQL mirror reproduce)."""
    n = len(word)
    if n > max_word_chars:
        return [UNK]
    out: list[str] = []
    pos = 0
    while pos < n:
        best = 0
        lim = min(max_piece, n - pos)
        for ln in range(lim, 0, -1):
            cand = word[pos:pos + ln] if pos == 0 else "##" + word[pos:pos + ln]
            if cand in vs:
                best = ln
                out.append(cand)
                break
        if best == 0:
            return [UNK]
        pos += best
    return out


def _wp_arrow(docs, vocab, id_col, text_col, max_word_chars, out_col):
    vs = frozenset(vocab)
    max_piece = max((len(_vocab_core(p)[1]) for p in vocab if p != UNK),
                    default=1)
    sc = docs.sparkSession.sparkContext
    bv = sc.broadcast((vs, max_piece))

    # per-worker memo (closure dict, unpickled once per executor worker and
    # shared across that worker's batches/tasks): corpus words are Zipfian,
    # so most greedy walks are repeats — one dict hit replaces an
    # O(len·max_piece) walk. Bounded by the distinct-word vocabulary.
    memo: dict[str, list[str]] = {}

    @F.arrow_udf("array<string>")
    def wp(texts: pa.Array) -> pa.Array:
        vset, mp = bv.value
        outs = []
        for t in texts.to_pylist():
            words = _normalize_py(t).split()
            pieces: list[str] = []
            for w in words:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _wp_py_word(w, vset, max_word_chars, mp)
                pieces.extend(got)
            outs.append(pieces)
        return pa.array(outs, type=pa.list_(pa.string()))

    return docs.select(
        F.col(id_col),
        wp(F.col(text_col)).alias(out_col),
    ).withColumn("n_tokens", F.size(out_col))


def _wp_expr(docs, vocab, id_col, text_col, max_word_chars, out_col):
    from towhee_spark.functions.ranking import _toks  # noqa: PLC0415

    spark = docs.sparkSession
    # rows: (core, is_prefix) — the join key is the RAW substring plus
    # whether we are at word start, so no string concat runs per candidate
    vdf = spark.createDataFrame(
        [(core, bool(is_prefix)) for core, is_prefix in
         {( _vocab_core(v)[1], _vocab_core(v)[0]) for v in vocab if v != UNK}],
        "core string, is_prefix boolean",
    )
    max_piece = max((len(_vocab_core(p)[1]) for p in vocab if p != UNK),
                    default=1)

    base = docs.select(F.col(id_col), _toks(F.col(text_col)).alias("__ws"))
    words = (
        base.select(F.explode("__ws").alias("word"))
        .where(F.length("word") <= max_word_chars)
        .distinct()
    )
    # candidate (word, pos, l) grid; pos/l 1-based; l capped by remaining
    cand = (
        words.select(
            "word",
            F.posexplode(F.sequence(F.lit(1), F.length("word")))
             .alias("__junk", "pos"),
        )
        .drop("__junk")
        .select(
            "word", "pos",
            F.explode(F.sequence(
                F.lit(1),
                F.least(F.lit(max_piece),
                        F.length("word") - F.col("pos") + 1))).alias("l"),
        )
        .select(
            "word", "pos", "l",
            F.col("word").substr(F.col("pos"), F.col("l")).alias("core"),
            (F.col("pos") == 1).alias("is_prefix"),
        )
    )
    lmax = (
        cand.join(F.broadcast(vdf), ["core", "is_prefix"])
        .groupBy("word", "pos").agg(F.max("l").alias("L"))
    )
    lmap = lmax.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("pos"), F.col("L")))).alias("__lm"))

    # greedy replay: O(len) fold, element_at lookups only
    def step(acc, _):
        pos, out, failed = acc.getField("p"), acc.getField("o"), acc.getField("f")
        l = F.coalesce(F.element_at(F.col("__lm"), pos), F.lit(0))
        piece = F.concat(
            F.when(pos == 1, F.lit("")).otherwise(F.lit("##")),
            F.col("word").substr(pos, l))
        return (
            F.when(failed | (pos > F.length("word")), acc)
            .when(l == 0, F.struct(
                (F.length("word") + 1).alias("p"),
                F.array(F.lit(UNK)).alias("o"),
                F.lit(True).alias("f")))
            .otherwise(F.struct(
                (pos + l).alias("p"),
                F.array_append(out, piece).alias("o"),
                F.lit(False).alias("f")))
        )

    init = F.struct(
        F.lit(1).alias("p"),
        F.array().cast("array<string>").alias("o"),
        F.lit(False).alias("f"))
    word_pieces = (
        words.join(lmap, "word", "left")
        .select(
            "word",
            F.aggregate(
                F.sequence(F.lit(1), F.length("word")), init, step,
                lambda s: s.getField("o")).alias("__p"),
        )
    )

    # reassemble per doc in word order; over-long words never reached the
    # match stage — their pieces are [UNK] via the shared missing= rule
    return _per_doc_reassemble(docs, base, word_pieces, id_col, out_col,
                               missing=UNK)


# ---------------------------------------------------------------------------
# BPE (byte-pair encoding) — the GPT-family subword scheme next to WordPiece


SEP = "\x1f"  # symbol wrapper; adjacency in the packed string is SEP+SEP


def _bpe_wrap_expr(word):
    """word → the packed symbol string: every char wrapped in SEP
    (regexp backref — one native projection), SEP-containing words kept
    as ONE unsplittable symbol (the packed form can't represent them)."""
    return F.when(
        word.contains(SEP),
        F.concat(F.lit(SEP), word, F.lit(SEP)),
    ).otherwise(F.regexp_replace(word, "(.)", SEP + "$1" + SEP))


def _bpe_syms_expr(s):
    """packed string → array<string> of symbols (strip the outer SEPs,
    split on the doubled separator)."""
    return F.split(s.substr(F.lit(2), F.length(s) - 2), SEP + SEP)


def _bpe_pat(a: str, b: str) -> tuple[str, str]:
    return SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 24,
    collect_words: int = 200_000,
) -> list[tuple[str, str]]:
    """Learn a BPE merge list from the corpus: start from characters,
    repeatedly merge the most frequent adjacent symbol pair (ties →
    pair-ascending), ``n_merges`` times or until no pair repeats. Returns
    the ORDERED merge list [(a, b), ...] — feed to bpe_encode.

    The loop state is the DISTINCT-WORD table (word, cnt, packed symbol
    string). When it has ≤ ``collect_words`` rows it is collected ONCE
    (layout.collect_small) and the whole train loop runs driver-side in
    Python — a train-step action with zero
    per-round Spark jobs; Python's str.replace is the same
    non-overlapping left-to-right scan as the engine's replace(), and
    pair counts / (count DESC, pair ASC) ties are exact integers and
    ASCII-safe string compares, so the merge list is IDENTICAL to the
    distributed loop's (pytest-pinned). Measured: 24 rounds on the sf0.1
    table went 11.4 s → the cost of one aggregate (each distributed
    round was pure job-latency overhead — the state was 31 rows).

    Past the threshold the distributed loop runs: each round ONE
    map-side-combined pair-count aggregate + a 1-row collect + one
    native replace() projection, and every 6 rounds a ``localCheckpoint``
    of the small word table — without it round k re-evaluates all k
    accumulated replaces over the cached base, O(rounds²) total (the
    tree_paths doubling lesson). The packed-string merge (each symbol
    wrapped in a 0x1F separator, pair merged by a single non-overlapping
    left-to-right replace — exactly BPE's scan order) keeps every round
    free of Python and exactly reproducible in DuckDB, so the TRAIN loop
    stays oracle-mirrorable round by round.

    Scale story (100 TB): distinct words ≫ 200k → rounds × (one agg over
    distinct words + 1-row collect). Real BPE trains run on a corpus
    SAMPLE — compose with curation.sample_by_hash — and n_merges in the
    thousands means thousands of driver round-trips: train once, persist
    the merge list. Replaces the provider-tokenizer seam of the
    reference's LLM ops (towhee/runtime/hub_ops/llm.py:38-44) with an
    in-engine trainable."""
    from towhee_spark.functions.ranking import _toks  # noqa: PLC0415

    base = (
        docs.select(F.explode(_toks(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", _bpe_wrap_expr(F.col("word")).alias("s"))
        .cache()
    )
    w = base
    prev_ckpt = None
    try:
        head = collect_small(w.select("cnt", "s"), collect_words)
        if head is not None:
            return _bpe_train_local(
                [(int(r["cnt"]), r["s"]) for r in head], n_merges)
        merges: list[tuple[str, str]] = []
        for rnd in range(n_merges):
            arr = _bpe_syms_expr(F.col("s"))
            pairs = F.when(
                F.size(arr) >= 2,
                F.zip_with(
                    F.slice(arr, 1, F.size(arr) - 1),
                    F.slice(arr, 2, F.size(arr) - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            best = (
                w.select("cnt", F.explode(pairs).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").cast("long").alias("c"))
                .where(F.col("c") >= 2)  # a pair seen once can't compress
                .orderBy(F.col("c").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b))
            pat, rep = _bpe_pat(a, b)
            w = w.withColumn("s", F.replace("s", F.lit(pat), F.lit(rep)))
            if (rnd + 1) % 6 == 0:
                w = w.localCheckpoint()  # truncate the replace chain
                if prev_ckpt is not None:
                    prev_ckpt.unpersist()
                prev_ckpt = w
    finally:
        base.unpersist()
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
    return merges


def _bpe_train_local(
    rows: list[tuple[int, str]], n_merges: int
) -> list[tuple[str, str]]:
    """The distributed train loop replayed on the collected word table:
    identical pair counting (Σ cnt over adjacent symbols), identical
    (c DESC, a ASC, b ASC) argmax, identical packed-string replace —
    same merge list, zero per-round jobs."""
    state = rows  # [(cnt, packed)]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for cnt, s in state:
            syms = s[1:-1].split(SEP + SEP) if len(s) > 2 else []
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + cnt
        best = None
        for (a, b), c in counts.items():
            if c < 2:
                continue
            key = (-c, a, b)
            if best is None or key < best[0]:
                best = (key, a, b)
        if best is None:
            break
        _, a, b = best
        merges.append((a, b))
        pat, rep = _bpe_pat(a, b)
        state = [(cnt, s.replace(pat, rep)) for cnt, s in state]
    return merges


def _bpe_py_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference encode (arrow kernel inner loop): the packed-string
    replace per merge, in merge order — identical to the train update."""
    if SEP in word:
        return [word]
    s = SEP + (SEP + SEP).join(word) + SEP
    for a, b in merges:
        pat, rep = _bpe_pat(a, b)
        s = s.replace(pat, rep)
    return s[1:-1].split(SEP + SEP) if len(s) > 2 else []


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "expr",
    out_col: str = "pieces",
) -> DataFrame:
    """(id_col, out_col: array<string>, n_tokens) — apply a trained merge
    list to the corpus (words in order, symbols in order; empty/NULL text
    → empty array). Unlike WordPiece there is no [UNK]: every word
    encodes (worst case as characters). Action-free plan construction —
    ``merges`` is data (train once with bpe_train, persist, reuse).

    ``impl='expr'``: distinct words → ONE fold over the merge-literal
    array (each step a native replace on the packed string) → per-doc
    reassembly; ``impl='arrow'``: the same walk in a batched kernel."""
    if impl == "arrow":
        sc = docs.sparkSession.sparkContext
        bm = sc.broadcast(list(merges))

        # per-worker memo (the _wp_arrow pattern): each distinct word runs
        # its merge-replace chain once, not once per occurrence — the
        # arrow twin of the expr path's distinct-word table
        memo: dict[str, list[str]] = {}

        @F.arrow_udf("array<string>")
        def enc(texts: pa.Array) -> pa.Array:
            ms = bm.value
            outs = []
            for t in texts.to_pylist():
                words = [x for x in _normalize_py(t).split(" ") if x]
                pieces: list[str] = []
                for w in words:
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = _bpe_py_word(w, ms)
                    pieces.extend(got)
                outs.append(pieces)
            return pa.array(outs, type=pa.list_(pa.string()))

        return docs.select(
            F.col(id_col), enc(F.col(text_col)).alias(out_col)
        ).withColumn("n_tokens", F.size(out_col))
    if impl != "expr":
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")

    from towhee_spark.functions.ranking import _toks  # noqa: PLC0415

    base = docs.select(F.col(id_col), _toks(F.col(text_col)).alias("__ws"))
    words = base.select(F.explode("__ws").alias("word")).distinct()
    if merges:
        mlits = F.array(*[
            F.struct(F.lit(p).alias("p"), F.lit(r).alias("r"))
            for p, r in (_bpe_pat(a, b) for a, b in merges)
        ])
        packed = F.aggregate(
            mlits,
            _bpe_wrap_expr(F.col("word")),
            lambda acc, m: F.replace(acc, m.getField("p"), m.getField("r")),
        )
    else:
        packed = _bpe_wrap_expr(F.col("word"))
    word_pieces = words.select(
        "word", _bpe_syms_expr(packed).alias("__p"))
    return _per_doc_reassemble(docs, base, word_pieces, id_col, out_col,
                               missing=None)


def _per_doc_reassemble(docs, base, word_pieces, id_col, out_col, missing):
    """Shared tail of the expr tokenizers: join per-word piece arrays back
    to the (doc, word-position) stream and flatten in word order.
    ``missing`` = pieces for words absent from word_pieces (WordPiece's
    over-long [UNK] rule), or None when every word is present (BPE)."""
    exploded = base.select(
        id_col, F.posexplode("__ws").alias("widx", "word"))
    joined = exploded.join(word_pieces, "word", "left")
    fill = (F.coalesce("__p", F.array(F.lit(missing)))
            if missing is not None else F.col("__p"))
    per_doc = (
        joined.select(id_col, "widx", fill.alias("__p"))
        .groupBy(id_col)
        .agg(F.flatten(F.transform(
            F.array_sort(F.collect_list(F.struct("widx", "__p"))),
            lambda s: s.getField("__p"))).alias(out_col))
    )
    return (
        docs.select(id_col).join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(out_col, F.array().cast("array<string>"))
             .alias(out_col))
        .withColumn("n_tokens", F.size(out_col))
    )


# ---------------------------------------------------------------------------
# piece → id: the numeric face of the token stream (embedding tables,
# packed training shards and loss masks consume ids, not strings)


def piece_id_table(
    pieces: DataFrame,
    pieces_col: str = "pieces",
) -> DataFrame:
    """(piece, piece_id:int) — a deterministic id assignment over the
    piece stream of :func:`wordpiece_tokenize` / :func:`bpe_encode`
    output: ids are 0-based ranks by (occurrence count DESC, piece ASC),
    so the most frequent piece is id 0 — the frequency-sorted vocab
    layout real tokenizers ship.

    The ranking window runs on the VOCAB table (≤ vocab-size rows, the
    quality-quantile histogram-window convention), never on the corpus;
    the only corpus-sized stage is one map-side-combined hash aggregate.
    Persist to parquet once (the merges_to_df / ANN materialized-index
    convention) and reload for encode_ids."""
    from pyspark.sql import Window  # noqa: PLC0415

    counts = (
        pieces.select(F.explode(pieces_col).alias("piece"))
        .groupBy("piece").agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy(F.col("__c").desc(), F.col("piece").asc())
    return counts.select(
        "piece", (F.row_number().over(w) - 1).cast("int").alias("piece_id"))


def encode_ids(
    pieces: DataFrame,
    id_table: DataFrame,
    id_col: str = "doc_id",
    pieces_col: str = "pieces",
    impl: str = "expr",
    out_col: str = "ids",
) -> DataFrame:
    """(id_col, out_col: array<int>, n_tokens) — map each document's
    piece array to vocab ids through ``id_table`` (a piece_id_table
    result, reloaded from parquet or live). Pieces absent from the table
    (applying a FOREIGN vocab's ids to a new corpus) map to -1 — filter
    or remap explicitly; [UNK] itself is a normal vocab entry, so a
    same-corpus encode never emits -1.

    Scale story (100 TB): the id table is model-sized, so it moves to the
    executors, not the corpus to a shuffle — ``impl='expr'`` folds the
    table into a constant map literal and encodes in ONE projection
    (zero exchanges, no explode/reassemble of the corpus piece stream);
    ``impl='arrow'`` ships it as a broadcast dict inside a batched
    kernel (the production path for 100k-piece vocabs, where a literal
    map would bloat the plan). Collecting the id table is a train-step
    action (the wordpiece_vocab / kmeans_train convention)."""
    rows = id_table.select("piece", "piece_id").collect()  # k-row: vocab-sized
    mapping = {r["piece"]: int(r["piece_id"]) for r in rows}
    if impl == "arrow":
        from towhee_spark.kernels import _list_array  # noqa: PLC0415

        sc = pieces.sparkSession.sparkContext
        bm = sc.broadcast(mapping)

        @F.arrow_udf("array<int>")
        def enc(ps: pa.Array) -> pa.Array:
            # one dict lookup per DISTINCT piece of the batch (the embed
            # kernels' dictionary-encode trick); a NULL array encodes empty
            m = bm.value
            flat = pc.dictionary_encode(pc.list_flatten(ps),
                                        null_encoding="encode")
            uniq = flat.dictionary.to_pylist()
            ids = np.fromiter((m.get(p, -1) for p in uniq), dtype=np.int32,
                              count=len(uniq))
            lens = np.asarray(pc.list_value_length(ps).fill_null(0))
            offsets = np.concatenate(([0], np.cumsum(lens)))
            return _list_array(offsets, pa.array(
                ids[np.asarray(flat.indices, dtype=np.int64)]))

        out = pieces.select(F.col(id_col), enc(F.col(pieces_col)).alias(out_col))
        return out.withColumn("n_tokens", F.size(out_col))
    if impl != "expr":
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    src = F.coalesce(F.col(pieces_col),
                     F.array().cast("array<string>"))  # NULL → empty
    if mapping:
        mlit = F.map_from_arrays(
            F.array(*[F.lit(p) for p in mapping]),
            F.array(*[F.lit(i) for i in mapping.values()]))
        ids = F.transform(
            src, lambda p: F.coalesce(F.element_at(mlit, p), F.lit(-1)))
    else:
        ids = F.transform(src, lambda p: F.lit(-1))
    return (
        pieces.select(F.col(id_col), ids.cast("array<int>").alias(out_col))
        .withColumn("n_tokens", F.size(out_col))
    )


def chunk_ids(
    ids,
    size: int = 512,
    overlap: int = 64,
):
    """Fixed-window chunks over a token-id (or any) ARRAY column —
    text.chunk_text's window rules re-expressed in MODEL tokens, the unit
    a context-window-bound RAG index actually needs:
    ``array<struct<start:int, part:array<element>>>``.

    Rules kept in LOCKSTEP with chunk_text (same arithmetic, same
    oracle shape): a start is emitted only while it contributes new
    elements (starts stop at ``len − size + step − 1`` — no chunk fully
    contained in its predecessor), empty/NULL arrays yield ZERO chunks.
    Native sequence/slice/transform only; explode for (doc, chunk)
    rows. Compose: wordpiece_tokenize → encode_ids → chunk_ids."""
    if overlap >= size:
        raise ValueError("chunk_ids: overlap must be < size")
    arr = F.col(ids) if isinstance(ids, str) else ids
    arr = F.coalesce(arr, F.array())
    step = size - overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(arr) - size + step - 1, F.lit(0)),
        F.lit(step),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("start"),
            F.slice(arr, s + 1, size).alias("part"),
        ),
    )
    return F.when(F.size(arr) == 0, F.slice(chunks, 1, 0)).otherwise(chunks)


def merges_to_df(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """Persistable merge-list form: (rank:int 1-based, a, b) — write to
    parquet once after bpe_train (the materialized-index convention of
    the ANN tiers) and reload with merges_from_df."""
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string")


def merges_from_df(df: DataFrame) -> list[tuple[str, str]]:
    """Reload an ORDERED merge list from its (rank, a, b) table (one
    k-row collect — merge lists are model-sized, thousands of rows)."""
    return [(r["a"], r["b"])
            for r in df.select("rank", "a", "b").orderBy("rank").collect()]
