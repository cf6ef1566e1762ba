"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pandas and a pure function of ``(seed, size)``.
The inputs are generated by the benchmark itself rather than by
``towhee_spark.synth`` so that a change to the library's own fixture code
cannot shift what the benchmark measures.

Row counts do not depend on the seed: turns and context rows per
conversation, near-duplicate cluster sizes and the short-document share
come from fixed multisets that the seed only permutes, so recorded row
counts can be checked exactly. Gaps between turns and tokens per turn are
fixed multisets too, so runs on different seeds do close to the same
transcript work on different content.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# 2026-01-01T00:00:00Z in epoch microseconds
EPOCH0_US = 1_767_225_600_000_000
DAY_US = 86_400 * 1_000_000
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
TOOLS = np.array(["search", "code", "browse", "db"], dtype=object)
TURN_VOCAB = np.array([f"tok{i}" for i in range(500)], dtype=object)
STOPWORDS = ("the", "and", "of", "to", "is", "in", "for", "on", "with", "a")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input table, so resizing one table never
    # shifts the draws of another
    return np.random.default_rng([int(seed), sum(map(ord, stream))])


def _zipf_ids(rng: np.random.Generator, n_vocab: int, size) -> np.ndarray:
    p = 1.0 / np.arange(1, n_vocab + 1)
    return rng.choice(n_vocab, size=size, p=p / p.sum())


def _fixed_lognormal(n: int, mu: float, sigma: float, lo: float, hi: float) -> np.ndarray:
    """A seed-independent multiset of ``n`` clipped log-normal values."""
    return np.random.default_rng(20260101).lognormal(mu, sigma, n).clip(lo, hi)


def turn_counts(n_convs: int, mean_turns: int, hot_convs: int, hot_turns: int) -> np.ndarray:
    """Fixed multiset of turns per conversation (unpermuted): exponential
    quantiles around ``mean_turns`` with the largest ``hot_convs`` replaced
    by ``hot_turns`` — the hot-conversation skew one window task has to
    absorb."""
    q = (np.arange(n_convs) + 0.5) / n_convs
    counts = np.maximum(2, np.round(-np.log1p(-q) * mean_turns)).astype(np.int64)
    if hot_convs:
        counts[-hot_convs:] = hot_turns
    return counts


def transcripts(seed: int, n_convs: int, mean_turns: int = 20,
                hot_convs: int = 2, hot_turns: int = 2000) -> pd.DataFrame:
    """Transcript turns (conv_id, turn_idx, role, text, tool, ts) matching
    ``towhee_spark.schema.TRANSCRIPT_SCHEMA``.

    ts is strictly increasing within a conversation (gaps of 1 s to 2 h,
    log-normal, so gap sessionization splits most conversations); ``tool``
    is NULL on every non-tool turn and on a fifth of tool turns (the LOCF
    target); texts are Zipf token bags of 1 to 30 tokens."""
    rng = _rng(seed, "transcripts")
    counts = rng.permutation(turn_counts(n_convs, mean_turns, hot_convs, hot_turns))
    n = int(counts.sum())
    conv = np.repeat(np.arange(n_convs), counts)
    starts = np.cumsum(counts) - counts
    turn_idx = np.arange(n) - np.repeat(starts, counts)

    # gaps (1 s to 2 h, log-normal) and token counts (1 to 30) are fixed
    # multisets the seed permutes: the seed moves content, not the amount of
    # windowing and text work
    gaps_us = rng.permutation(_fixed_lognormal(n, 3.0, 2.0, 1, 7200) * 1_000_000).astype(np.int64)
    gaps_us[turn_idx == 0] = 0
    run = np.cumsum(gaps_us)
    within = run - np.repeat(run[starts], counts)
    conv_start = rng.integers(0, 30 * DAY_US, n_convs)
    ts_us = EPOCH0_US + np.repeat(conv_start, counts) + within

    # a seeded pool of Zipf token bags per length; each turn picks a bag of
    # its (permuted, fixed-multiset) length
    per_len = 64
    pool = np.empty((30, per_len), dtype=object)
    for ln in range(1, 31):
        ids = _zipf_ids(rng, len(TURN_VOCAB), (per_len, ln))
        pool[ln - 1] = [" ".join(w) for w in TURN_VOCAB[ids]]
    ntok = rng.permutation(np.resize(np.arange(1, 31), n))
    text = pool[ntok - 1, rng.integers(0, per_len, n)]

    role = ROLES[turn_idx % 4]
    tool = np.where((role == "tool") & (rng.random(n) >= 0.2),
                    TOOLS[rng.integers(0, 4, n)], None)
    return pd.DataFrame({
        "conv_id": np.char.add("conv-", np.char.zfill(conv.astype(str), 6)).astype(object),
        "turn_idx": turn_idx.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts_us.astype("datetime64[us]"),
    })


def context(seed: int, turns: pd.DataFrame) -> pd.DataFrame:
    """Point-in-time context rows (conv_id, ts, ctx_score, ctx_label):
    ``max(2, turns // 4)`` rows per conversation spread from 10 % before the
    first turn to 20 % past the last one, every tenth row placed exactly on
    a turn's ts (the tie-break path), plus 5 % rows of conversations that
    have no turns (the anti-join path). (conv_id, ts) is unique."""
    rng = _rng(seed, "context")
    g = turns.groupby("conv_id", sort=True)["ts"]
    first = g.min().astype("int64").to_numpy()
    last = g.max().astype("int64").to_numpy()
    sizes = g.size().to_numpy()
    convs = g.size().index.to_numpy()
    n_ctx = np.maximum(2, sizes // 4)
    span = np.maximum(last - first, 60_000_000)
    rep = np.repeat(np.arange(len(convs)), n_ctx)
    j = np.arange(int(n_ctx.sum())) - np.repeat(np.cumsum(n_ctx) - n_ctx, n_ctx)
    off = rng.uniform(-0.1, 1.2, len(rep)) * span[rep]
    ts_us = first[rep] + off.astype(np.int64)

    # exact ties: row j of a conversation lands on turn 4j (distinct turns)
    tie = j % 10 == 3
    turn_ts = turns.sort_values(["conv_id", "turn_idx"])["ts"].astype("int64").to_numpy()
    conv_first_row = np.cumsum(sizes) - sizes
    ts_us[tie] = turn_ts[conv_first_row[rep[tie]] + 4 * j[tie]]

    n_orphan = max(1, len(rep) // 20)
    pdf = pd.DataFrame({
        "conv_id": np.concatenate([
            convs[rep],
            np.char.add("orphan-", np.char.zfill(np.arange(n_orphan).astype(str), 5))
            .astype(object),
        ]),
        "ts": np.concatenate([ts_us, EPOCH0_US + np.arange(n_orphan) * 1_000_000_000]
                             ).astype("datetime64[us]"),
        "ctx_score": np.round(np.concatenate([
            rng.normal(0, 1, len(rep)).cumsum(), np.zeros(n_orphan)]), 6),
        "ctx_label": np.char.add("label", rng.integers(0, 5, len(rep) + n_orphan).astype(str))
        .astype(object),
    })
    return pdf.drop_duplicates(["conv_id", "ts"]).reset_index(drop=True)


def _doc_vocab(n: int) -> np.ndarray:
    """Seed-independent vocabulary of ``n`` distinct pronounceable words of
    3 to 9 letters (a fixed generator, so every seed shares one vocabulary)."""
    rng = np.random.default_rng(20260101)
    cons, vow = list("bcdfghjklmnprstvz"), list("aeiou")
    words: dict[str, None] = {}
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words["".join(rng.choice(cons if i % 2 == 0 else vow) for i in range(ln))] = None
    return np.array(list(words), dtype=object)


def _doc_words(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> np.ndarray:
    w = vocab[rng.integers(0, len(vocab), n_words)]
    stop = rng.random(n_words) < 0.15
    w[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    return w


def cluster_sizes(n_clusters: int, max_size: int = 60) -> np.ndarray:
    """Fixed heavy-tailed multiset of near-duplicate cluster sizes (Pareto
    quantiles, at least 2 members)."""
    q = (np.arange(n_clusters) + 0.5) / n_clusters
    return np.minimum(max_size, np.floor(2.0 / np.sqrt(1.0 - q))).astype(np.int64)


def documents(seed: int, n_docs: int, exact_dup_frac: float = 0.08,
              neardup_frac: float = 0.25, short_frac: float = 0.10,
              n_bench: int = 200) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs(doc_id, text), benchmark(doc_id, text)) for curation.

    * ``short_frac`` of documents fall under the Gopher 50-word floor;
    * ``exact_dup_frac`` are case/whitespace variants of another document
      (equal after ``normalize_text``);
    * ``neardup_frac`` sit in near-duplicate clusters with heavy-tailed
      sizes, members differing from the cluster template in two words;
    * 40 % of the benchmark items quote a 20-word span of a long document,
      the rest use words no document contains.
    doc_ids are a seeded permutation, so survivors are not always the
    first-generated copies."""
    rng = _rng(seed, "documents")
    vocab = _doc_vocab(3000)
    n_short = int(n_docs * short_frac)
    n_exact = int(n_docs * exact_dup_frac)
    sizes = cluster_sizes(max(1, int(n_docs * neardup_frac / 4)))
    n_near = int(sizes.sum())
    n_orig = n_docs - n_short - n_exact - n_near
    if n_orig < 1:
        raise ValueError("documents: duplicate shares leave no original documents")

    def long_len(k):
        return rng.integers(60, 160, k)

    texts: list[str] = []
    for ln in rng.integers(10, 45, n_short):
        texts.append(" ".join(_doc_words(rng, vocab, int(ln))))
    originals = [_doc_words(rng, vocab, int(ln)) for ln in long_len(n_orig)]
    texts += [" ".join(w) for w in originals]
    for size in sizes:
        tmpl = _doc_words(rng, vocab, int(long_len(1)[0]))
        for _ in range(int(size)):
            w = tmpl.copy()
            pos = rng.integers(0, len(w), 2)
            w[pos] = vocab[rng.integers(0, len(vocab), 2)]
            texts.append(" ".join(w))
    src = rng.integers(0, len(texts), n_exact)
    for s in src:
        t = texts[int(s)]
        texts.append(("  " + t.upper() + " ") if rng.random() < 0.5 else t.replace(" ", "   "))
    ids = rng.permutation(n_docs).astype(np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": np.array(texts, dtype=object)})

    bench: list[str] = []
    for k in range(n_bench):
        if k % 5 < 2:
            w = originals[int(rng.integers(0, n_orig))]
            at = int(rng.integers(0, len(w) - 20))
            bench.append(" ".join(w[at:at + 20]))
        else:
            bench.append(" ".join(f"zq{int(x)}" for x in rng.integers(0, 10_000, 30)))
    benchmark = pd.DataFrame({"doc_id": np.arange(n_bench, dtype=np.int64),
                              "text": np.array(bench, dtype=object)})
    return docs, benchmark

