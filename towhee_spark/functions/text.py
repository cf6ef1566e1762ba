"""Text analysis over document/transcript text columns — all native
Spark expressions (whole-stage codegen, no Python): language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Every function returns a Column so it composes into any select/agg and the
filter/scan pushdown stays intact. Designed to be ANSI-SQL-mirrorable so
the DuckDB oracle can verify each one exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny public marker-word lists (stopword-frequency language heuristic).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "you", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "ich"],
    "fr": ["le", "la", "les", "et", "est", "que", "une", "vous"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "para"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "in", "for", "on", "with", "as", "are"]


def token_count(text: Column | str) -> Column:
    """Whitespace token count; empty/null-safe (0 for '' and NULL)."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(F.coalesce(c, F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def _marker_hits(c: Column, words: list[str]) -> Column:
    # \b word \b occurrences over the lowercased text
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(F.coalesce(c, F.lit(""))), F.lit(pat))


def lang_id(text: Column | str) -> Column:
    """Marker-word language heuristic → 'en'|'de'|'fr'|'es'|'und'
    (undetermined when no marker hits). Pure regexp_count + greatest."""
    c = F.col(text) if isinstance(text, str) else text
    hits = {lang: _marker_hits(c, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    result = F.lit("und")
    # deterministic priority order on ties: en > de > fr > es
    for lang in ("es", "fr", "de", "en"):
        result = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(result)
    return result


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + alpha ratio +
    stopword presence − punctuation excess. Deterministic, SQL-mirrorable."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.coalesce(c, F.lit(""))
    n = F.length(t).cast("double")
    toks = token_count(t).cast("double")
    alpha = F.regexp_count(t, F.lit(r"[A-Za-z]")).cast("double")
    punct = F.regexp_count(t, F.lit(r"[!?#*>{}\[\]|\\~^]")).cast("double")
    stop = _marker_hits(t, STOPWORDS_EN).cast("double")
    len_band = F.when((toks >= 5) & (toks <= 5000), F.lit(0.4)).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n > 0, F.least(F.lit(0.3), 0.3 * alpha / n)).otherwise(F.lit(0.0))
    stop_part = F.when(toks > 0, F.least(F.lit(0.3), 0.3 * (stop * 5.0) / toks)).otherwise(F.lit(0.0))
    punct_pen = F.when(n > 0, F.least(F.lit(0.2), punct / n)).otherwise(F.lit(0.0))
    return F.round(F.greatest(F.lit(0.0), len_band + alpha_ratio + stop_part - punct_pen), 6)


def gopher_rules(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
    max_symbol_ratio: float = 0.1,
) -> Column:
    """Gopher-style document-quality rule set (the public Rae et al. 2021
    appendix-A heuristics, as also used by C4-descended pipelines): word
    count band, mean word length band, fraction of words containing an
    alphabetic character, stop-word presence, and symbol ('#'/'...')
    density. Returns ONE struct with the diagnostics (rounded, so the
    rule thresholds apply to cross-engine-identical values), the per-rule
    booleans, and the combined ``keep`` flag — all pure Column math over
    the canonical normalize_text tokens, so a 100 TB filter pass is a
    single codegen projection the scan evaluates. Unlike
    ``quality_score`` (one blended scalar for ranking), this is the
    drop/keep gate with an audit trail of WHICH rule fired."""
    c = F.col(text) if isinstance(text, str) else text
    norm = normalize_text(c)
    toks = F.split(norm, " ")
    wc = F.when(norm == "", F.lit(0)).otherwise(F.size(toks)).cast("int")
    wcd = wc.cast("double")
    chars = F.length(F.regexp_replace(norm, " ", "")).cast("double")
    mwl = F.round(F.when(wc > 0, chars / wcd).otherwise(F.lit(0.0)), 6)
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double")
    awr = F.round(F.when(wc > 0, alpha_words / wcd).otherwise(F.lit(0.0)), 6)
    stop = _marker_hits(norm, STOPWORDS_EN).cast("int")
    sym = F.regexp_count(norm, F.lit(r"#|\.\.\.")).cast("double")
    symr = F.round(F.when(wc > 0, sym / wcd).otherwise(F.lit(0.0)), 6)
    words_ok = (wc >= min_words) & (wc <= max_words)
    mean_ok = (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len)
    alpha_ok = awr >= min_alpha_word_ratio
    stops_ok = stop >= min_stop_hits
    sym_ok = symr <= max_symbol_ratio
    return F.struct(
        wc.alias("word_count"),
        mwl.alias("mean_word_len"),
        awr.alias("alpha_word_ratio"),
        stop.alias("stop_hits"),
        symr.alias("symbol_ratio"),
        words_ok.alias("words_ok"),
        mean_ok.alias("mean_len_ok"),
        alpha_ok.alias("alpha_ok"),
        stops_ok.alias("stops_ok"),
        sym_ok.alias("symbols_ok"),
        (words_ok & mean_ok & alpha_ok & stops_ok & sym_ok).alias("keep"),
    )


def normalize_text(text: Column | str) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace, trim."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (md5 exists verbatim in DuckDB → exact oracle.)"""
    return F.md5(normalize_text(text))


def repetition_ratio(text: Column | str) -> Column:
    """Token-level repetition: 1 - distinct_tokens/total_tokens, rounded to
    6 dp (0 for empty). The cheap within-document degenerate-text signal a
    training-data quality filter runs before n-gram dedup; exact rationals,
    SQL-mirrorable (list_distinct/len)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(normalize_text(c), " ")
    total = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    return F.round(
        F.when(total > 0, F.lit(1.0) - uniq / total).otherwise(F.lit(0.0)), 6
    )


# public, deliberately simple patterns — both RE2 (Spark) and DuckDB-safe
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d .-]{7,}\d",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_scrub(text: Column | str, kinds: tuple[str, ...] = ("email", "phone", "ssn"),
              token: str = "[PII]") -> Column:
    """Redact PII spans with ``token`` — chained native regexp_replace
    (codegen); patterns are shared constants so the SQL oracle applies the
    identical chain."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    for k in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[k], token)
    return c


def pii_count(text: Column | str, kinds: tuple[str, ...] = ("email", "phone", "ssn"),
              token: str = "[PII]") -> Column:
    """Number of PII spans that pii_scrub would redact (scrub-before-train
    audit metric). Counting removes each match with the SAME ``token``
    pii_scrub inserts — deleting with '' could fuse surrounding digits into
    a new phone-shaped span that the scrubber would never see."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    n = F.lit(0)
    for k in kinds:
        n = n + F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[k]), F.lit(0)))
        c = F.regexp_replace(c, PII_PATTERNS[k], token)  # no double counting
    return n.cast("int")


def chunk_text(text: Column | str, size: int = 64, overlap: int = 16) -> Column:
    """Token-window document chunks as array<struct<start:int, chunk:string>>
    — the text_splitter / RAG-chunking op (fixed window, ``overlap`` tokens
    of context carry-over). Native expressions only (sequence/slice/
    array_join), SQL-mirrorable; explode the result for (doc, chunk) rows.

    A start is emitted only while it contributes NEW tokens — a trailing
    start inside the final window's overlap region would produce a chunk
    fully contained in its predecessor, double-indexing that text (RAG
    duplicate inflation; code-review finding): starts stop at
    len − size + step − 1. Empty/whitespace-only documents yield ZERO
    chunks (not one empty chunk)."""
    if overlap >= size:
        raise ValueError("chunk_text: overlap must be < size")
    c = F.col(text) if isinstance(text, str) else text
    norm = normalize_text(c)
    toks = F.split(norm, " ")
    step = size - overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - size + step - 1, F.lit(0)),
        F.lit(step),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("start"),
            F.array_join(F.slice(toks, s + 1, size), " ").alias("chunk"),
        ),
    )
    # slice-to-zero keeps the struct element type without a cast literal
    return F.when(norm == "", F.slice(chunks, 1, 0)).otherwise(chunks)


REFUSAL_MARKERS = [
    "i can't", "i cannot", "i'm sorry", "i am sorry", "as an ai",
    "i'm unable", "i am unable", "i won't", "i will not",
    "i'm not able", "i am not able",
]


def refusal_hits(text: Column | str) -> Column:
    """Count of refusal-boilerplate markers in the lowercased text (the
    distillation-cleanup heuristic: assistant turns that decline produce
    degenerate SFT targets). Pure regexp_count — one codegen projection;
    the marker list is deliberately literal-phrase-only so the identical
    alternation runs in DuckDB (oracle) and any downstream engine."""
    c = F.col(text) if isinstance(text, str) else text
    # markers are [a-z '] only — regex-safe verbatim in Java AND RE2
    # (re.escape would backslash the spaces, which RE2 rejects)
    assert all(re.fullmatch(r"[a-z' ]+", m) for m in REFUSAL_MARKERS)
    pat = "|".join(REFUSAL_MARKERS)
    return F.regexp_count(F.lower(F.coalesce(c, F.lit(""))), F.lit(pat)).cast("int")


def is_refusal(text: Column | str) -> Column:
    """True when any refusal marker occurs (see :func:`refusal_hits`)."""
    return refusal_hits(text) > 0
