"""Text-analysis operators for training-data pipelines: tokenization, token
counting, quality scoring, language ID, document fingerprinting.

Everything here is built from JVM-side Column expressions
(``pyspark.sql.functions``) — no Python UDFs in the hot path, so the whole
stage stays inside whole-stage codegen and scales linearly with executors.
At 100 TB these run as a single narrow map stage over the scan: no shuffle,
no Python worker round-trips.

The reference has no text operators (single-table OLAP only, SURVEY.md
§2.4); these are the beyond-reference pipeline capabilities the engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tokens: runs of word characters (a BPE-ish lower bound on token count).
TOKEN_RE = r"[A-Za-z0-9_']+"

#: Tiny per-language stopword marker sets for the n-gram/stopword language
#: heuristic.  Deliberately small and deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "los", "que", "de", "una"],
}


def tokens(text: Column | str) -> Column:
    """Array of word tokens (whitespace+punctuation split, regex-based)."""
    c = F.col(text) if isinstance(text, str) else text
    # split on non-token runs; filter the empty strings split() leaves at edges
    return F.filter(F.split(c, r"[^A-Za-z0-9_']+"), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    """Number of word tokens (regexp_count — one pass, no array build)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(TOKEN_RE)).cast("long")


def char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    stopwords = stopwords or LANG_MARKERS["en"]
    c = F.col(text) if isinstance(text, str) else text
    pattern = r"\b(" + "|".join(stopwords) + r")\b"
    hits = F.regexp_count(F.lower(c), F.lit(pattern))
    total = token_count(c)
    return F.when(total > 0, hits / total).otherwise(F.lit(0.0))


def mean_word_length(text: Column | str) -> Column:
    """Mean token length = (total token characters) / (token count).

    Total token characters is the text length after deleting every
    non-token character — one regexp_replace pass, identical value to
    summing per-token lengths but with no array build and no interpreted
    higher-order fold (``F.aggregate`` is CodegenFallback)."""
    c = F.col(text) if isinstance(text, str) else text
    total_len = F.length(F.regexp_replace(c, r"[^A-Za-z0-9_']+", ""))
    n = F.regexp_count(c, F.lit(TOKEN_RE))
    return F.when(n > 0, total_len / n).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    sane mean word length.  Deterministic, explainable, shuffle-free."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    len_ok = F.when((n >= 10) & (n <= 100_000), F.lit(1.0)).otherwise(
        n / F.lit(10.0)
    )
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    mwl = mean_word_length(c)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_ok + punct_ok + mwl_ok) / 3.0, 6)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-marker hit counts."""
    c = F.col(text) if isinstance(text, str) else text
    lowered = F.lower(c)
    return {
        lang: F.regexp_count(lowered, F.lit(r"\b(" + "|".join(ws) + r")\b"))
        for lang, ws in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Deterministic argmax over marker scores; ties and zero-score →
    'unknown'.  A real system plugs a model in here; the operator shape
    (narrow map, no shuffle) is identical."""
    scores = lang_scores(text)
    langs = list(scores)
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    # reversed so earlier languages win ties deterministically
    for lang in reversed(langs):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def normalized_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip punctuation,
    collapse whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    cleaned = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """128-bit content fingerprint (md5 of normalized text) — the rolling
    document fingerprint used for near-exact dedup."""
    return F.md5(normalized_text(text))


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full per-document analysis column set.

    The profile is a pure narrow map (regex + hashing per row); an
    under-split source is fanned out first so it runs on all cores.

    The three expensive regex measures (token count, punctuation strip,
    non-token strip) are factored into a FIRST projection and the derived
    ratios/quality reference those columns: codegen subexpression
    elimination skips expressions under CaseWhen branches, so the inlined
    form re-ran the token-count and word-char regexes inside
    quality_score's conditionals — roughly doubling the per-row regex
    work (measured ~0.4 s of 1.15 s at sf0.1).  CollapseProject keeps the
    staging because the aliases are non-cheap and multi-referenced.  The
    derived expressions are arithmetically identical to the single-stage
    form (same intermediates, same order, same rounding)."""
    from parquery_spark.operators.util import fan_out

    df = fan_out(df)
    c = F.col(text_col)

    # collision-free staging names: an input that already carries a
    # column of the same name would make the unqualified references
    # below ambiguous (AnalysisException) where the former inlined form
    # worked — suffix until free (round-13 ADVICE)
    def _fresh(name: str) -> str:
        while name in df.columns:
            name += "_"
        return name

    col_tok = _fresh("__n_tok")
    col_punct = _fresh("__n_punct")
    col_chars = _fresh("__tok_chars")
    raw = df.select(
        "*",
        F.regexp_count(c, F.lit(TOKEN_RE)).alias(col_tok),
        (
            F.length(c)
            - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
        ).alias(col_punct),
        F.length(
            F.regexp_replace(c, r"[^A-Za-z0-9_']+", "")
        ).alias(col_chars),
    )
    n = F.col(col_tok)
    n_long = n.cast("long")
    praw = F.when(
        F.length(c) > 0, F.col(col_punct) / F.length(c)
    ).otherwise(F.lit(0.0))
    mwl = F.when(n > 0, F.col(col_chars) / n).otherwise(F.lit(0.0))
    len_ok = F.when(
        (n_long >= 10) & (n_long <= 100_000), F.lit(1.0)
    ).otherwise(n_long / F.lit(10.0))
    punct_ok = F.lit(1.0) - F.least(praw * 4, F.lit(1.0))
    mwl_ok = F.when(
        (mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    stopwords = LANG_MARKERS["en"]
    hits = F.regexp_count(
        F.lower(c), F.lit(r"\b(" + "|".join(stopwords) + r")\b")
    )
    return raw.select(
        *df.columns,
        n_long.alias("n_tokens"),
        char_count(c).alias("n_chars_computed"),
        F.round(praw, 6).alias("punct_ratio"),
        F.round(
            F.when(n_long > 0, hits / n_long).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round((len_ok + punct_ok + mwl_ok) / 3.0, 6).alias("quality"),
        lang_id(c).alias("lang_guess"),
        fingerprint(c).alias("fingerprint"),
    )


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition signals per document — the standard
    "is this boilerplate / degenerate text?" filter battery for training
    corpora:

    * ``n_tokens``          — total word tokens
    * ``type_token_ratio``  — distinct / total tokens (low ⇒ repetitive)
    * ``top_unigram_frac``  — share of the most frequent token
    * ``top_bigram_frac``   — share of the most frequent word bigram

    Plan shape: explode tokens (and bigrams) → two partial-aggregated
    group-bys — ``(id, gram)`` counts, then per-id max/sum/count.  Both
    shuffles carry counted grams, never raw text; an under-split local
    corpus is id-fanned-out first so the explode runs on all cores and the
    group-bys reuse that partitioning.  Docs with zero tokens are dropped
    (no denominators); docs with one token get ``top_bigram_frac = 0``.
    """
    from parquery_spark.operators.dedup import shingle_tokens, word_shingles
    from parquery_spark.operators.util import fan_out

    src = fan_out(df.select(F.col(id_col), F.col(text_col)), id_col)

    # ONE explode pass for both gram orders (round 12): unigrams and
    # bigrams ride the same stream as (kind, gram) structs, the
    # (id, kind, gram) count aggregates once, and the per-doc battery
    # falls out of conditional aggregates — the former shape ran two
    # tokenize+explode+double-aggregate branches over the same text and
    # joined them.  The fan_out(id) partitioning still satisfies every
    # group-by's clustering, so no aggregation exchanges appear (the
    # plan-shape test pins that).  Docs with a single token contribute
    # no bigram rows and coalesce to 0 exactly as the former left join.
    # the gram itself encodes its order: bigrams contain the joining
    # space, unigrams (split on [^a-z0-9']) never can — no struct
    # wrapper needed on 2x|tokens| exploded rows
    grams = F.concat(shingle_tokens(text_col), word_shingles(text_col, 2))
    counts = (
        src.select(F.col(id_col), F.explode(grams).alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    is_u = ~F.col("__g").contains(" ")
    per_doc = counts.groupBy(id_col).agg(
        F.sum(F.when(is_u, F.col("__c"))).alias("u_total"),
        F.max(F.when(is_u, F.col("__c"))).alias("u_top"),
        F.count(F.when(is_u, F.lit(1))).alias("u_distinct"),
        F.sum(F.when(~is_u, F.col("__c"))).alias("b_total"),
        F.max(F.when(~is_u, F.col("__c"))).alias("b_top"),
    )
    return per_doc.where(F.col("u_total").isNotNull()).select(
        F.col(id_col),
        F.col("u_total").alias("n_tokens"),
        F.round(F.col("u_distinct") / F.col("u_total"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.col("u_top") / F.col("u_total"), 6).alias(
            "top_unigram_frac"
        ),
        F.round(
            F.coalesce(F.col("b_top") / F.col("b_total"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )
