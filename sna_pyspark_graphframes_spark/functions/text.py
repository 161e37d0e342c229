"""Text-analysis operators for large-scale training-data pipelines —
tokenization, token counting, language ID, quality scoring, fingerprinting.

All pure built-in expressions (``pyspark.sql.functions`` — JVM-side,
whole-stage codegen); no Python UDFs anywhere in this module, so these run
at full scan speed over 100 TB of documents. Each has an exact SQL twin in
``registry.py`` for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish token regex: letter runs, digit runs, or single punctuation marks.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small and inline — at scale you'd broadcast a real
# lexicon table; the operator shape (per-language regexp counts + argmax)
# is the same.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """BPE-ish token count via ``TOKEN_RE`` (regexp_extract_all + size)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), F.lit(0)))


def _stopword_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (the n-gram heuristic's signal)."""
    return {
        lang: F.size(
            F.regexp_extract_all(F.lower(col), F.lit(_stopword_pattern(sw)), F.lit(0))
        )
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_id(col: Column) -> Column:
    """Predicted language = argmax of stopword hits; deterministic tie-break
    by language code order; 'und' (undetermined) when no stopword hits.

    Expressed as greatest-of-structs so the whole argmax stays in codegen:
    max of (score, neg-ordered code) structs.
    """
    scores = lang_scores(col)
    structs = [
        F.struct(
            sc.alias("score"),
            F.lit(-i).alias("ord"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, sc) in enumerate(sorted(scores.items()))
    ]
    best = F.greatest(*structs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features per document: char length, word count, mean
    word length, punctuation ratio, stopword ratio, and a composite score.

    Mirrors the standard pretraining-data quality filters (length bounds,
    symbol-to-word ratio, stopword presence) as pure column expressions.
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    words = tokens(c)
    n_words = F.size(words)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    all_sw = [w for sws in LANG_STOPWORDS.values() for w in sws]
    n_stop = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(_stopword_pattern(all_sw)), F.lit(0))
    )
    mean_wl = F.round(
        F.when(n_words > 0, (F.length(F.regexp_replace(c, r"\s+", "")) / n_words)).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    punct_ratio = F.round(
        F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)), 4
    )
    stop_ratio = F.round(
        F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0)), 4
    )
    quality = F.round(
        F.when(
            (n_words >= 5) & (n_words <= 100000) & (mean_wl >= 2) & (mean_wl <= 12),
            1.0 - punct_ratio,
        ).otherwise(F.lit(0.0)),
        4,
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


# Tiny sentiment lexicon (tokens ⋈ lexicon pattern, cf. the EDBT-2016 Spark
# sentiment paper noted in PAPERS.md). At scale this is a broadcast join
# against a real lexicon table; the regexp-count form below is the
# fused-expression equivalent for short lexicons.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 1, "great": 1, "fast": 1, "small": 1, "best": 1,
    "bad": -1, "slow": -1, "worst": -1, "error": -1, "fail": -1,
}


def sentiment(col: Column) -> Column:
    """Lexicon sentiment score in [-1, 1]: (pos_hits − neg_hits) / tokens,
    0 for empty docs. Pure codegen expressions (regexp counts)."""
    pos = [w for w, s in SENTIMENT_LEXICON.items() if s > 0]
    neg = [w for w, s in SENTIMENT_LEXICON.items() if s < 0]
    n_pos = F.size(
        F.regexp_extract_all(F.lower(col), F.lit(_stopword_pattern(pos)), F.lit(0))
    )
    n_neg = F.size(
        F.regexp_extract_all(F.lower(col), F.lit(_stopword_pattern(neg)), F.lit(0))
    )
    n_tok = F.size(tokens(col))
    return F.round(
        F.when(n_tok > 0, (n_pos - n_neg) / n_tok).otherwise(F.lit(0.0)), 4
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lowercased text.

    (A content-defined rolling hash is the streaming variant; for whole-doc
    identity the normalized digest is the standard exact-dup key.)
    """
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def gopher_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models" §A1.1), adapted to word n-grams:
    ``(doc_id, n_words, distinct_word_frac, top_word_frac,
    top_bigram_frac)``. (``corpus.repetition_features`` is the cheap
    shuffle-free dup-ratio cousin; this one is the frequency-weighted
    Gopher family, which needs the explode → count aggregates.)

    The Gopher rules flag documents dominated by repeated content
    (duplicate lines / most-frequent n-gram coverage). This corpus is
    single-line, so the signals are the word-level family: fraction of
    distinct words, fraction of occurrences held by the most frequent
    word, and by the most frequent word bigram. All three are MAX-COUNT
    based, so no tie-break order ever enters the result (exact-oracle
    friendly).

    Plan: two explode → count aggregates keyed on (doc_id, gram) — both
    partial-aggregated map-side, shuffles keyed on doc_id, zero UDFs
    (bigrams are a JVM ``transform`` over the token array). Scale-safe:
    per-document cardinality bounds every group.
    """
    c = F.col(text_col)
    toks = df.select("doc_id", tokens(c).alias("w"))
    words = toks.select("doc_id", F.explode("w").alias("g"))
    wstats = (
        words.groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("n").alias("top_n"),
        )
    )
    bigrams = toks.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w) - 1),"
                " (x, i) -> concat(x, ' ', w[i + 1]))"
            )
        ).alias("g"),
    )
    bstats = (
        bigrams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_bi"), F.max("n").alias("top_bi"))
    )
    return (
        wstats.join(bstats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.round(F.col("n_distinct") / F.col("n_words"), 4).alias(
                "distinct_word_frac"
            ),
            F.round(F.col("top_n") / F.col("n_words"), 4).alias("top_word_frac"),
            F.round(
                F.coalesce(F.col("top_bi") / F.col("n_bi"), F.lit(0.0)), 4
            ).alias("top_bigram_frac"),
        )
    )


def flesch_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Input rows + ``(n_words, n_sentences, n_syllables, flesch)`` —
    the Flesch Reading Ease score (Flesch 1948):
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``,
    the classic readability screen a curation pipeline runs beside the
    Gopher quality signals (too-low scores flag legalese/boilerplate,
    implausibly high ones flag word-salad). Heuristic counters, all
    exact integers from anchored regex counts (the ``token_count``
    recipe — engine-identical):

    - words: ``[A-Za-z]+`` runs;
    - sentences: ``[.!?]+`` runs, floored at 1 (a fragment is one
      sentence — avoids division by zero without dropping the row);
    - syllables: vowel GROUPS ``[aeiouy]+`` of the lowercased text —
      the standard cheap proxy (hyphenation dictionaries don't
      distribute; the proxy is deterministic and engine-identical).

    ``flesch`` is NULL when there are no words. One scan, pure codegen
    column expressions; the score is a few-op double over exact
    integers, rounded 4 dp."""
    c = F.col(text_col)
    n_words = F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+"), F.lit(0)))
    n_sent_raw = F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), F.lit(0)))
    n_sent = F.greatest(n_sent_raw, F.lit(1))
    n_syll = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), F.lit(0))
    )
    flesch = F.when(
        n_words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6)
            * (n_syll.cast("double") / n_words.cast("double")),
            4,
        ),
    )
    return df.select(
        "*",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
    )
