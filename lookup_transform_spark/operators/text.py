"""Text-analysis tier (SURVEY.md §2.2 B53): tokenization, counting,
quality scoring, language ID, fingerprinting.

All column builders — pure ``pyspark.sql.functions`` expressions, fully
codegen'd, no Python in the row path. Each has a matching ANSI-SQL
formulation for the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: word-ish tokens: letter runs, digit runs, single other non-space —
#: a BPE-ish pre-tokenizer regex that both Spark (Java regex) and the
#: DuckDB oracle (RE2) interpret identically.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

#: tiny per-language stopword lists for the n-gram/stopword heuristic
#: language identifier. Deliberately small and deterministic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
}


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokenization (lowercased): ``split(lower(text),
    '\\s+')``, VERBATIM — including regex-split's boundary artifacts
    (empty text → [''], leading/trailing whitespace → '' elements).
    This is a deliberate contract, not an oversight: every DuckDB
    oracle that models token counts (text_stats, pipeline_curate,
    bm25, tfidf, gopher, lang) uses the byte-identical
    ``string_split_regex`` convention, so the pair stays exact on ANY
    input. Callers needing linguistic word counts on untrimmed text
    should normalize whitespace upstream (``normalize_text`` does)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), r"\s+")


def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side)."""
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: str | Column) -> Column:
    """Count of TOKEN_RE matches — a BPE-like pre-tokenization proxy."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0)))


def char_count(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.length(c)


def punct_ratio(text_col: str | Column) -> Column:
    """punctuation chars / total chars — 0 for EMPTY text, NULL for NULL
    text (r8 review: the bare otherwise(0.0) caught the NULL condition
    too, so one row mixed NULL n_tokens with a definite-zero ratio for
    the same missing input; missing text has an unknown ratio, like its
    other stats). The DuckDB oracle mirrors the three-way CASE."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()-]", ""))
    return (
        F.when(c.isNull(), F.lit(None).cast("double"))
        .when(F.length(c) > 0, punct / F.length(c))
        .otherwise(F.lit(0.0))
    )


def stopword_hits(text_col: str | Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    toks = tokens(text_col)
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))


def quality_score(text_col: str | Column) -> Column:
    """Heuristic [0,1] quality score: favors texts of reasonable length,
    moderate punctuation, and a healthy mean word length — the classic
    cheap pre-filters of a training-data pipeline.

    score = length_component * (1 - punct_ratio) * word_len_component
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_tok = token_count(c)
    n_chr = char_count(c)
    mean_word = F.when(n_tok > 0, n_chr / n_tok).otherwise(F.lit(0.0))
    length_comp = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    word_comp = F.when(
        (mean_word >= 3.0) & (mean_word <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return F.round(length_comp * (1.0 - punct_ratio(c)) * word_comp, 6)


def lang_scores(text_col: str | Column) -> dict[str, Column]:
    """Stopword-hit ratio per language — the n-gram-heuristic lang-ID."""
    n_tok = token_count(text_col)
    return {
        lang: F.when(n_tok > 0, stopword_hits(text_col, lang) / n_tok).otherwise(
            F.lit(0.0)
        )
        for lang in STOPWORDS
    }


def lang_id(text_col: str | Column) -> Column:
    """argmax language by stopword ratio; 'und' (undetermined) when no
    language scores > 0. Deterministic tiebreak: language name order."""
    scores = lang_scores(text_col)
    # struct compare is field-order lexicographic: score first, then a
    # priority that breaks ties toward the alphabetically FIRST language.
    pairs = F.array(
        *[
            F.struct(s.alias("score"), F.lit(-i).alias("prio"), F.lit(lang).alias("lang"))
            for i, (lang, s) in enumerate(sorted(scores.items()))
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def content_fingerprint(text_col: str | Column) -> Column:
    """Exact content fingerprint: md5 of the normalized text (lowercased,
    whitespace-collapsed). Matching DuckDB: md5(...)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized)


def rolling_fingerprint(text_col: str, window: int = 5) -> Column:
    """Rolling-hash-style robust fingerprint: min hash over word
    ``window``-grams — stable under small insertions/deletions
    (winnowing-lite), JVM-side. Each shingle hashes to its first 64 md5
    bits via the dedup module's signed fold — the portable family, so
    an ANSI-SQL oracle reproduces the fingerprint bit-for-bit."""
    from lookup_transform_spark.operators.dedup import _md5_token_hash

    if not isinstance(text_col, str):
        # shingles takes a column NAME (annotation says so too);
        # accepting Column here would diverge from the oracle's shape
        raise TypeError("rolling_fingerprint requires a column name")
    return F.array_min(F.transform(shingles(text_col, window), _md5_token_hash))


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1
    adapted): each rule is a named boolean column so a curation pipeline
    can report WHICH rule dropped a document, plus the combined ``keep``.

    Pure codegen expressions — one corpus scan, no shuffle, no Python.
    The rule thresholds are calibrated to the synthetic fixture corpus.
    """
    c = F.col("text")
    toks = tokens("text")
    n_words = F.size(toks)
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    mean_len = F.round(nonspace.cast("double") / n_words, 6)
    longest = F.array_max(F.transform(toks, lambda t: F.length(t)))
    stop_hits = stopword_hits("text", "en")
    digits = F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))
    digit_ratio = F.round(
        F.when(F.length(c) > 0, digits.cast("double") / F.length(c)).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    r_words = n_words.between(10, 10_000)
    r_mean = mean_len.between(2.0, 10.0)
    r_longest = longest <= 20
    r_stop = stop_hits >= 1
    r_digit = digit_ratio < 0.2
    return docs.select(
        F.col("doc_id"),
        n_words.alias("word_count"),
        mean_len.alias("mean_word_len"),
        longest.alias("max_word_len"),
        stop_hits.alias("stop_hits"),
        digit_ratio.alias("digit_ratio"),
        r_words.alias("r_word_count"),
        r_mean.alias("r_mean_word_len"),
        r_longest.alias("r_max_word_len"),
        r_stop.alias("r_stopwords"),
        r_digit.alias("r_digit_ratio"),
        (r_words & r_mean & r_longest & r_stop & r_digit).alias("keep"),
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document stats frame: the standard text-analysis pass."""
    return docs.select(
        F.col("doc_id"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        char_count("text").alias("n_chars_actual"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        quality_score("text").alias("quality"),
        content_fingerprint("text").alias("fingerprint"),
    )


def _nfc_udf():
    """Module-cached NFC pandas UDF: the decorator builds and registers
    a fresh Python UDF wrapper each time it runs, so constructing it
    per ``normalize_text`` call paid that per-invocation and produced
    distinct UDF instances that defeat expression-level reuse (r8
    review). Built lazily (not at import) so importing the module never
    requires an active Spark context."""
    global _NFC
    if _NFC is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _nfc(s):  # type: ignore[no-untyped-def]
            return s.str.normalize("NFC")

        _NFC = _nfc
    return _NFC


_NFC = None


def normalize_text(text_col: str | Column) -> Column:
    """Canonical text normalization — the pass every dedup/fingerprint
    stage should share so byte-different-but-equal texts collide:
    Unicode NFC (composed form), lowercase, whitespace runs collapsed
    to one space, ends trimmed. NFC runs in a vectorized pandas UDF
    (Spark SQL has no normalization builtin; pandas ``str.normalize``
    is the Arrow-batched path); case/whitespace stay JVM-side so the
    UDF does exactly the one thing Spark can't.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(_nfc_udf()(c)), r"\s+", " "))
