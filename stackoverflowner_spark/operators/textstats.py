"""Text-analysis operators for large-scale training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + BPE-ish regex pieces), and
document fingerprinting. All pure column expressions — JVM-side, codegen'd,
no Python in the hot path — so they scan-bound at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# small deterministic stopword inventories per language
STOPWORDS = {
    "en": ["the", "a", "an", "and", "of", "to", "in", "is", "was", "it",
           "for", "on", "with", "that", "this"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
           "es", "por", "con", "para", "se"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "un", "une", "est",
           "que", "pour", "dans", "sur", "avec"],
    "de": ["der", "die", "das", "und", "in", "von", "zu", "mit", "ist",
           "des", "den", "ein", "eine", "auf", "für"],
}


def _stopword_hits(text_col, words) -> "F.Column":
    toks = F.split(F.lower(text_col), " ")
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(F.array_distinct(toks), arr))


def with_token_counts(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword-piece count (alnum runs,
    digit runs, punct singles — a cheap proxy for BPE token budgets)."""
    t = F.col("text")
    return df.withColumn(
        "ws_tokens", F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    ).withColumn(
        "bpe_pieces",
        F.regexp_count(t, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long"),
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Length + punctuation-ratio + stopword-ratio quality heuristic."""
    t = F.col("text")
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, "[^.,;:!?]", ""))
    n_words = F.size(F.filter(F.split(t, " "), lambda x: x != ""))
    sw_hits = _stopword_hits(t, STOPWORDS["en"])
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("alpha_ratio", F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_hits", sw_hits.cast("long"))
        .withColumn(
            "quality",
            F.round(
                F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
                + (n_alpha / F.greatest(n_chars, F.lit(1))) * 0.4
                + F.least(sw_hits / F.lit(10.0), F.lit(1.0)) * 0.2, 6),
        )
    )


def with_lang_id(df: DataFrame) -> DataFrame:
    """n-gram/stopword language ID: argmax of per-language stopword hits."""
    t = F.col("text")
    hit_cols = [
        _stopword_hits(t, ws).alias(f"hits_{lang}") for lang, ws in STOPWORDS.items()
    ]
    df = df.select("*", *hit_cols)
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("unk")
    # deterministic tie-break: alphabetical language order, first max wins
    for lang in sorted(langs, reverse=True):
        pred = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(pred)
    return df.withColumn("lang_pred", F.when(best > 0, pred).otherwise(F.lit("unk")))


def with_repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition / composition filters (Rae et al. 2021 §A1.1,
    public spec): per document —

    * ``mean_word_len``     mean whitespace-token length
    * ``symbol_ratio``      non-alphanumeric-non-space chars / all chars
    * ``top_bigram_frac``   occurrences of the most frequent word 2-gram
                            over all 2-gram occurrences (boilerplate and
                            template spam repeat their head bigram)
    * ``dup_word_frac``     1 - distinct words / total words
    * ``keep``              the composed accept decision

    Everything is JVM columnar; the only shuffle is the per-(doc, bigram)
    count -> per-doc max aggregation, O(total bigrams) — the same cost
    class as the MinHash shingle pass, and far cheaper than embedding the
    corpus. Thresholds follow the published Gopher ranges (mean word
    length 3-10, symbol ratio < 0.1, top-2-gram fraction < 0.2)."""
    t = F.col("text")
    words = F.filter(F.split(t, " "), lambda x: x != "")
    n_words = F.size(words)
    base = (df.withColumn("n_words", n_words.cast("long"))
            .withColumn("mean_word_len", F.round(
                F.length(F.array_join(words, "")) /
                F.greatest(n_words, F.lit(1)), 6))
            .withColumn("symbol_ratio", F.round(
                F.length(F.regexp_replace(t, "[A-Za-z0-9 ]", "")) /
                F.greatest(F.length(t), F.lit(1)), 6))
            .withColumn("dup_word_frac", F.round(
                1 - F.size(F.array_distinct(words)) /
                F.greatest(n_words, F.lit(1)).cast("double"), 6)))
    grams = base.select(
        F.col("doc_id"),
        F.explode(F.transform(
            F.slice(words, 1, F.greatest(n_words - 1, F.lit(0))),
            lambda w, i: F.concat_ws(" ", w, words[i + 1]))).alias("bigram"))
    top = (grams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
           .groupBy("doc_id").agg(F.max("c").alias("top_c"),
                                  F.sum("c").alias("all_c")))
    out = (base.join(top, "doc_id", "left")
           .withColumn("top_bigram_frac", F.round(
               F.coalesce(F.col("top_c") / F.col("all_c"), F.lit(0.0)), 6))
           .drop("top_c", "all_c"))
    keep = ((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
            & (F.col("symbol_ratio") < 0.1)
            & (F.col("top_bigram_frac") < 0.2)
            & (F.col("dup_word_frac") < 0.3))
    return out.withColumn("keep", keep)


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Normalization fingerprint: md5 over lowercased, space-collapsed text
    (rolling-hash stand-in that is reproducible in any engine)."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(F.trim(norm)))
