"""Text analysis operators for training-data pipelines (task-brief
first-class extensions): language ID, quality scoring, token counting,
document fingerprinting. All pure Catalyst expressions (regexp_count /
split / md5), SQL-expressible on both engines for oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup_text import spread, word_grams, words_col

# Stopword alternations per language — deliberately regex-dialect-neutral
# (word boundaries + literal ASCII words work identically in Java regex
# and RE2).
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in)\b",
    "es": r"\b(el|la|de|que|los)\b",
    "de": r"\b(der|die|und|das|ist)\b",
    "fr": r"\b(le|la|les|et|des)\b",
}


def lang_votes(text: Column) -> dict[str, Column]:
    return {
        lang: F.regexp_count(F.lower(text), F.lit(pat))
        for lang, pat in LANG_STOPWORDS.items()
    }


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """n-gram/stopword-vote language ID: argmax of per-language stopword
    hits, 'und' (undetermined) when no votes. Deterministic tie order =
    dict order (en, es, de, fr)."""
    votes = lang_votes(F.col(text_col))
    out = df.select(F.col(id_col), *[v.alias(f"votes_{k}") for k, v in votes.items()])
    vote_cols = {lang: F.col(f"votes_{lang}") for lang in votes}
    best = F.greatest(*vote_cols.values())
    pred = F.lit("und")
    for lang in reversed(list(vote_cols)):  # earlier langs win ties
        pred = F.when((vote_cols[lang] > 0) & (vote_cols[lang] == best), F.lit(lang)).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features. Ratios are
    integer/integer doubles (deterministic cross-engine)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(words_col(t))
    n_punct = F.regexp_count(t, F.lit(r"[.,;:!?]"))
    n_stop = F.regexp_count(F.lower(t), F.lit(LANG_STOPWORDS["en"]))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        F.round(n_punct.cast("double") / n_chars, 6).alias("punct_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.round(n_chars.cast("double") / n_tokens, 6).alias("chars_per_token"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy: runs of letters,
    runs of digits, or single other non-space chars."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(words_col(t)).alias("ws_tokens"),
        F.regexp_count(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")).alias("bpe_tokens"),
    )


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals: type-token ratio and the
    fraction of all word-bigrams taken by the single most frequent bigram
    (boilerplate and degenerate repetition push it toward 1).

    Scale: bigrams are exploded (NOT collected into per-doc arrays) and
    counted with two aggregations — groupBy(id, bigram) with map-side
    partial aggregation collapses the heavy duplicate stream, then
    groupBy(id) reduces bigram counts to the per-doc max. Both are plain
    hash aggregates of narrow rows; no windows, no driver involvement.
    Docs with < 2 words have no bigram and are excluded (both engines)."""
    words = spread(df, id_col).select(
        F.col(id_col), words_col(F.col(text_col)).alias("__w")
    )
    per_doc = words.select(
        id_col,
        "__w",
        F.size("__w").alias("n_words"),
        F.size(F.array_distinct("__w")).alias("n_distinct_words"),
    )
    exploded = word_grams(per_doc, "__w", 2).select(
        id_col, "n_words", "n_distinct_words", F.col("gram").alias("bigram")
    )
    per_bigram = exploded.groupBy(id_col, "bigram").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("n_words").alias("n_words"),
        F.max("n_distinct_words").alias("n_distinct_words"),
    )
    return per_bigram.groupBy(id_col).agg(
        F.max("n_words").alias("n_words"),
        F.max("n_distinct_words").alias("n_distinct_words"),
        F.round(
            F.max("n_distinct_words").cast("double") / F.max("n_words"), 6
        ).alias("type_token_ratio"),
        F.max("cnt").alias("top_bigram_cnt"),
        F.round(
            F.max("cnt").cast("double") / (F.max("n_words") - 1), 6
        ).alias("top_bigram_frac"),
    )


# PII patterns — dialect-neutral (identical semantics in Java regex and
# RE2): literal classes, bounded repetition, \b word boundaries.
PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_URL_RE = r"https?://[^\s]+"
PII_ID_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + scrubbing for training corpora: counts emails,
    URLs, and SSN-shaped ids, and emits the md5 of the scrubbed text
    (placeholders <EMAIL>/<URL>/<ID>, applied in that fixed order so the
    result is deterministic cross-engine).

    Scale: pure per-row regexp_count/regexp_replace Catalyst expressions
    inside codegen — embarrassingly parallel, no shuffle at all."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_URL_RE, "<URL>"
        ),
        PII_ID_RE,
        "<ID>",
    )
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_URL_RE)).alias("n_urls"),
        F.regexp_count(t, F.lit(PII_ID_RE)).alias("n_ids"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Train/eval decontamination: corpus documents sharing at least one
    k-word shingle with any benchmark document, with the number of
    distinct overlapping shingles (the standard n-gram-overlap
    contamination check run before training).

    Scale: the benchmark side (eval sets) is tiny relative to a 100 TB
    corpus, so its distinct shingle set is broadcast — the corpus side
    explodes shingles and joins map-side with NO shuffle of corpus data;
    only the per-doc hit counts aggregate. For a large benchmark side,
    drop the broadcast hint and let AQE pick the join."""
    from .dedup_text import shingle_docs

    c = shingle_docs(corpus, id_col, text_col, k)
    b = shingle_docs(benchmark, id_col, text_col, k).select("__s").distinct()
    return (
        c.join(F.broadcast(b), "__s")
        .groupBy(id_col)
        .agg(F.count_distinct("__s").alias("n_hits"))
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Document fingerprints: full-content md5 of the normalized text plus
    a winnowing-style rolling fingerprint (min shingle hash — the anchor
    a rolling-hash winnower would select).

    Scale: shingling + per-shingle md5 is the heavy row-local step, so
    the input is spread to full parallelism first (small scans produce
    few splits; at cluster scale the repartition is one cheap shuffle of
    raw text that unlocks N-way compute). The per-doc MIN reuses the
    spread's id partitioning; the content hashes join it on id, and docs
    with < k words keep a NULL ``min_shingle_hash``."""
    t = F.col(text_col)
    normalized = F.regexp_replace(F.trim(F.lower(t)), r"\s+", " ")
    words = spread(df, id_col).select(F.col(id_col), words_col(t).alias("__w"))
    mins = (
        word_grams(words, "__w", k)
        .groupBy(id_col)
        .agg(F.min(F.md5("gram")).alias("min_shingle_hash"))
    )
    return df.select(F.col(id_col), F.md5(normalized).alias("content_md5")).join(
        mins, id_col, "left"
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf (the classic
    corpus-analytics primitive: what makes this doc different from the
    corpus). idf uses the raw ratio N/df instead of log(N/df): log is not
    bit-identical across engines, while the ratio ranks identically
    (log is monotone) and keeps every arithmetic step a correctly-rounded
    IEEE op — exact integer products below 2^53, then one division —
    so the score is deterministic cross-engine. Ties break on term asc.

    Shape at scale: explode -> two hash aggregates (tf over (doc, term),
    df over term — both with map-side partial aggregation), a
    co-partitioned shuffle join on term (the vocabulary is unbounded, so
    the df relation is NOT broadcast), the corpus doc count as a 1-row
    broadcast (q15's scalar pattern — never a driver-side count), and one
    per-doc window for the top-k."""
    from pyspark.sql import Window as W

    tokens = df.select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("term")
    )
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "doc_freq",
            F.round(
                F.col("tf").cast("double") * F.col("__n_docs") / F.col("doc_freq"), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "term", "tf", "doc_freq", "tfidf")
    )


def unigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram-LM document quality score: the mean corpus probability of
    the document's tokens — sum_t count(t) / (n_tokens * total_tokens).
    The fluency/perplexity proxy without log: every intermediate is an
    exact int64 sum (associative, partition-order-proof), then two
    correctly-rounded double divisions — bit-identical cross-engine,
    where a sum of log-probs would drift with summation order. Low score
    = rare-token-heavy (gibberish-leaning) doc; high = common-token doc.

    Shape at scale: explode -> vocabulary hash aggregate (map-side
    combine collapses the Zipf head before the shuffle), co-partitioned
    shuffle join of the token stream back on term (vocabulary is
    unbounded — never broadcast), per-doc hash aggregate, and the corpus
    total as a 1-row broadcast scalar."""
    tokens = df.select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("term")
    )
    counts = tokens.groupBy("term").agg(F.count(F.lit(1)).alias("__cnt"))
    total = counts.select(F.sum("__cnt").alias("__total"))
    return (
        tokens.join(counts, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__cnt").alias("freq_sum"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "n_tokens",
            "freq_sum",
            F.round(
                F.col("freq_sum").cast("double") / F.col("n_tokens") / F.col("__total"),
                12,
            ).alias("avg_token_prob"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    checkpoints: tuple[int, ...] = (10, 100, 1000),
) -> DataFrame:
    """Tokenizer-design statistic: what fraction of all token
    occurrences the top-N vocabulary terms cover, at each N in
    ``checkpoints``. Returns (top_n, covered_tokens, total_tokens,
    coverage_ppm) — ppm as exact integer floor division so the ratio is
    bit-identical cross-engine.

    Shape at scale: explode -> one vocabulary hash aggregate (map-side
    combine collapses the Zipf head before the shuffle); the top-K cut
    is TakeOrderedAndProject (K = max checkpoint, a constant — never a
    global sort of the vocabulary); the running sum then windows over
    those K rows only, so the single-partition window is bounded by a
    constant, not by data size. The corpus total is a 1-row broadcast."""
    from pyspark.sql.window import Window

    k_max = max(checkpoints)
    tokens = df.select(F.explode(words_col(F.col(text_col))).alias("term"))
    counts = tokens.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.select(F.sum("cnt").cast("bigint").alias("total_tokens"))
    topk = counts.orderBy(F.col("cnt").desc(), F.col("term")).limit(k_max)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = topk.select(
        F.row_number().over(w).alias("top_n"),
        F.sum("cnt").over(w).cast("bigint").alias("covered_tokens"),
    )
    return (
        ranked.filter(F.col("top_n").isin(*checkpoints))
        .crossJoin(F.broadcast(total))
        .select(
            "top_n",
            "covered_tokens",
            "total_tokens",
            F.expr("(covered_tokens * 1000000) div total_tokens").alias("coverage_ppm"),
        )
    )
