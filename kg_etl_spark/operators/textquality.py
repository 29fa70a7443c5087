"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language-ID, document fingerprinting.

All native column expressions (JVM-side, codegen'd) — these run over
every document of a 100 TB corpus, so no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deliberately small + deterministic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "in", "on", "at", "to", "is"]


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token hygiene (works on
    leading/trailing space; deterministic across engines)."""
    return F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: count word pieces of ≤4 chars — ceil(len/4) summed
    over whitespace tokens. A cheap, deterministic token estimator."""
    return F.aggregate(
        ws_tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("long"),
    )


def unigram_surprisal(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 2000,
) -> DataFrame:
    """Unigram-LM surprisal score — the KenLM-free perplexity filter a
    training pipeline uses to drop gibberish/outlier documents: fit a
    smoothed unigram model on the corpus itself (top-`vocab_size` types
    by count, add-one smoothing, single shared OOV mass), then score
    each document by mean token surprisal -ln p(w). High = unusual
    wordform mix; low = stopword-y boilerplate.

    Shape: one token-count aggregate (checkpointed: feeds the total and
    the vocab cut), vocab via TakeOrdered (count DESC, token ASC — total
    order), broadcast-joined back to the token stream, one per-doc
    aggregate. The corpus shuffles once (per-doc agg); the model is
    vocab_size rows + one scalar.

    Cross-engine exactness: per-token surprisal is rounded to 6 dp then
    summed as DECIMAL(28,6) (order-independent), divided as double at
    the end — the established float-oracle idiom. p(w) itself is one
    IEEE divide of exact integers, identical in both engines.
    """
    toks = corpus.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("_tok")
    )
    counts = (
        toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c")).lineage_cut(eager=True)
    )
    n_total = counts.agg(F.sum("_c").alias("n")).collect()[0]["n"] or 0
    vocab = counts.orderBy(F.col("_c").desc(), F.col("_tok").asc()).limit(vocab_size)
    denom = float(n_total + vocab_size + 1)

    joined = toks.join(F.broadcast(vocab), "_tok", "left")
    p = F.coalesce((F.col("_c") + 1).cast("double"), F.lit(1.0)) / F.lit(denom)
    s = F.round(-F.log(p), 6).cast("decimal(28,6)")
    return (
        joined.withColumn("_s", s)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("_s").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_surprisal"
            ),
        )
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio features + a blended
    quality score in [0,1]."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double")).otherwise(0.0)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(ws_tokens(t), lambda tok: F.array_contains(stop_arr, tok)))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens.cast("double")).otherwise(0.0)
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(ws_tokens(t), F.lit(0).cast("long"), lambda a, x: a + F.length(x)).cast("double")
        / n_tokens.cast("double"),
    ).otherwise(0.0)
    score = (
        F.least(n_tokens.cast("double") / F.lit(64.0), F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
    )
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_token_len", F.round(mean_tok_len, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def language_id(text: Column) -> Column:
    """Stopword-marker language ID: argmax over per-language marker hit
    counts; tie → lexicographically smallest language; no hits → 'und'."""
    toks = ws_tokens(text)
    scored = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda tok: F.array_contains(markers, tok)))
        scored.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max over (hits, lang) picks max hits; on tie the LARGEST
    # lang string — invert by ordering on (hits, negated-rank) instead:
    # simpler: reduce with explicit comparison keeping strictly-greater.
    best = F.aggregate(
        F.array(*scored),
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lang")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column, algo: str = "md5") -> Column:
    """Normalized-content fingerprint: lower, collapse whitespace, hash.
    (md5 is available in both Spark and DuckDB for oracle parity.)"""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    if algo == "md5":
        return F.md5(norm)
    if algo == "sha256":
        return F.sha2(norm, 256)
    raise ValueError(algo)


def bigram_surprisal(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM surprisal — the contextual step up from
    `unigram_surprisal`: fit add-one-smoothed bigram probabilities
    p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) on the corpus itself, then
    score each document by mean bigram surprisal -ln p. Catches
    scrambled/boilerplate-stitched text that unigram stats miss (every
    word common, no two ever adjacent in real prose).

    Shape: the token stream aggregates twice (bigram counts, unigram
    counts — both map-side combined), the two models fold into ONE
    bigram-keyed table (c_bi + context count via a join on w1), and the
    bigram stream joins it once. All joins are equi-joins on token
    keys; at 100 TB they are plain shuffle joins over |bigram types|
    rows — never O(n²). V (vocabulary size) is the only driver scalar.

    Cross-engine exactness: p is one IEEE divide of exact integers;
    per-bigram surprisal is rounded to 6 dp, summed as DECIMAL(28,6)
    (order-independent), divided as double at the end — the established
    float-oracle idiom. Documents with <2 tokens have no bigrams and
    are excluded (inner aggregate), identically in SQL.
    """
    toks = corpus.select(F.col(id_col).alias("_id"), ws_tokens(F.col(text_col)).alias("_t"))
    # guard BEFORE sequence(): sequence(1, 0) steps DOWNWARD ([1, 0]),
    # so a 1-token doc would index element_at(t, 2) and throw under ANSI
    bg = toks.filter(F.size("_t") >= 2).select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.struct(
                    F.element_at("_t", i).alias("w1"),
                    F.element_at("_t", i + 1).alias("w2"),
                ),
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))

    uni = toks.select(F.explode("_t").alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("_cuni")
    )
    vocab_n = uni.count()  # V: driver scalar, |types|-scale action
    model = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_cbi"))
        .join(uni, "w1")
    )

    p = (F.col("_cbi") + 1).cast("double") / (F.col("_cuni") + F.lit(vocab_n)).cast("double")
    s = F.round(-F.log(p), 6).cast("decimal(28,6)")
    return (
        bg.join(model, ["w1", "w2"])
        .withColumn("_s", s)
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("_s").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_bigram_surprisal"
            ),
        )
    )


def char_entropy(text: Column) -> Column:
    """Shannon entropy of the character distribution (bits/char) — the
    gibberish / base64-blob / repeated-char detector a crawl-filter
    stack runs next to length and stopword ratios (low entropy =
    repetitive junk, ~6+ = random blobs).

    Computed natively WITHOUT an explode: per-char counts via
    higher-order functions over the char array (distinct alphabet is
    small — ≤ printable set — so the filter-per-distinct-char scan is
    O(|alphabet|·len) inside whole-stage codegen, zero shuffle, zero
    Python). Per-char terms −p·log2 p are rounded to 6 dp and summed
    as DECIMAL over the SORTED distinct alphabet — order-independent
    and exact, the established float-oracle idiom
    (cf. unigram_surprisal).
    """
    chars = F.filter(F.split(text, ""), lambda x: x != F.lit(""))
    total = F.size(chars).cast("double")
    dist = F.array_sort(F.array_distinct(chars))
    p = lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double") / total
    term = lambda c: F.round(-p(c) * F.log2(p(c)), 6).cast("decimal(28,6)")
    return F.aggregate(
        dist,
        F.lit(0).cast("decimal(28,6)"),
        # decimal + widens to (29,6); cast back — the sum of ≤ alphabet
        # terms each < 1 can't overflow (28,6)
        lambda acc, c: (acc + term(c)).cast("decimal(28,6)"),
    ).cast("double")
