"""Corpus-pipeline operators a large-scale training-data build needs:
PII redaction, deterministic train/val/test splitting, stratified and
quota sampling, repetition statistics (Gopher/C4-style), and benchmark
contamination checks.

Everything here is a native column expression or a broadcast join —
these run over EVERY document of a 100 TB corpus, so no Python in the
row loop, no driver collects of corpus-scale data, and no full-corpus
shuffles except where the semantics force a per-group pass (quota
sampling windows, which shuffle once on the small group key).

Determinism: sampling/splitting uses Knuth multiplicative hashing over
the numeric doc id — reproducible across engines, partitionings, and
runs (unlike F.rand), and expressible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kg_etl_spark.operators.textquality import ws_tokens

# Knuth's multiplicative constant; bucket = (id * A) mod 2^32 mod n.
# Pure BIGINT arithmetic → bit-identical in Spark and DuckDB.
_KNUTH_A = 2654435761
_M32 = 4294967296


def knuth_h32(id_col: Column) -> Column:
    """(id * A) mod 2^32 as a non-negative long, overflow-free by
    construction: Spark 4 runs ANSI mode by default, so a bare
    ``id * A`` would throw ArithmeticException once ids pass 2^63/A
    (~3.5e9 — real at corpus scale). Instead the id is first reduced
    mod 2^32 (pmod → non-negative), then split into 16-bit halves so
    every intermediate stays below 2^49:

        (x*A) mod 2^32  ==  (((hi*A) mod 2^16)*2^16 + lo*A) mod 2^32
        where x = id mod 2^32 = hi*2^16 + lo

    For ids in [0, 2^32) this equals the textbook (id*A) mod 2^32, so
    the ANSI-SQL oracle form ``(id * A) % 2^32`` matches exactly (the
    oracle form itself is valid up to ids ~3.5e9 — DuckDB would raise
    on BIGINT overflow past that; the engine side has no such limit)."""
    x = F.pmod(id_col.cast("long"), F.lit(_M32))
    hi = F.shiftright(x, 16)
    lo = x.bitwiseAND(F.lit(0xFFFF))
    mixed = F.pmod(hi * F.lit(_KNUTH_A), F.lit(65536)) * F.lit(65536) + lo * F.lit(_KNUTH_A)
    return F.pmod(mixed, F.lit(_M32))


def hash_bucket(id_col: Column, n_buckets: int = 100) -> Column:
    """Deterministic pseudo-uniform bucket in [0, n_buckets) from a
    numeric id — the reproducible substitute for rand() in splits and
    samples. See `knuth_h32` for the overflow-free construction."""
    return F.pmod(knuth_h32(id_col), F.lit(n_buckets))


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Assign each row a stable split label: bucket < test → 'test',
    next val_pct → 'val', rest 'train'. Map-side only (no shuffle); the
    assignment never changes as the corpus grows because it depends
    only on the row's own id."""
    b = hash_bucket(F.col(id_col))
    return df.withColumn(
        "split",
        F.when(b < test_pct, "test")
        .when(b < test_pct + val_pct, "val")
        .otherwise("train"),
    )


def stratified_sample(
    df: DataFrame, stratum_col: str, pct: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ~pct% sample within every stratum: keep rows whose
    hash bucket < pct. Map-side only — the stratum column never
    shuffles; per-stratum rates stay proportional because the hash is
    independent of the stratum."""
    return df.filter(hash_bucket(F.col(id_col)) < pct)


def quota_sample(
    df: DataFrame, group_col: str, quota: int, id_col: str = "doc_id"
) -> DataFrame:
    """Domain-mixing primitive: at most `quota` rows per group, chosen
    deterministically (hash order, id tie-break) — 'cap every domain at
    N documents'. Runs as the two-level tournament (grouped_topk):
    per-task local caps, then one model-sized per-group window over the
    ≤ quota·num_partitions survivors — value-identical to the plain
    per-group window, but no n/|groups| single-task sort when the
    group key has low cardinality (and no giant-group memory hazard
    when one domain dominates)."""
    from kg_etl_spark.operators.topk import grouped_topk

    return grouped_topk(
        df,
        [group_col],
        [hash_bucket(F.col(id_col), _M32).asc(), F.col(id_col).asc()],
        quota,
        out_rank="_rn",
    ).drop("_rn")


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails and phone-shaped numbers; emit per-doc counts so the
    pipeline can quarantine PII-heavy documents. Pure regexp kernels
    (JVM codegen); patterns are the standard corpus-cleaning shapes,
    extend per policy."""
    t = F.col(text_col)
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0))))
        .withColumn("n_phones", F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), F.lit(0))))
        .withColumn(
            text_col,
            F.regexp_replace(
                F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
            ),
        )
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition features per document:
    dup_trigram_frac (1 - distinct/total word trigrams) and
    top_word_frac (most frequent token's share). High values mark
    boilerplate/spam for filtering. Fully native array expressions.

    Staged projections: tokens and trigrams become materialized
    attributes before the stats reference them repeatedly — inlining
    ws_tokens into every lambda use defeats codegen subexpression
    elimination (measured 7× slower combined)."""
    other = [c for c in df.columns if c != text_col]
    toked = df.select(*other, F.col(text_col), ws_tokens(F.col(text_col)).alias("_tk"))
    tk = F.col("_tk")
    n0 = F.size(tk)
    tri_expr = F.zip_with(
        F.slice(tk, 1, F.greatest(n0 - 2, F.lit(0))),
        F.zip_with(
            F.slice(tk, 2, F.greatest(n0 - 2, F.lit(0))),
            F.slice(tk, 3, F.greatest(n0 - 2, F.lit(0))),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    staged = toked.select(*other, F.col(text_col), "_tk", tri_expr.alias("_tri"))

    n = F.size(F.col("_tk"))
    n_tri = F.size(F.col("_tri"))
    dup_frac = F.when(
        n_tri > 0,
        F.lit(1.0) - F.size(F.array_distinct(F.col("_tri"))).cast("double") / n_tri.cast("double"),
    ).otherwise(F.lit(0.0))
    # most frequent token share: sort tokens, count the longest run via
    # aggregate over the sorted array (native, no explode/shuffle)
    sorted_toks = F.array_sort(F.col("_tk"))
    top_run = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(acc["prev"].isNotNull() & (t == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].isNotNull() & (t == acc["prev"]), acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_frac = F.when(n > 0, top_run.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    return staged.select(
        *other,
        F.col(text_col),
        F.round(dup_frac, 6).alias("dup_trigram_frac"),
        F.round(top_frac, 6).alias("top_word_frac"),
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    probe_chars: int = 50,
) -> DataFrame:
    """Flag corpus documents that contain a benchmark document's probe
    prefix (first `probe_chars` chars) as a substring — the standard
    decontamination sweep before training.

    The benchmark side is small by definition → broadcast; the corpus
    never shuffles. Output: (doc_id, bench_id) contaminated pairs.
    """
    probes = benchmark.select(
        F.col(bench_id_col),
        F.substring(F.col(text_col), 1, probe_chars).alias("_probe"),
    ).filter(F.length("_probe") > 0)
    return (
        corpus.select(F.col(id_col), F.col(text_col).alias("_t"))
        .join(F.broadcast(probes))
        .filter(F.col("_t").contains(F.col("_probe")))
        .select(id_col, bench_id_col)
    )


def dsir_weights(
    corpus: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by how much its
    unigram+bigram feature mix looks like the TARGET slice of the
    corpus vs the corpus overall. weight = Σ_features
    ln(p_target(f)/p_raw(f)) with add-one smoothing — the standard
    cheap proxy for "train on data that resembles the high-quality
    set"; resample/threshold on `dsir_weight` downstream
    (`weighted_sample` composes directly).

    Two feature modes:
    - ``n_buckets=None`` (exact): features are the gram strings; the
      ratio table is |gram types| rows, the per-doc scoring join
      shuffles on the gram. Cross-engine deterministic (per-feature
      log-ratios rounded to 6 dp then summed as DECIMAL) → full SQL
      oracle.
    - ``n_buckets=int`` (scale): grams hash into n_buckets
      (xxhash64 → pmod), the ratio table is a FIXED n_buckets rows →
      broadcastable, so the per-doc scoring join is map-side and the
      corpus shuffles only for the final per-doc aggregate. This is
      the paper's actual construction (hashed features); values are
      engine-specific (rows-only), consistency with the exact mode is
      unit-tested on collision-free inputs.

    One explode pass feeds everything: the (gram, is_target) stream is
    aggregated once (checkpointed — it serves the ratio table AND the
    two totals), then joined back for per-doc sums. Scalars pulled to
    the driver are 3 numbers (model, not data).
    """
    toks = corpus.select(
        F.col(id_col),
        is_target.cast("int").alias("_t"),
        ws_tokens(F.col(text_col)).alias("_tk"),
    )
    grams = F.concat(
        F.col("_tk"),
        F.zip_with(
            F.slice(F.col("_tk"), 1, F.greatest(F.size("_tk") - 1, F.lit(0))),
            F.slice(F.col("_tk"), 2, F.greatest(F.size("_tk") - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    feats = toks.select(id_col, "_t", F.explode(grams).alias("_g"))
    if n_buckets is not None:
        feats = feats.withColumn(
            "_g", F.pmod(F.xxhash64(F.col("_g")), F.lit(n_buckets))
        )
    counts = (
        feats.groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_cr"),
            F.sum("_t").alias("_ct"),
        )
        # LAZY (r12): the totals collect right below is the first
        # consumer and materializes the cut inline — eager paid a
        # standalone scheduling round for the same blocks (guide §5)
        .lineage_cut(eager=False)
    )
    tot = counts.agg(
        F.sum("_cr").alias("nr"), F.sum("_ct").alias("nt"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n_raw, n_tgt = int(tot["nr"] or 0), int(tot["nt"] or 0)
    v = n_buckets if n_buckets is not None else int(tot["v"] or 0)

    lr = F.round(
        F.log((F.col("_ct") + 1).cast("double") / F.lit(float(n_tgt + v)))
        - F.log((F.col("_cr") + 1).cast("double") / F.lit(float(n_raw + v))),
        6,
    ).cast("decimal(28,6)")
    ratios = counts.select("_g", lr.alias("_lr"))
    if n_buckets is not None:
        ratios = F.broadcast(ratios)
    return (
        feats.join(ratios, "_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("_lr").cast("double"), 6).alias("dsir_weight"),
        )
    )


def weighted_sample(
    df: DataFrame, weight_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): each row gets key u^(1/w) with u a hash-derived
    uniform; the k largest keys are the sample, giving inclusion odds
    proportional to weight. Ordering uses ln(u)/w (monotone transform,
    no tiny-exponent underflow).

    Map-side key computation + TakeOrdered top-k: no shuffle of the
    corpus, reproducible across engines/partitionings/runs because u
    comes from the Knuth hash of the row id, not rand(). Rows with
    non-positive weight are excluded (their key is undefined)."""
    u = (knuth_h32(F.col(id_col)) + 1).cast("double") / F.lit(float(_M32 + 1))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """C4-style cross-document line dedup: a (non-blank) line appearing
    in >= `min_docs` DISTINCT documents is boilerplate (nav bars, cookie
    banners, license footers) and is removed from every document; blank
    lines and unique lines survive in original order.

    Four narrow shuffles at any scale (measured in PLANS.md): the
    per-line countDistinct(doc) keyed by the md5 line fingerprint
    (16-byte keys, map-side partial agg), the lines-to-dupset left_anti
    join on the same key, the per-document reassembly groupBy, and the
    per-document totals aggregate. No driver-side data, no
    Python. The dup set is NOT broadcast by hint — at 100 TB it can be
    huge; AQE picks broadcast when it is actually small.

    Output: (id, text, n_removed_lines) with text rebuilt from kept
    lines joined by newline.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
    )
    content = lines.filter(F.trim("_line") != "").withColumn(
        "_fp", F.md5(F.col("_line"))
    )
    dup_fps = (
        content.groupBy("_fp")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_fp")
    )
    kept = content.join(dup_fps, "_fp", "left_anti").select(id_col, "_idx", "_line")
    blank = lines.filter(F.trim("_line") == "").select(id_col, "_idx", "_line")
    rebuilt = (
        kept.unionByName(blank)
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                    lambda s: s["_line"],
                ),
            ).alias(text_col),
            F.count(F.lit(1)).alias("_n_kept"),
        )
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            (F.col("_n_total") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed_lines"
            ),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """The standard n-gram decontamination sweep (GPT-3/PaLM style):
    flag (corpus doc, benchmark doc) pairs sharing >= `min_shared`
    distinct word n-grams (default 13-grams — long enough that chance
    collisions are negligible, short enough to catch paraphrase-free
    copying).

    Benchmark n-grams are exploded and broadcast (benchmarks are small
    by definition); the corpus side explodes its own n-grams map-side
    and equi-joins on the gram string — no quadratic doc×doc compare,
    one shuffle for the per-pair distinct-gram count. At 100 TB the
    corpus explode is the dominant cost and runs at scan speed;
    hash the gram to a long (xxhash64) if gram-string shuffle width
    ever matters. Output: (doc_id, bench_id, n_shared).
    """
    from kg_etl_spark.functions.text import word_shingles
    from kg_etl_spark.operators.textquality import ws_tokens

    # tokenize once per row: an inline ws_tokens is re-inlined 2n+1
    # times into the shingle slices (27x at n=13 — generator inputs see
    # no codegen subexpression elimination; measured on span_df_histogram)
    bench_grams = benchmark.select(
        F.col(bench_id_col), ws_tokens(F.col(text_col)).alias("_toks")
    ).select(
        bench_id_col,
        F.explode(word_shingles(F.col("_toks"), n)).alias("_gram"),
    )
    corpus_grams = corpus.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        F.explode(word_shingles(F.col("_toks"), n)).alias("_gram"),
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "_gram")
        .groupBy(id_col, bench_id_col)
        .agg(F.countDistinct("_gram").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bloom_ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 13,
    min_shared: int = 1,
    m_bits: int = 1 << 20,
    n_probes: int = 4,
) -> DataFrame:
    """Bloom-prefiltered n-gram decontamination: bit-identical pairs to
    `ngram_contamination`, built for the regime where the corpus-side
    gram stream is enormous. Corpus grams are tested MAP-SIDE against a
    broadcast m_bits-bit Bloom filter of the benchmark's grams, and only
    survivors (true overlaps + ~fpp false positives) ever reach the
    exact-verify join.

    The filter is built natively, no driver-side data pass: each
    distinct benchmark gram hashes to `n_probes` bit positions
    (xxhash64 re-seeded per probe); positions aggregate into m_bits/64
    words via one bit_or groupBy whose output size is bounded by the
    FILTER (m_bits/64 rows), not the data; the words come back to the
    driver as the model (~m_bits/8 bytes) and are inlined as one
    array<long> literal in the probe expression.

    Correctness: a Bloom filter has NO false negatives, so no
    contaminated pair can be lost; false positives are eliminated by
    the exact verify join — the output therefore equals the exact
    operator's and shares its oracle. At 100 TB the probe is pure
    bitwise map-side work and the verify join's broadcast table only
    sees the prefiltered trickle. Size m_bits at ~10-16 bits per
    distinct benchmark gram for 0.1-1% fpp.
    """
    import numpy as np

    from kg_etl_spark.functions.text import word_shingles
    from kg_etl_spark.operators.textquality import ws_tokens

    assert m_bits % 64 == 0 and m_bits > 0
    n_words = m_bits // 64

    # tokenize once per row (see ngram_contamination)
    bench_grams = benchmark.select(
        F.col(bench_id_col), ws_tokens(F.col(text_col)).alias("_toks")
    ).select(
        bench_id_col,
        F.explode(word_shingles(F.col("_toks"), n)).alias("_gram"),
    )

    def probe_bits(gh):
        return [F.pmod(F.xxhash64(gh, F.lit(j)), F.lit(m_bits)) for j in range(n_probes)]

    # single-bit masks as a 64-entry lookup (shiftleft needs a literal
    # shift amount; element_at takes a column index) — bit 63 is the
    # int64 sign bit, hence the signed wrap
    masks = F.lit(
        np.array([(1 << i) - ((1 << 64) if i == 63 else 0) for i in range(64)], dtype=np.int64)
    )

    def bit_mask(p):
        return F.element_at(masks, (F.pmod(p, 64) + 1).cast("int"))

    pos = (
        bench_grams.select(F.xxhash64("_gram").alias("_gh"))
        .distinct()
        .select(F.explode(F.array(*probe_bits(F.col("_gh")))).alias("_p"))
    )
    words_sparse = (
        pos.groupBy(F.floor(F.col("_p") / 64).cast("long").alias("_w"))
        .agg(F.bit_or(bit_mask(F.col("_p"))).alias("_bits"))
        .collect()  # ≤ m_bits/64 rows: the filter (model), not the data
    )
    words = np.zeros(n_words, dtype=np.int64)
    for r in words_sparse:
        words[int(r["_w"])] = int(r["_bits"])
    bitmap = F.lit(words)

    corpus_grams = corpus.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        F.explode(word_shingles(F.col("_toks"), n)).alias("_gram"),
    ).withColumn("_gh", F.xxhash64("_gram"))

    hit = None
    for p in probe_bits(F.col("_gh")):
        test = (
            F.element_at(bitmap, (F.floor(p / 64) + 1).cast("int")).bitwiseAND(bit_mask(p))
            != 0
        )
        hit = test if hit is None else (hit & test)

    return (
        corpus_grams.filter(hit)
        .join(F.broadcast(bench_grams), "_gram")
        .groupBy(id_col, bench_id_col)
        .agg(F.countDistinct("_gram").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    num_ranges: "int | None" = None,
) -> DataFrame:
    """Quantile normalization across groups — map each group's value
    distribution onto the GLOBAL distribution (batch-effect correction:
    per-source quality scores become comparable before a global
    threshold/mixing decision).

    Each row's percent-rank within its group (pr = (r−1)/(n_g−1),
    total-ordered by (value, id)) indexes into the globally sorted
    values at position round(pr·(N−1))+1. The global rank is
    rankdev.global_row_number over (value, id) — range cells ranked in
    parallel and shifted by per-cell offsets, never a single-partition
    window, with the range devices' sizing and skew handling (sampled
    equi-depth re-split, heavy-tie split on the id); every bucketing is
    monotone, so results are bit-identical. Per-group ranks are
    ordinary partitioned windows (groups parallelize).

    Output: (id, group, value, pr, norm_value), all float steps
    integer-derived and rounded at the edge — oracle-exact.
    """
    from kg_etl_spark.operators.rankdev import global_row_number

    v, g, i = F.col(value_col), F.col(group_col), F.col(id_col)
    base = df.select(
        i.alias("_id"), g.alias("_g"), v.cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())

    ranked, n_total = global_row_number(
        base, "_v", tiebreaks=["_id"], out_col="_grn", num_ranges=num_ranges
    )
    if n_total == 0:
        return base.select(
            F.col("_id").alias(id_col), F.col("_g").alias(group_col),
            F.col("_v").alias(value_col),
            F.lit(0.0).alias("pr"), F.lit(0.0).alias("norm_value"),
        )
    glob = ranked.select("_grn", F.col("_v").alias("_gv")).lineage_cut(eager=True)

    w_grp = Window.partitionBy("_g").orderBy(F.col("_v").asc(), F.col("_id").asc())
    n_grp = Window.partitionBy("_g")
    pr = (
        (F.row_number().over(w_grp) - F.lit(1)).cast("double")
        / F.greatest(F.count(F.lit(1)).over(n_grp) - F.lit(1), F.lit(1)).cast("double")
    )
    target = (F.round(pr * F.lit(float(n_total - 1)), 0) + 1).cast("long")
    scored = base.withColumn("pr", F.round(pr, 6)).withColumn("_t", target)
    return (
        scored.join(glob, scored["_t"] == glob["_grn"])
        .select(
            F.col("_id").alias(id_col),
            F.col("_g").alias(group_col),
            F.col("_v").alias(value_col),
            "pr",
            F.col("_gv").alias("norm_value"),
        )
    )
