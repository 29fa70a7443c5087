"""Deduplication family for large-corpus pipelines.

- exact_dedup: hash-groupBy on a normalized-content fingerprint.
- ngram_jaccard_pairs: word-shingle Jaccard near-dup pairs via an
  inverted-index (explode→self-join on shingle→count) — the classic
  scalable pattern; candidate generation never goes O(n²).
- minhash_lsh_pairs: MinHash signatures (xxhash64 with k seeds) + LSH
  banding; bucket-join candidates; verified with exact shingle Jaccard.
- simhash: 64-bit SimHash per doc + near-dup pairs at Hamming ≤ t via
  band-rotation blocking.

Everything native (xxhash64, higher-order array fns); no Python UDFs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.functions.text import word_shingles
from kg_etl_spark.operators.textquality import ws_tokens
from kg_etl_spark.operators.util import rows_at_most, spread


# Version marker for the LSH shingle-hash family. v3 = gram hashes are
# xxhash64 over chained token-hash longs (unchanged from v2), but the 64
# per-seed MinHash values are the affine family h_i(g) = A_i·g + B_i
# (mod 2⁶⁴, odd A_i — Broder's linear permutations / Kirsch–Mitzenmacher
# derivation), computed in ONE Arrow-vectorized pass; v2 used
# xxhash64(g, seed_i) per seed; v1 (pre-rewrite) hashed the joined
# shingle STRING. Signatures across families never collide on equal
# content, so banding an old-family persisted index with new batches
# yields zero candidates — a silent-false-negative class this marker
# makes loud.
LSH_FAMILY = "tokenchain-affine64-v3"

# The 64 (A_i odd, B_i) affine constants — fixed public values from a
# seeded PRNG (random.Random(0x5EED0CAF), getrandbits(64)|1 / 64), so
# every build of this module derives the identical family:
import random as _random

_rnd = _random.Random(0x5EED0CAF)
_SIG_A = tuple(_rnd.getrandbits(64) | 1 for _ in range(64))
_SIG_B = tuple(_rnd.getrandbits(64) for _ in range(64))
del _rnd


def normalized_fingerprint(text: Column) -> Column:
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """One row per distinct normalized content: keeper = min id, plus
    dup count. Deterministic; a single hash-aggregate (1 shuffle)."""
    return (
        df.withColumn("fp", normalized_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # spread rows first: a small corpus often arrives as one input
    # split, which would serialize all the tokenize/shingle/hash work
    # onto a single task
    df = spread(df, F.col(id_col))
    # two projection steps: CollapseProject won't inline the (expensive,
    # multiply-referenced) token expression into the shingle lambda.
    toks = df.select(F.col(id_col).alias("_id"), ws_tokens(F.col(text_col)).alias("_toks"))
    return toks.select("_id", word_shingles(F.col("_toks"), n).alias("_sh")).filter(
        F.size("_sh") > 0
    )


def _sig_udf(num_hashes: int):
    """Arrow-vectorized MinHash signature from a per-doc hashed-shingle
    array: for each seed i, min over grams of A_i·g + B_i (uint64
    wraparound; the int64<->uint64 crossings are .view bit
    reinterpretations, exact by definition on every platform).
    One (64 × |grams|) numpy broadcast per doc replaces 64
    interpreted per-row aggregate updates on the JVM side — the wide
    64-buffer hash aggregate is exactly the shape Spark's codegen
    cannot keep fast (measured: the per-seed-xxhash64 aggregate cost
    ~0.45 s of the 0.8 s signature phase at sf0.1; this UDF form took
    the minhash bench row from ~1.7 s to ~1.2 s). This is one of the
    repo's documented vectorized-Pandas-UDF sites (with the fuzzy ratio,
    NFKD, point-in-polygon): Python in the plan, but Arrow-batched and
    numpy-vectorized — never row-at-a-time."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a = np.array(_SIG_A[:num_hashes], dtype=np.uint64)
    b = np.array(_SIG_B[:num_hashes], dtype=np.uint64)

    def sig(shh):
        out = []
        for arr in shh:
            # .view reinterprets the int64 bits as uint64 (and back)
            # BY DEFINITION — bit-exact on any platform/numpy, unlike
            # an out-of-range astype (a C-style cast that wraps on all
            # mainstream builds but is not formally guaranteed).
            g = np.ascontiguousarray(arr, dtype=np.int64).view(np.uint64)
            if g.size == 0:  # unreachable (grams pre-filtered non-empty)
                out.append(np.full(len(a), np.iinfo(np.int64).max, np.int64))
                continue
            m = (g[None, :] * a[:, None] + b[:, None]).min(axis=1)
            out.append(np.ascontiguousarray(m).view(np.int64))
        return pd.Series(out)

    # `from __future__ import annotations` stringifies inline hints
    # (local names don't resolve at inspect time) — set real objects
    sig.__annotations__ = {"shh": pd.Series, "return": pd.Series}
    return pandas_udf(sig, "array<long>")


def _sig_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """(_id, _shh array<long>, _sig array<long>) — hashed shingle SETS
    plus the MinHash signature.

      posexplode tokens → xxhash64 per token → window lead(n−1) over
      (_id, pos) builds each shingle hash as xxhash64 over the n
      consecutive token-hash longs (fully codegen'd, zero
      higher-order-function lambdas — those are interpreted at ~200 ns
      per invocation and dominated an earlier form) → ONE collect_set
      aggregate per doc → the 64 per-seed mins in one Arrow-vectorized
      numpy pass (`_sig_udf`; the JVM-side 64-buffer min aggregate ran
      interpreted and cost more than the rest of the phase combined).

    The window AND the aggregate reuse spread()'s hash partitioning on
    the id, so the whole thing is ONE row-proportional shuffle.
    Gram-hash values are identical to hashing the n token-hash columns
    chained (2⁻⁶⁴-collision-tolerant, deterministic); the per-seed
    family is min(A_i·gram + B_i) (LSH_FAMILY v3). The MinHash/LSH
    family is defined over THESE hashes — every banding consumer must
    go through this one helper so a stored index and a new batch can
    never shingle or band differently."""
    from pyspark.sql import Window

    d = spread(df, F.col(id_col))
    tok = d.select(
        F.col(id_col).alias("_id"),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_p", "_t"),
    ).select("_id", "_p", F.xxhash64("_t").alias("_th"))
    w = Window.partitionBy("_id").orderBy("_p")
    leads = [F.col("_th")] + [F.lead("_th", j).over(w) for j in range(1, n)]
    g = tok.select("_id", F.xxhash64(*leads).alias("_g"), leads[-1].alias("_chk"))
    g = g.filter(F.col("_chk").isNotNull())
    agg = g.groupBy("_id").agg(F.collect_set("_g").alias("_shh"))
    return agg.select("_id", "_shh", _sig_udf(num_hashes)("_shh").alias("_sig"))


def _shingle_stream(
    df: DataFrame, id_col: str, text_col: str, n: int, hashed: bool = False
) -> DataFrame:
    """(_id, _s) DISTINCT word-shingle stream, exploded and fully
    CODEGEN'D (no higher-order-function lambdas — those are
    interpreted and cost ~200 ns per invocation; this form halved the
    shingle phase at sf0.1): posexplode tokens → window lead(n−1)
    over (_id, pos) → concat_ws(' ') per shingle → per-id distinct.
    The window AND the distinct both reuse spread()'s hash
    partitioning on the id, so the whole stream is ONE
    row-proportional shuffle. String values are identical to the
    array-based `_shingled` (space-joined n-grams, trailing partial
    windows dropped), so the DuckDB oracle transfers verbatim;
    hashed=True swaps the string for xxhash64(string) — fixed 8-byte
    join keys, same 2⁻⁶⁴ collision tolerance MinHash accepts."""
    from pyspark.sql import Window

    d = spread(df, F.col(id_col))
    tok = d.select(
        F.col(id_col).alias("_id"),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_p", "_t"),
    )
    w = Window.partitionBy("_id").orderBy("_p")
    leads = [F.col("_t")] + [F.lead("_t", j).over(w) for j in range(1, n)]
    s = tok.select("_id", F.concat_ws(" ", *leads).alias("_s"), leads[-1].alias("_chk"))
    s = s.filter(F.col("_chk").isNotNull()).drop("_chk")
    if hashed:
        s = s.select("_id", F.xxhash64("_s").alias("_s"))
    return s.dropDuplicates(["_id", "_s"])


def _sized_shingle_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hashed: bool,
    max_df: int | None,
) -> DataFrame:
    """(_id, _s, _sz) distinct-shingle stream with the per-doc
    distinct-shingle COUNT attached as a column, so the inverted-index
    self-join can carry both docs' sizes through the shingle key and
    the pair stream never joins a corpus-sized size table afterwards
    (two pair-keyed exchanges saved at scale; the ≤16 extra bytes ride
    a shuffle that is already string/8-byte keyed).

    The size window runs over spread()'s existing _id partitioning —
    one in-partition sort at cut-materialization time, zero cost per
    consumer.  Under max_df the sizes are recomputed AFTER the
    boilerplate anti-join (capped-universe semantics: both the
    intersection and the sizes drop capped shingles), again without an
    exchange — the broadcast anti-join preserves the cut's
    partitioning."""
    from pyspark.sql import Window

    szw = Window.partitionBy("_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ex = _shingle_stream(df, id_col, text_col, n, hashed=hashed)
    if max_df is None:
        return ex.withColumn("_sz", F.count(F.lit(1)).over(szw)).lineage_cut(
            eager=False
        )
    ex = ex.lineage_cut(eager=False)
    dfreq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    return (
        ex.join(F.broadcast(dfreq.filter(F.col("_df") > max_df)), "_s", "left_anti")
        .withColumn("_sz", F.count(F.lit(1)).over(szw))
        .lineage_cut(eager=True)
    )


def _sized_pair_counts(ex: DataFrame) -> DataFrame:
    """(a_id, b_id, n_common, a_sz, b_sz) from a sized shingle stream:
    the one inverted-index self-join shuffle, sizes carried through as
    max() aggregates (each is functionally determined by its id)."""
    a = ex.select(F.col("_id").alias("a_id"), "_s", F.col("_sz").alias("a_sz"))
    b = ex.select(F.col("_id").alias("b_id"), "_s", F.col("_sz").alias("b_sz"))
    return (
        a.join(b, "_s")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("a_sz").alias("a_sz"),
            F.max("b_sz").alias("b_sz"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Near-dup pairs with shingle-Jaccard ≥ threshold.

    Inverted index: explode shingles, self-join on shingle, count
    common shingles per pair, then |A∩B|/(|A|+|B|-|A∩B|). Common-shingle
    join is the only shuffle.

    hash_shingles joins on xxhash64(shingle) longs instead of shingle
    strings — fixed 8-byte shuffle keys instead of full n-grams (the
    dominant shuffle payload). Collision tolerance is the same 2⁻⁶⁴
    MinHash already accepts; keep False where bit-exact Jaccard is
    contracted (the DuckDB-oracle path).

    max_df caps shingle document frequency: a shingle shared by d docs
    contributes d² candidate rows, so boilerplate shingles dominate the
    join quadratically (a 10×-duplicated 50k corpus ran 20× slower than
    MinHash for this exact reason). Jaccard is then computed over the
    capped shingle universe — both the intersection AND the sizes drop
    capped shingles, so an exact-dup pair still scores 1.0 and pure
    boilerplate docs drop out entirely. Set None for the exact
    small-corpus behavior.
    """
    # materialize the distinct shingle stream (with per-doc sizes
    # attached — see _sized_shingle_stream) once: it feeds both sides
    # of the inverted-index self-join. LAZY checkpoint: the first
    # consuming job materializes it inline (one fewer scheduling round
    # than eager).
    ex = _sized_shingle_stream(df, id_col, text_col, n, hash_shingles, max_df)
    out = (
        _sized_pair_counts(ex)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("a_sz") + F.col("b_sz") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a_id", "b_id", "n_common", F.round("jaccard", 6).alias("jaccard"))


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT
    C(A, B) = |A∩B| / min(|A|, |B|) ≥ threshold — Broder's containment
    coefficient (SEQUENCES '97), the snippet-inclusion detector: a
    short doc fully embedded in a long one scores 1.0 here while its
    Jaccard stays near |A|/|B| and slips under every symmetric
    threshold. The complement of `ngram_jaccard_pairs` for training
    corpora where quote/boilerplate inclusion (not whole-doc copying)
    is the contamination mode.

    Same inverted-index shape as ngram_jaccard_pairs (one shingle
    equi-join shuffle), same max_df skew cap with the same capped-
    universe semantics. Reference parity: the reference has no
    containment operator; this extends its dedup family per the
    training-pipeline brief."""
    ex = _sized_shingle_stream(df, id_col, text_col, n, hash_shingles, max_df)
    out = (
        _sized_pair_counts(ex)
        .withColumn(
            "containment",
            F.col("n_common").cast("double")
            / F.least("a_sz", "b_sz").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return out.select(
        "a_id", "b_id", "n_common", F.round("containment", 6).alias("containment")
    )


def ngram_containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Prefix-filtered CONTAINMENT join — same contract and output as
    :func:`ngram_containment_pairs`, but the candidate join is
    prefix × full-posting-list instead of full × full (the r10 closure
    of the containment family's scale path; the Jaccard family has had
    its ssjoin since r8).

    Asymmetric candidate rule: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t and
    S = the smaller set (m = |S|) force |A∩B| ≥ t·m, so if S's PREFIX —
    its m − ⌈t·m⌉ + 1 globally-rarest shingles — missed the other doc
    entirely, the intersection would fit inside S's ⌈t·m⌉ − 1-element
    suffix: contradiction.  Every qualifying pair therefore shares a
    shingle between SOME member's prefix and the other's full set, so
    candidates = prefix ⋈ full (normalized, distinct) — Σ(df_prefix ·
    df_full) work instead of Σdf², with the prefix side holding only
    the rare shingles.  Same 1e-9 ceil guard as the Jaccard prefix
    (a one-ulp-high t·l can only LENGTHEN a prefix — always safe).

    Verify is exact over the full distinct-shingle arrays, so results
    match the plain operator row-for-row (property-tested) and the
    same DuckDB oracle applies verbatim.  The max_df cap composes
    identically (capped-universe semantics, applied before sizes,
    prefixes, and verification alike)."""
    ex = _shingle_stream(df, id_col, text_col, n, hashed=hash_shingles).lineage_cut(
        eager=False
    )
    dfreq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        ex = ex.join(
            F.broadcast(dfreq.filter(F.col("_df") > max_df)), "_s", "left_anti"
        ).lineage_cut(eager=True)
        dfreq = dfreq.filter(F.col("_df") <= max_df)
    ranked = (
        ex.join(dfreq, "_s")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_s"))).alias("_arr"))
    ).lineage_cut(eager=True)
    l = F.size("_arr")
    plen = (
        l
        - F.ceil(F.lit(float(threshold)) * l.cast("double") - F.lit(1e-9)).cast("int")
        + 1
    )
    prefix = ranked.select(
        "_id",
        F.explode(
            F.slice(F.transform("_arr", lambda x: x["_s"]), 1, plen)
        ).alias("_s"),
    )
    cand = (
        prefix.alias("x")
        .join(ex.alias("y"), "_s")
        .filter(F.col("x._id") != F.col("y._id"))
        .select(
            F.least(F.col("x._id"), F.col("y._id")).alias("a_id"),
            F.greatest(F.col("x._id"), F.col("y._id")).alias("b_id"),
        )
        .distinct()
    )
    arrs = ranked.select(
        "_id", F.transform("_arr", lambda x: x["_s"]).alias("_sh")
    )
    sh_a = arrs.select(F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh"))
    sh_b = arrs.select(F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh"))
    verified = (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .withColumn("n_common", F.size(F.array_intersect("a_sh", "b_sh")).cast("long"))
        .withColumn(
            "containment",
            F.col("n_common").cast("double")
            / F.least(F.size("a_sh"), F.size("b_sh")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return verified.select(
        "a_id", "b_id", "n_common", F.round("containment", 6).alias("containment")
    )


def ngram_containment_pairs_adaptive(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Size-adaptive containment dispatch — the containment twin of
    :func:`ngram_jaccard_pairs_adaptive`: plain inverted index below
    :data:`PREFIX_JOIN_MIN_DOCS` docs (the prefix pipeline's fixed
    stage cost dominates small corpora), prefix × full ssjoin above
    (the 100 TB path).  Shares the same memoized size probe, same
    property-tested row-identical branch contract."""
    if rows_at_most(df, PREFIX_JOIN_MIN_DOCS - 1):
        return ngram_containment_pairs(
            df, id_col, text_col, n, threshold, max_df, hash_shingles
        )
    return ngram_containment_pairs_prefix(
        df, id_col, text_col, n, threshold, max_df, hash_shingles
    )


def _band_table(sigd: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, bh) LSH band table from a checkpointed
    (_id, _shh, _sig) frame (`_sig_shingles`) — the single definition of
    the banding scheme, shared by the full self-join operator and the
    incremental against-index path (so a stored index and a new batch
    can never band differently).

    All band keys in ONE explode/transform pass over the materialized
    signature. xxhash64 hashes the (int, array<long>) slice natively —
    no stringification; hash collisions across distinct slices only
    ADD candidates (exact-verified downstream), never drop."""
    r = num_hashes // bands
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sigd.select(
        "_id",
        F.explode(
            F.transform(
                band_idx,
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(bi, F.slice(F.col("_sig"), bi * r + 1, r)).alias("bh"),
                ),
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact shingle Jaccard
    (computed over the 64-bit-hashed shingle sets — exact up to xxhash64
    collisions, deterministically).

    Banding: signature split into `bands` rows of r=num_hashes/bands;
    docs sharing any band-hash become candidates (one shuffle on the
    band key); candidates verified before emit.

    max_bucket caps band-bucket size: a bucket of d docs yields d²/2
    candidate pairs, and massive buckets are near-exclusively exact-dup
    clusters (boilerplate, error pages) — a 2k-copy cluster alone
    produced 2M pairs. Oversized buckets are skipped; run exact_dedup
    first (one hash-aggregate) to collapse those clusters. Pairs missed
    by the cap are only those whose EVERY shared band is oversized —
    i.e. members of such clusters. None = no cap.
    """
    assert num_hashes % bands == 0
    # Checkpoint the HASHED shingle sets + signature in ONE cut
    # (`_sig_shingles`: one shuffle, fully codegen'd). ~8 bytes per
    # shingle + 512 bytes of signature per doc; the exact-verify
    # intersects long arrays. Verify Jaccard is exact up to xxhash64
    # collisions (~2^-64 per shingle pair — deterministic, and
    # identical-copy pairs are unaffected: equal sets hash to equal
    # sets, so the planted-recall twin stays exact). Lazy checkpoint:
    # materialized inside the first consuming job. The band table is a
    # cheap projection off the checkpoint — its two self-join sides
    # are identical plans, so the band shuffle is built once and
    # ReusedExchange'd.
    shh = _sig_shingles(df, id_col, text_col, n, num_hashes).lineage_cut(eager=False)

    banded = _band_table(shh, num_hashes, bands)

    if max_bucket is not None:
        over = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
        )
        banded = banded.join(F.broadcast(over), ["band", "bh"], "left_anti")

    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("a_id"), F.col("y._id").alias("b_id"))
        .distinct()
    )

    # exact verify on the candidate set only (hashed shingle sets)
    sh_a = shh.select(F.col("_id").alias("a_id"), F.col("_shh").alias("a_sh"))
    sh_b = shh.select(F.col("_id").alias("b_id"), F.col("_shh").alias("b_sh"))
    verified = (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
            / F.size(F.array_union("a_sh", "b_sh")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> dict[str, DataFrame]:
    """Persistent LSH index state for a corpus: the band table and the
    hashed shingle sets. In production both are written out bucketed —
    `banded` by (band, bh) and `shingles` by id — so each new batch
    joins them WITHOUT shuffling the stored corpus; the index grows by
    appending the new batch's rows. This is the pattern that makes
    near-dup maintenance O(batch), not O(100 TB re-LSH per refresh).
    """
    assert num_hashes % bands == 0
    shh = _sig_shingles(df, id_col, text_col, n, num_hashes).lineage_cut(eager=True)
    # stored shingle frame is (_id, _shh) ONLY: the signature is fully
    # encoded in the band table, so persisting _sig would just bloat
    # the index (and the store schema is a public contract —
    # `minhash_lsh_pairs_incremental` appends to it batch after batch)
    return {
        "banded": _band_table(shh, num_hashes, bands),
        "shingles": shh.select("_id", "_shh"),
        "family": LSH_FAMILY,
    }


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    index: dict[str, DataFrame],
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch, against a stored LSH index:
    new×stored candidates from one band equi-join against the index,
    new×new from the batch self-join — the stored corpus's text is
    never re-shingled and its band table never self-joined.

    Exactly equivalent to running the full operator on (stored ∪ new)
    and keeping the pairs with ≥1 new id (property-tested), provided
    the same (n, num_hashes, bands) as the index build. max_bucket caps
    by COMBINED bucket size (stored + new members), preserving the full
    operator's cap semantics; the count aggregate runs over the band
    tables (O(index), bucketed in production), never the raw text.

    Output ids are disambiguated by side: (a_id, b_id, jaccard) with
    a_id < b_id, each id appearing as it does in its source frame — id
    spaces must therefore be disjoint or shared consistently, same as
    the full operator.
    """
    assert num_hashes % bands == 0
    fam = index.get("family")
    if fam is None:
        warnings.warn(
            "minhash index carries no 'family' marker — assuming the "
            f"current shingle-hash family ({LSH_FAMILY}). An index "
            "persisted under an older family bands/verifies to ZERO "
            "candidates (silent false negatives); rebuild it with "
            "minhash_index if its provenance is uncertain.",
            RuntimeWarning,
            stacklevel=2,
        )
    elif fam != LSH_FAMILY:
        raise ValueError(
            f"minhash index shingle-hash family {fam!r} does not match "
            f"this build's {LSH_FAMILY!r} — rebuild the index with "
            "minhash_index (cross-family signatures never collide on "
            "equal content, so proceeding would silently miss all pairs)"
        )
    new_shh = _sig_shingles(new_df, id_col, text_col, n, num_hashes).lineage_cut(eager=True)
    new_banded = _band_table(new_shh, num_hashes, bands).lineage_cut(eager=True)
    stored_banded = index["banded"]

    all_banded = stored_banded.unionByName(new_banded)
    if max_bucket is not None:
        over = (
            all_banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
        )
        new_banded = new_banded.join(F.broadcast(over), ["band", "bh"], "left_anti")
        all_banded = all_banded.join(F.broadcast(over), ["band", "bh"], "left_anti")

    # one equi-join: new side probes (stored ∪ new); a<b dedups both
    # the new×new double-count and repeated shared bands
    cand = (
        new_banded.alias("x")
        .join(all_banded.alias("y"), ["band", "bh"])
        .filter(F.col("x._id") != F.col("y._id"))
        .select(
            F.least(F.col("x._id"), F.col("y._id")).alias("a_id"),
            F.greatest(F.col("x._id"), F.col("y._id")).alias("b_id"),
        )
        .distinct()
    )

    all_shh = index["shingles"].select("_id", "_shh").unionByName(
        new_shh.select("_id", "_shh")
    )
    sh_a = all_shh.select(F.col("_id").alias("a_id"), F.col("_shh").alias("a_sh"))
    sh_b = all_shh.select(F.col("_id").alias("b_id"), F.col("_shh").alias("b_sh"))
    verified = (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
            / F.size(F.array_union("a_sh", "b_sh")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def simhash64_df(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, simhash) — 64-bit SimHash per document, fully native.

    Explode tokens, hash once per token (xxhash64), then ONE hash
    aggregate with 64 conditional-sum columns (bit b of the token hash
    → ±1 vote); bit set in the output when the vote sum is positive.
    Map-side partial aggregation keeps the shuffle at one row per doc.
    """
    tok = df.select(
        F.col(id_col).alias("_id"), F.explode(ws_tokens(F.col(text_col))).alias("_t")
    ).withColumn("_h", F.xxhash64("_t"))
    votes = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"_b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return votes.select("_id", sim.alias("_sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ max_hamming via banding:
    split the 64-bit simhash into `bands` chunks; by pigeonhole any pair
    within distance < bands shares ≥1 exact chunk → block on chunks,
    verify Hamming exactly (bit_count(xor)).

    max_bucket: same giant-bucket cap as minhash_lsh_pairs — identical
    docs share every chunk, so exact-dup clusters explode the chunk
    join quadratically; collapse them with exact_dedup first."""
    sh = simhash64_df(df, id_col, text_col)
    width = 64 // bands
    chunk = lambda c, i: F.shiftright(c, i * width).bitwiseAND(F.lit((1 << width) - 1))
    banded = sh.select(
        "_id",
        "_sim",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), chunk(F.col("_sim"), i).alias("ch")) for i in range(bands)])
        ).alias("_b"),
    ).select("_id", "_sim", F.col("_b.band").alias("band"), F.col("_b.ch").alias("ch"))

    if max_bucket is not None:
        over = (
            banded.groupBy("band", "ch")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
        )
        banded = banded.join(F.broadcast(over), ["band", "ch"], "left_anti")

    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "ch"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("a_id"),
            F.col("y._id").alias("b_id"),
            F.bit_count(F.col("x._sim").bitwiseXOR(F.col("y._sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def neardup_canonical(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Collapse near-duplicate clusters, keeping the highest-quality
    member — the step a training-data pipeline runs after pair
    generation: pairs → connected components → per-cluster argmax on
    quality_score (ties to the smallest id).

    Returns one row per input doc: (doc_id, cluster_id, canonical_id,
    is_kept, quality_score). Filtering is_kept gives the deduplicated
    corpus; the full mapping supports lineage/audit.

    Scale shape: reuses the inverted-index pair generator (capped via
    max_df), the size-adaptive components kernel, and ONE window pass
    over the cluster partitioning — no joins beyond the cluster
    assignment itself. Quality scores are per-row arithmetic (no
    cross-row floats), so the argmax is engine-deterministic.
    """
    from pyspark.sql import Window

    from kg_etl_spark.operators.components import connected_components
    from kg_etl_spark.operators.textquality import quality_features

    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold, max_df)
    comp = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    q = quality_features(df).select(id_col, "quality_score")
    asg = q.join(comp.withColumnRenamed("node", id_col), id_col, "left").select(
        id_col,
        F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
        "quality_score",
    )
    w = Window.partitionBy("cluster_id")
    ordered = w.orderBy(F.col("quality_score").desc(), F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return asg.select(
        id_col,
        "cluster_id",
        F.first(F.col(id_col)).over(ordered).alias("canonical_id"),
        "quality_score",
    ).withColumn("is_kept", F.col(id_col) == F.col("canonical_id"))


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Prefix-filtered similarity join (ssjoin/PPJoin candidate rule):
    same contract and output as `ngram_jaccard_pairs`, but only each
    document's PREFIX — its (l − ⌈t·l⌉ + 1) globally-rarest shingles —
    enters the inverted-index self-join.

    Completeness: if J(A,B) ≥ t then |A∩B| ≥ t·max(|A|,|B|); two sets
    sharing NO prefix token intersect only in their suffixes, bounded
    by ⌈t·l⌉−1 < t·l — contradiction, so every qualifying pair shares
    a prefix token (Chaudhuri et al. 2006 / Xiao et al. 2008). The
    candidate join shrinks from Σdf² over ALL shingles to Σdf² over
    prefix shingles — and because prefixes keep the RAREST shingles
    (global df ascending, shingle text tie-break), exactly the
    low-df terms a max_df cap can't touch do the candidate generation.
    Guard: ⌈t·l⌉ computed as ceil(t·l − 1e-9) so a one-ulp-high t·l
    can never SHORTEN a prefix (longer prefixes are always safe).

    Verify is exact over the full distinct-shingle arrays, so results
    match `ngram_jaccard_pairs` row-for-row (property-tested) and the
    same DuckDB oracle applies verbatim.
    """
    sh = _shingled(df, id_col, text_col, n).lineage_cut(eager=True)
    ex = sh.select("_id", F.explode("_sh").alias("_s"))
    dfreq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        ex.join(dfreq, "_s")
        .groupBy("_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("_df", "_s"))).alias("_arr")
        )
    )
    l = F.size("_arr")
    plen = (
        l
        - F.ceil(F.lit(float(threshold)) * l.cast("double") - F.lit(1e-9)).cast("int")
        + 1
    )
    prefix = ranked.select(
        "_id",
        F.explode(
            F.slice(F.transform("_arr", lambda x: x["_s"]), 1, plen)
        ).alias("_s"),
    ).lineage_cut(eager=True)

    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "_s")
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("a_id"), F.col("y._id").alias("b_id"))
        .distinct()
    )
    sh_a = sh.select(F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh"))
    sh_b = sh.select(F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh"))
    verified = (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .withColumn("n_common", F.size(F.array_intersect("a_sh", "b_sh")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("a_sh") + F.size("b_sh") - F.col("n_common")).cast("double"),
        )
        .filter((F.col("n_common") > 0) & (F.col("jaccard") >= threshold))
    )
    return verified.select(
        "a_id", "b_id", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


# Doc-count crossover for the adaptive dispatch below.  The prefix
# variant carries a ~5 s fixed plan cost at ANY corpus size (df-rank
# join + per-doc prefix sort + ~8 extra stages — measured flat at
# sf0.1: plain 2.0 s vs prefix 7.5 s warm, and unchanged with lazy
# cuts, so it is stage overhead, not data).  The plain inverted index
# is Sigma(df^2) in candidates, which real crawl corpora blow past
# within ~10^5 docs of boilerplate-heavy text; below that the constant
# dominates and plain wins outright.
PREFIX_JOIN_MIN_DOCS = 100_000

def ngram_jaccard_pairs_adaptive(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Size-adaptive pair generator: the plain inverted-index join
    below :data:`PREFIX_JOIN_MIN_DOCS` documents (its Sigma(df^2)
    candidate cost is bounded at small corpus sizes and it carries
    none of the prefix pipeline's fixed stage cost), the
    prefix-filtered ssjoin above it (the 100 TB path: only each doc's
    rarest (l - ceil(t*l) + 1) shingles enter the candidate join).
    Both branches share one output contract and oracle — the prefix
    variant is property-tested row-identical to the plain join — so
    dispatch changes the PLAN, never the result.  Same pattern as the
    embedding near-dup size dispatch (operators/similarity.py).

    The dispatch probe (:func:`~kg_etl_spark.operators.util.rows_at_most`)
    runs AT MOST ONCE per source frame and counts at most
    :data:`PREFIX_JOIN_MIN_DOCS` rows (bench warmup + timed runs reuse
    it; a new frame object probes afresh)."""
    if rows_at_most(df, PREFIX_JOIN_MIN_DOCS - 1):
        return ngram_jaccard_pairs(df, id_col, text_col, n, threshold)
    return ngram_jaccard_pairs_prefix(df, id_col, text_col, n, threshold)


# --- Winnowing fingerprints (Schleimer, Wilkerson, Aiken; SIGMOD'03) ---


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection: hash every token k-gram, slide
    a w-hash window over the sequence, keep each window's minimum —
    rightmost on ties, the paper's "robust winnowing" — and emit the
    DISTINCT selected (position, hash) pairs per document.

    Guarantee (the paper's Thm. 1 shape): any shared token run of
    >= w + k − 1 tokens between two documents selects at least one
    common fingerprint — the property the MOSS detector and
    contamination scanners rely on, and what the pytest property
    check plants. Density is ~2/(w+1) of all k-grams.

    Reference parity: the reference's diagnostics fingerprint rows
    with md5 over normalized text (diagnostics/spotcheck.py); this is
    the positional/substring-robust member of that family, alongside
    MinHash (set overlap) and SimHash (Hamming).

    Determinism: selection depends only on xxhash64 values and
    positions; the rightmost-tie rule is encoded as min over
    (hash, −pos) structs — identical under any partitioning.

    100 TB shape: posexplode → ONE id-partitioned window pass (the
    same spread()-reused partitioning as _shingle_stream, so the
    k-gram build and BOTH window frames ride one shuffle) → distinct.
    Row-proportional; no self-join here (pairing is the caller's
    inverted index, winnowing_pairs)."""
    from pyspark.sql import Window

    d = spread(df, F.col(id_col))
    tok = d.select(
        F.col(id_col).alias("_id"),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_p", "_t"),
    )
    wo = Window.partitionBy("_id").orderBy("_p")
    leads = [F.col("_t")] + [F.lead("_t", j).over(wo) for j in range(1, k)]
    grams = (
        tok.select(
            "_id",
            "_p",
            F.xxhash64(F.concat_ws(" ", *leads)).alias("_h"),
            leads[-1].alias("_chk"),
        )
        .filter(F.col("_chk").isNotNull())
        .drop("_chk")
    )
    # sliding min over the NEXT w k-gram hashes: min(struct(h, -p))
    # picks the smallest hash, rightmost position on ties
    frame = wo.rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("_cnt", F.count(F.lit(1)).over(frame))
        .withColumn("_m", F.min(F.struct(F.col("_h"), (-F.col("_p")).alias("_np"))).over(frame))
        .filter(F.col("_cnt") == w)  # complete windows only
        .select("_id", (-F.col("_m._np")).alias("fp_pos"), F.col("_m._h").alias("fp_hash"))
        .distinct()
    )
    return sel


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs by winnowing-fingerprint overlap ratio
    |F_A ∩ F_B| / |F_A ∪ F_B| >= threshold (fingerprint sets compare
    on hash VALUE — positions localize matches but do not gate them,
    per the MOSS ranking step).

    100 TB shape: the same inverted-index discipline as
    ngram_jaccard_pairs — explode fingerprints, equi-join on the
    8-byte hash, count per pair; max_df caps boilerplate fingerprints
    (d docs sharing one fingerprint yield d² candidate rows)."""
    fps = (
        winnowing_fingerprints(df, id_col, text_col, k=k, w=w)
        .select("_id", "fp_hash")
        .distinct()
        .lineage_cut(eager=False)
    )
    if max_df is not None:
        hot = fps.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("_df")).filter(
            F.col("_df") > max_df
        )
        fps = fps.join(F.broadcast(hot), "fp_hash", "left_anti").lineage_cut(
            eager=True
        )
    sizes = fps.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = fps.select(F.col("_id").alias("a_id"), "fp_hash")
    b = fps.select(F.col("_id").alias("b_id"), "fp_hash")
    common = (
        a.join(b, "fp_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("_id").alias("a_id"), F.col("_sz").alias("a_sz")), "a_id")
        .join(sizes.select(F.col("_id").alias("b_id"), F.col("_sz").alias("b_sz")), "b_id")
        .withColumn(
            "ratio",
            F.col("n_common").cast("double")
            / (F.col("a_sz") + F.col("b_sz") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("ratio") >= threshold)
        .select("a_id", "b_id", "n_common", F.round("ratio", 6).alias("ratio"))
    )
