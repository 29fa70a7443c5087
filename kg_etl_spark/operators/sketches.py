"""From-scratch probabilistic sketches on pure cross-engine integer
arithmetic: Count-Min (heavy hitters), HyperLogLog (distinct counts),
and a Johnson-Lindenstrauss ±1 random projection (embedding compaction).

Spark's built-ins (`approx_count_distinct`, datasketches functions) are
engine-specific black boxes — correct but unverifiable against an
external oracle. These implementations use deterministic multiplicative
hashing (`(k*A + B) mod 2^32`, odd constants, mid-bit extraction) so
every register/bucket/sign is reproducible bit-exactly in ANSI SQL:
the WHOLE sketch, not just its API, gets a value-hash CORRECTNESS row.

Scale shapes:
- Count-Min: d·1 fixed-size aggregate rows — one map-side-combined
  shuffle whose output is the SKETCH SIZE (d×w rows), not the data.
- HLL: m registers per group via one max-aggregate — same property.
- JL projection: zero-shuffle map-side fold per vector.

All intermediates stay below 2^63 (ids reduced mod 2^32 before the
multiply), so ANSI-mode Spark 4 and DuckDB both evaluate them without
overflow (same discipline as `datapipe.knuth_h32`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_M32 = 4_294_967_296
# Distinct odd multiplicative constants per CMS row (Knuth's plus
# odd-prime variants) — odd so the map is a bijection mod 2^32.
_CMS_A = [2654435761, 2246822519, 3266489917, 668265263]
_CMS_B = [40503, 104729, 65537, 98897]


def _h32(key: Column, a: int, b: int) -> Column:
    """((key mod 2^32) * a + b) mod 2^32 without 64-bit overflow:
    16-bit split exactly like `datapipe.knuth_h32` (a < 2^32, so every
    intermediate stays under 2^49)."""
    x = F.pmod(key.cast("long"), F.lit(_M32))
    hi = F.shiftright(x, 16)
    lo = x.bitwiseAND(F.lit(0xFFFF))
    return F.pmod(
        F.pmod(hi * F.lit(a), F.lit(65536)) * F.lit(65536) + lo * F.lit(a) + F.lit(b),
        F.lit(_M32),
    )


def cms_build(
    df: DataFrame, key_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Count-Min sketch of key frequencies: d hash rows × w buckets.
    Returns (row, bucket, cnt) — d·w cells max; one aggregate whose
    map-side partials make the shuffle O(d·w) per input partition
    regardless of data size."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(
                            _h32(F.col(key_col), _CMS_A[j], _CMS_B[j]), F.lit(w)
                        ).alias("bucket"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("_rb")
    )  # ONE scan: d cells per input row, exploded map-side
    return cells.select("_rb.row", "_rb.bucket").groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    df: DataFrame, keys: DataFrame, key_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Point-query the sketch for each key in `keys`: the classic
    min-over-rows estimate (never underestimates). The sketch is tiny
    (d·w cells) and broadcast to the keys."""
    sketch = cms_build(df, key_col, d=d, w=w)
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(
                            _h32(F.col(key_col), _CMS_A[j], _CMS_B[j]), F.lit(w)
                        ).alias("bucket"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("_rb"),
    ).select(key_col, "_rb.row", "_rb.bucket")  # one frame, d rows per key
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("cms_estimate"))
    )


def hll_rho_projection(
    df: DataFrame, group_col: str, key_col: str, m: int = 64
) -> DataFrame:
    """Map-side half of HLL: (group, reg, rho) per input row — integer
    arithmetic + the cross-engine `bin()` trick for the leading-zero
    rank: rho = strpos(lpad(bin(rest), nbits, '0'), '1'). Registers are
    MAX-mergeable, so this same projection feeds batch aggregation
    and sketch-union across shards identically."""
    import math

    h = _h32(F.col(key_col), _CMS_A[0], _CMS_B[0])
    idx = F.pmod(h, F.lit(m))
    rest = F.floor(h.bitwiseAND(F.lit(_M32 - 1)) / F.lit(m)).cast("long")
    nbits = 32 - int(math.log2(m))
    rho = F.when(rest > 0, F.instr(F.lpad(F.bin(rest), nbits, "0"), "1")).otherwise(
        F.lit(nbits + 1)
    )
    return df.select(F.col(group_col), idx.alias("reg"), rho.alias("rho"))


def hll_estimate_from_registers(
    regs: DataFrame, group_col: str, m: int = 64
) -> DataFrame:
    """Finalize (group, reg, mx) register maxima into the HLL estimate:
    bias-corrected harmonic mean with the small-range linear-counting
    correction. Returns (group, hll_estimate, n_registers_hit)."""
    alpha = 0.709  # alpha_64 (Flajolet et al. 2007)
    # 2^-rho for rho ≤ 27 is an exact 27-digit decimal fraction, so the
    # harmonic sum runs in DECIMAL(38,30) — order-independent across
    # partitions (the catalog determinism contract), cast double only
    # for the final division.
    est = (
        regs.groupBy(group_col)
        .agg(
            F.sum(F.pow(F.lit(2.0), -F.col("mx")).cast("decimal(38,30)")).alias("_s"),
            F.count(F.lit(1)).alias("n_registers_hit"),
        )
        .select(
            group_col,
            "n_registers_hit",
            (
                F.lit(alpha * m * m)
                / (F.col("_s").cast("double") + F.lit(float(m)) - F.col("n_registers_hit"))
            ).alias("_raw"),
        )
    )
    # Small-range correction: if raw < 2.5m and there are empty
    # registers, use linear counting m*ln(m/zeros).
    zeros = F.lit(m) - F.col("n_registers_hit")
    corrected = F.when(
        (F.col("_raw") < 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(F.col("_raw"))
    return est.select(
        group_col,
        F.round(corrected, 6).alias("hll_estimate"),
        F.col("n_registers_hit").cast("long").alias("n_registers_hit"),
    )


def hll_distinct(
    df: DataFrame, group_col: str, key_col: str, m: int = 64
) -> DataFrame:
    """HyperLogLog distinct-count per group with m registers (m a power
    of two, default 64 → ~13% standard error): one max-aggregate per
    (group, register) — m rows per group — then the harmonic-mean
    finalize. Composition of `hll_rho_projection` +
    `hll_estimate_from_registers` (split so sketch-union paths reuse
    the identical arithmetic)."""
    regs = (
        hll_rho_projection(df, group_col, key_col, m=m)
        .groupBy(group_col, "reg")
        .agg(F.max("rho").alias("mx"))
    )
    return hll_estimate_from_registers(regs, group_col, m=m)


def jl_project(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_in: int = 64,
    d_out: int = 16,
) -> DataFrame:
    """±1 Johnson-Lindenstrauss projection (Achlioptas 2003): each
    output dim j is Σ_i v_i·s_ij / √d_out with s_ij ∈ {±1} drawn from
    the deterministic hash bit ((i·A + j·B) mod 2^32) bit 8 — a mid
    bit, so the sign matrix is well mixed even though A is odd.

    Zero-shuffle: the fold runs map-side inside one projection; output
    long form (id, out_dim, value) so the oracle hashes every cell.
    """
    a, b = _CMS_A[0], _CMS_B[1]

    def sign(i: Column, j: Column) -> Column:
        mixed = F.pmod(i * F.lit(a) + j * F.lit(b), F.lit(_M32))
        bit = F.shiftright(mixed, 8).bitwiseAND(F.lit(1))
        return F.when(bit == 1, F.lit(1.0)).otherwise(F.lit(-1.0))

    scale = 1.0 / (d_out ** 0.5)
    j_col = F.explode(F.sequence(F.lit(0), F.lit(d_out - 1))).alias("out_dim")
    rows = emb.select(F.col(id_col), F.col(vec_col).alias("_v"), j_col)
    val = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.sequence(F.lit(0), F.lit(d_in - 1)),
            lambda v, i: v.cast("double") * sign(i, F.col("out_dim")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) * F.lit(scale)
    return rows.select(
        id_col,
        F.col("out_dim").cast("long").alias("out_dim"),
        F.round(val, 6).alias("value"),
    )


def hll_overlap(
    a: DataFrame, b: DataFrame, key_col: str, m: int = 64
) -> DataFrame:
    """HLL set algebra: estimate |A|, |B|, |A∪B| (register-wise max —
    the union of two HLLs IS the elementwise max, exactly), and
    |A∩B| by inclusion-exclusion; plus the Jaccard estimate. The
    standard trick for audience-overlap / join-cardinality estimation
    without materializing either set.

    All inputs reduce to m-row register frames before any join, so the
    combine cost is O(m) regardless of set sizes."""
    one = F.lit(1).alias("_g")

    def regs(df: DataFrame) -> DataFrame:
        return (
            hll_rho_projection(df.select(one, F.col(key_col)), "_g", key_col, m=m)
            .groupBy("_g", "reg")
            .agg(F.max("rho").alias("mx"))
        )

    ra, rb = regs(a), regs(b)
    ru = ra.unionByName(rb).groupBy("_g", "reg").agg(F.max("mx").alias("mx"))
    ea = hll_estimate_from_registers(ra, "_g", m=m).select(
        F.col("hll_estimate").alias("est_a")
    )
    eb = hll_estimate_from_registers(rb, "_g", m=m).select(
        F.col("hll_estimate").alias("est_b")
    )
    eu = hll_estimate_from_registers(ru, "_g", m=m).select(
        F.col("hll_estimate").alias("est_union")
    )
    out = ea.crossJoin(eb).crossJoin(eu)
    inter = F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 6)
    return out.select(
        "est_a",
        "est_b",
        "est_union",
        inter.alias("est_intersection"),
        F.round(inter / F.col("est_union"), 6).alias("jaccard_est"),
    )


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches:
    |A ⋈ B| ≈ min over hash rows of Σ_bucket cntA·cntB — the AGMS-style
    inner product (never underestimates; overestimate bounded by
    |A|·|B|/w per row, driven down by the min over d rows).

    Why at 100 TB: the optimizer-style "should I broadcast / how many
    output rows" question answered WITHOUT running the join — each side
    reduces to d·w cells (one map-side-combined aggregate per side,
    O(d·w) shuffle), and the estimate is a d·w-row join of two tiny
    frames. Deterministic hash family → the estimate itself is
    reproducible arithmetic, so it gets a full value-hash oracle (the
    cms_heavy_hitters discipline), plus an error-bound test vs the
    exact join count.

    Output: 1 row (est_join_size, d, w).
    """
    sa = cms_build(left, left_key, d=d, w=w)
    sb = cms_build(right, right_key, d=d, w=w)
    prod = (
        sa.alias("a")
        .join(sb.alias("b"), ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("ip"))
    )
    return prod.agg(
        F.min("ip").cast("long").alias("est_join_size"),
        F.lit(d).cast("long").alias("d"),
        F.lit(w).cast("long").alias("w"),
    )
