"""Mergeable-sketch primitives, shared by the batch sketch plans
(plans/event_plans.py: d3_countmin_heavy_hitters, d2b_hll_md5,
d4_bloom_md5, d5_kmv_distinct) and the streaming twin
(streaming/ops.streaming_countmin_sketch).

Two deterministic hash disciplines, chosen so BOTH engines (Spark and
the DuckDB oracle) evaluate the sketch exactly:

- the affine-modular family ``(a·key + b) mod P mod W`` — integer
  multiply/add/mod only (count-min rows, Bloom bit positions);
- the portable md5-60-bit family
  ``conv(substr(md5(key),1,15),16,10)`` (HLL register updates, KMV
  bottom-k), the same family the dedup/minhash twins use
  (operators/dedup.py:md5_60bit_hash).

That determinism is what buys each sketch a full value-hash oracle —
rare for sketch code, whose production forms (approx_count_distinct,
percentile_approx) are engine-specific by construction. One definition
here keeps the consumers and the oracle SQL in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_P = 2147483647  # 2^31 - 1 (Mersenne prime)
CMS_HASHES = ((2654435761, 1), (40503, 977), (69069, 7919), (1103515245, 12345))
CMS_W = 64


def cms_bucket(key: Column, a: Column, b: Column) -> Column:
    """Row-``i`` bucket of ``key``: ((key·a + b) mod P) mod W."""
    return (key * a + b) % CMS_P % CMS_W


def cms_hash_dim(df_or_spark) -> DataFrame:
    """The d-row hash dimension (i, a, b) — constant broadcast fan-out."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(CMS_HASHES)], "i int, a long, b long"
    )


# HyperLogLog geometry (Flajolet et al., AofA'07): p=8 → m=256
# registers over the md5-60-bit hash. bucket = h mod 256; the register
# value is ρ(w) for the remaining 52-bit word w, here the
# Flajolet–Martin-style LSB rank (index of the lowest set bit + 1; 53
# caps the w=0 word) — same geometric law as the leading-zero form.
# The harmonic term 2^(53-ρ) is computed WITHOUT floats or a rank
# lookup: lsb(w) = w & -w = 2^(ρ-1), so 2^(53-ρ) = 2^52 / lsb(w)
# exactly, and a register's max-ρ is its max-lsb. Σ over 256 registers
# ≤ 256·2^53 = 2^61 — exact in int64.
HLL_TWO52 = 1 << 52
HLL_TWO53 = 1 << 53
#: α_m·m²·2^53 for m=256 written as the literal expression BOTH engines
#: evaluate: every step is IEEE-correctly-rounded on identical doubles,
#: so the raw estimate α·m²/Σ2^-M is bit-identical across engines.
#: Exponent notation is load-bearing: a bare ``0.7213`` parses as
#: DECIMAL in DuckDB (and Spark), whose division rounds differently
#: from IEEE double — ``0.7213e0`` parses as DOUBLE in both.
HLL_ALPHA_NUM_SQL = (
    "(0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)) * 65536.0e0 * 9007199254740992.0e0"
)

# Bloom filter geometry: k=4 affine-modular hash rows (the CMS family,
# reused) over m=2^14 bits. A Bloom's m is ALWAYS sized to the expected
# build cardinality (m ≈ -n·ln(p)/ln(2)² for target FPR p); here the
# build side is the distinct custkeys of one order-month (n≈1.8k at
# sf0.1) → kn/m≈0.44 → FPR=(1-e^(-kn/m))^4 ≈ 1.5%, small enough to
# prune ~87% of the probe yet large enough that the measured-fpr column
# is nonzero at the bench SF (the measurement surface stays exercised).
# At fleet scale the same rule scales m with n; the bit table remains a
# kilobytes-scale broadcast either way.
BLOOM_M = 16384

# KMV / bottom-k geometry: the k smallest DISTINCT md5-60-bit hashes.
# Unbiased estimator n̂ = (k-1)·2^60 / h_(k) (Bar-Yossef et al.,
# RANDOM'02); below k distinct hashes the sample IS the key set and the
# count is exact. (k-1)·2^60 = 63·2^60 has a 6-bit mantissa — exact as
# a double — and the one division is IEEE-correctly-rounded, so the
# estimate is bit-identical across engines.
KMV_K = 64


def hll_registers(df: DataFrame, key: Column, group_cols: tuple = ("event_type",)) -> DataFrame:
    """The ≤256-row HLL register table ``(group..., bucket, lsbmax)``
    per group — fixed-size however many keys stream through, and
    MERGEABLE by ``max(lsbmax)`` (register-wise max is associative and
    idempotent), which is what lets daily/per-partition partials roll
    up without recompute (d2c) and the same groupBy run as a bounded-
    state streaming aggregation (streaming/ops.streaming_hll_registers).
    ``lsbmax`` encodes the register value ρ exactly as lsb = 2^(ρ-1);
    the harmonic term is recovered as the exact integer 2^52/lsbmax.
    """
    from the_framework_for_clustering_time_series_data_spark.operators.dedup import md5_60bit_hash

    base = df.select(*group_cols, md5_60bit_hash(key).alias("h")).select(
        *group_cols,
        F.expr("h % 256").alias("bucket"),
        F.expr("h div 256").alias("w"),
    )
    return base.groupBy(*group_cols, "bucket").agg(
        F.max(
            F.expr(f"CASE WHEN w = 0 THEN {HLL_TWO52}L ELSE w & (-w) END")
        ).alias("lsbmax")
    )


def hll_sketch_agg(regs: DataFrame, group_cols: tuple = ("event_type",)) -> DataFrame:
    """Fold a register table to ``(group..., s_harmonic, v_zero)`` —
    exact int64 (Σ ≤ 256·2^53 = 2^61 structurally, independent of data
    scale; exempt from the decimal(38,0) micro-unit discipline)."""
    return regs.groupBy(*group_cols).agg(
        (
            F.sum(F.expr(f"{HLL_TWO52}L div lsbmax"))
            + (F.lit(256) - F.count("*")) * F.lit(HLL_TWO53)
        ).alias("s_harmonic"),
        (F.lit(256) - F.count("*")).cast("long").alias("v_zero"),
    )


def hll_estimate_sql(s: str = "s_harmonic", v: str = "v_zero") -> str:
    """The estimate expression BOTH engines evaluate on the folded
    sketch: raw α·m²/Σ2^-M with the small-range linear-counting branch
    (E ≤ 2.5m, V > 0) — the latter is the one transcendental (ln);
    everything else is IEEE-exact on identical literals."""
    raw = f"{HLL_ALPHA_NUM_SQL} / CAST({s} AS DOUBLE)"
    return (
        f"CASE WHEN {raw} <= 640.0e0 AND {v} > 0 "
        f"THEN 256.0e0 * ln(256.0e0 / {v}) ELSE {raw} END"
    )


def bloom_pos(key: Column, a: Column, b: Column) -> Column:
    """Row-``i`` bit position of ``key``: ((key·a + b) mod P) mod m —
    the CMS affine family with the Bloom modulus."""
    return (key * a + b) % CMS_P % BLOOM_M


def cms_sketch(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The d×w counter table ``(row_i, bucket, c)`` in one aggregate
    pass — d·w is a CONSTANT (256 counters), independent of key
    cardinality, so as a streaming aggregation its state never grows
    (the fixed-size mergeable-summary property that makes sketches the
    canonical unbounded-stream statistic). Works identically on batch
    and streaming frames."""
    hashes = cms_hash_dim(df)
    bucket = cms_bucket(F.col(key_col), F.col("a"), F.col("b"))
    return (
        df.select(F.col(key_col))
        .crossJoin(F.broadcast(hashes))
        .groupBy(F.col("i").alias("row_i"), bucket.alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
