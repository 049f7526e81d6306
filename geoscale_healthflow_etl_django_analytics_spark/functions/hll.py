"""HyperLogLog distinct-count sketch (Flajolet et al. 2007).

The cardinality companion of the Count-Min sketch
(``functions/cms_exact.py``); both hash with md5 so Spark and DuckDB
agree bit for bit.  See the block comment below for the design
contract (full value oracle via md5-derived hashes + integer-exact
harmonic reduction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# HyperLogLog — mergeable distinct-count sketch (Flajolet et al. 2007),
# the cardinality complement of the CMS.  Like the CMS, the HLL here is
# built on the md5-derived 60-bit hash (functions/hashing.md5_int60)
# that Spark and DuckDB agree on bit-for-bit, and its register
# reduction is kept as an EXACT INTEGER (sum of 2^(RHO_MAX - M_j) as
# BIGINT — every term a
# power of two, so the sum is associative and partitioning-independent)
# — which means the ENTIRE sketch, estimate included, replays in ANSI
# SQL and is value-hash-checked, not just bound-checked.
#
# Spark plan shape: one explode -> one map-side-combinable
# groupBy(register).max(rho) over exactly HLL_M=1024 groups -> a
# one-row scalar reduction.  CONSTANT state at any corpus size; two
# sketches merge by cell-wise max (the groupBy does exactly that),
# which is what buys streaming / pre-aggregated distinct counts at
# 100 TB where count(DISTINCT token) is a full shuffle of the token
# set.
# --------------------------------------------------------------------------

HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers -> sigma ~ 1.04/sqrt(m) = 3.25%
HLL_W = 60 - HLL_P  # bits left for the rank after the register index
HLL_RHO_MAX = HLL_W + 1  # max rank (all-zero remainder); also the scale exp
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # published bias constant, m>=128
# alpha * m^2 * 2^RHO_MAX, folded to ONE double literal so both engines
# divide the identical numerator (no cross-engine constant-fold order).
HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_RHO_MAX)
HLL_LINEAR_THRESHOLD = 2.5 * HLL_M  # below this, linear counting is better


def hll_registers(tokens: DataFrame, token_col: str = "token") -> DataFrame:
    """The HLL register table ``(j, mj)`` over every row of ``tokens``
    — at most HLL_M rows regardless of input size.  Duplicate tokens
    are free (max of an identical rank); the register index is the low
    HLL_P hash bits, the rank is "leading zeros in the remaining
    HLL_W bits, plus 1", computed exactly in BOTH engines as
    ``RHO_MAX - bitlength(remainder)`` via binary-string length (an
    all-zero remainder trims to '' -> bitlength 0 -> rank RHO_MAX).
    Merging two register tables = unionByName + this same groupBy.
    """
    from .hashing import md5_int60

    h = md5_int60(F.col(token_col))
    return (
        tokens.select(
            h.bitwiseAND(F.lit(HLL_M - 1)).alias("j"),
            F.shiftright(h, HLL_P).alias("rem"),
        )
        .select(
            "j",
            (
                F.lit(HLL_RHO_MAX)
                - F.expr("length(trim(LEADING '0' FROM bin(rem)))")
            ).alias("rho"),
        )
        .groupBy("j")
        .agg(F.max("rho").alias("mj"))
    )


def hll_summary(registers: DataFrame) -> DataFrame:
    """ONE-row estimate frame from a register table:
    ``(seen_registers, zero_registers, register_sum,
    used_linear_counting, hll_estimate)``.

    ``register_sum`` is the integer-exact harmonic reduction
    ``sum_j 2^(RHO_MAX - M_j)`` over ALL m registers (empty register
    -> M_j = 0 -> 2^RHO_MAX), max m * 2^RHO_MAX = 2^61 — inside
    signed-64 in both engines and immune to aggregation order.  The
    raw estimate is then the single double division
    ``HLL_NUMER / register_sum``; the small-range regime (raw <= 2.5m
    with empty registers) switches to linear counting
    ``m * ln(m / V)`` per the published algorithm.  Rounded to 6
    decimals with the fround discipline so the oracle replay is
    value-exact.
    """
    from .exact import fround

    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RHO_MAX} - mj AS INT))"
    )
    # an EMPTY register table (zero-token corpus) aggregates to
    # count=0 / sum=NULL: coalesce the sum to 0 so the harmonic
    # reduction stays defined (ADVICE r9 #6).  The v == HLL_M case
    # then flows through the linear-counting branch to EXACTLY 0.0 in
    # both engines — m * ln(m / m) with m/m exactly 1.0 — so no extra
    # branch is needed; mirrored in registry._hll_oracle.
    agg = registers.agg(
        F.count("*").alias("seen_registers"),
        F.coalesce(F.sum(term), F.lit(0).cast("long")).alias("s_seen"),
    )
    v = F.lit(HLL_M) - F.col("seen_registers")
    s_all = F.col("s_seen") + v.cast("long") * F.lit(1 << HLL_RHO_MAX)
    raw = F.lit(HLL_NUMER) / s_all.cast("double")
    linear = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double"))
    # multiplicative form of "raw <= threshold" — both engines compare
    # an exactly-evaluated product instead of a rounded quotient, so
    # the regime switch can never straddle a division ulp.
    use_lin = (
        F.lit(HLL_NUMER) <= F.lit(HLL_LINEAR_THRESHOLD) * s_all.cast("double")
    ) & (v > 0)
    return agg.select(
        F.col("seen_registers").cast("long").alias("seen_registers"),
        v.cast("long").alias("zero_registers"),
        s_all.cast("long").alias("register_sum"),
        use_lin.alias("used_linear_counting"),
        fround(F.when(use_lin, linear).otherwise(raw), 6).alias(
            "hll_estimate"
        ),
    )
