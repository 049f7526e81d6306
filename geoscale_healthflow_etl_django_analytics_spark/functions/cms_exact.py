"""Count-Min sketch on CROSS-ENGINE md5 buckets — mergeable
heavy-hitter counting for streams/corpora too wide to count exactly,
with a full DuckDB value oracle.

The sketch state is a CONSTANT-size table — ``depth x width`` cells
regardless of corpus size — built with one map-side-combinable
``groupBy().count()`` and collapsed to a one-row ``map<long,long>``
for scalar composition.  Guarantees (Cormode & Muthukrishnan 2005): a
point estimate NEVER underestimates (every cell the token hashes to
counted every one of its occurrences), and overestimates by more than
``e/width * N`` with probability at most ``e^-depth`` (N = total
stream weight).  Per-partition sketches merge by cell-wise addition
(the groupBy does exactly that), which is what the sketch buys at
100 TB: a long-running ingest (``streaming/sketch_stream.py``) can
maintain heavy-hitter counts without ever holding the distinct-token
set anywhere.

Buckets come from md5 (bit-for-bit identical in Spark, DuckDB,
Postgres, Trino) and every reduction is exact-integer — the
``functions/hll.py`` pattern — so cells, estimates and bounds ALL
replay and the correctness gate is a value hash, not a bound check.
JVM ``xxhash64`` buckets, which no other engine reproduces, would
leave only a probabilistic error-bound check.

Bucket derivation — and its cost discipline: ONE ``md5_int60`` per
token (one md5 + one hex parse, the HLL's exact per-row price), then
row ``i``'s bucket is the ``i``-th disjoint 11-bit slice
``(h >> (11 * i)) & (width - 1)`` — shifts and masks are free next
to the hash.  (A first cut evaluated four separate md5+conv chains
per token — common-subexpression elimination does not reach across
the probe-array elements — and measured 9.6x the xxhash tier at
x200; this form measures at the HLL's cost.)  DuckDB replay per row:
``(('0x' || substr(md5(token), 1, 15))::BIGINT >> (11*i)) & (width-1)``.
Structural constraint: ``depth * log2(width) <= 60`` (4 x 11 = 44
bits used here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_int60

CMS_DEPTH = 4
CMS_WIDTH = 2048  # eps = e/width ~ 0.00133 -> overestimate <= 0.133% of N
_BITS = CMS_WIDTH.bit_length() - 1  # 11 hash bits per row, 44 of 60 in all


def _bucket_from_h(h: Column, i: int) -> Column:
    """Row-i bucket: the i-th disjoint ``_BITS``-bit slice of the
    per-token 60-bit hash — shift + mask, no extra hashing."""
    return F.shiftright(h, _BITS * i).bitwiseAND(F.lit(CMS_WIDTH - 1))


def cms_sketch(tokens: DataFrame) -> DataFrame:
    """ONE-row DataFrame ``(cms: map<long,long>, n_total: long)`` —
    the packed md5-bucket sketch over the ``token`` column of every
    row of ``tokens``.  Cell key is the flat address
    ``i * CMS_WIDTH + bucket``; ``n_total`` (the
    stream length N in the error bound) falls out of row 0's cells.
    The hash is BOUND as its own projection so the md5+parse runs
    once per row, not once per probe row."""
    hashed = tokens.select(md5_int60(F.col("token")).alias("h"))
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _bucket_from_h(F.col("h"), i).alias("b"),
                )
                for i in range(CMS_DEPTH)
            ]
        )
    )
    cells = (
        hashed.select(probes.alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    key = F.col("i").cast("long") * CMS_WIDTH + F.col("b").cast("long")
    return cells.agg(
        F.map_from_arrays(
            F.collect_list(key), F.collect_list("cnt")
        ).alias("cms"),
        F.sum(F.when(F.col("i") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_total"),
    )


def cms_estimate(token: Column, cms: Column) -> Column:
    """Point estimate: min over rows of the token's cell — the classic
    CM estimator; missing cells read 0 (a never-seen token estimates
    0, which is correct, not an underestimate)."""
    h = md5_int60(token)
    return F.least(
        *[
            F.coalesce(
                F.element_at(
                    cms,
                    F.lit(i * CMS_WIDTH).cast("long")
                    + _bucket_from_h(h, i).cast("long"),
                ),
                F.lit(0).cast("long"),
            )
            for i in range(CMS_DEPTH)
        ]
    )
