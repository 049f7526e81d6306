"""Data-layout helpers: Z-order (Morton) interleaving for
multi-dimensional locality.

The 100 TB story: sorting files by a Morton code of (x, y) makes 2-D
range predicates touch a near-minimal set of parquet row groups
(min/max stats cover compact z-ranges), the same technique behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``. The interleave is pure integer
bit arithmetic, expressed both as a Column (JVM codegen) and as an
ANSI-SQL string so the DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .hashing import md5_int60


def z_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton code of two non-negative ints < 2**bits: bit i of x
    lands at position 2i, bit i of y at 2i+1."""
    acc: Column = F.lit(0).cast("long")
    xl, yl = x.cast("long"), y.cast("long")
    for i in range(bits):
        acc = acc + F.shiftleft(
            F.shiftright(xl, i).bitwiseAND(F.lit(1)), 2 * i
        ) + F.shiftleft(F.shiftright(yl, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return acc


def z_value_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical Morton code as an ANSI-SQL expression (DuckDB
    bit operators) — generated from the same loop so the two engines
    cannot drift."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def write_zordered(
    df: DataFrame, path: str, x: str, y: str, n_files: int = 8, bits: int = 16
) -> None:
    """Layout writer: range-partition by the Morton code, sort within
    each partition, write parquet — every file covers one compact
    z-range, so parquet row-group min/max stats prune 2-D box queries
    down to the files whose z-interval intersects the box's z-range."""
    with_z = df.withColumn("__z", z_value(F.col(x), F.col(y), bits))
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Deterministic training-export shuffle
# ---------------------------------------------------------------------------


def export_shuffle_hash(key: Column, seed: str = "epoch0") -> Column:
    """The permutation key of the export shuffle: a uniform integer in
    [0, 2^60) from ``md5(seed || ':' || key)``.  Seeding the hash (not
    an RNG) makes every epoch's global order a pure function of
    (seed, key): re-runs, retries, and independent engines all agree,
    and a new epoch is just a new seed string with the identical plan.
    DuckDB replay: ``('0x' || substr(md5(seed || ':' || key), 1,
    15))::BIGINT`` (see functions/hashing.py)."""
    return md5_int60(F.concat(F.lit(seed + ":"), key.cast("string")))


def export_shuffle_assignment(
    df: DataFrame,
    num_shards: int = 16,
    seed: str = "epoch0",
) -> DataFrame:
    """Deterministic global shuffle for training-data export: assign
    every ``doc_id`` a ``(shard, pos)`` under the md5 permutation of
    :func:`export_shuffle_hash` — ``shard = h % num_shards`` and
    ``pos`` = the row's rank within its shard ordered by ``(h, key)``
    (the key tiebreak keeps the order total even under a hash
    collision).  Reading the shards in any order, each sequentially,
    replays a uniform pseudo-random permutation of the corpus — the
    property sequence-training pipelines need from their final
    export, without ever materializing a global sort.

    Scale shape: ONE hash exchange on ``shard`` and a per-shard local
    sort — no global ordering, no driver involvement, and skew-free
    by construction (md5 spreads keys uniformly, so shard sizes
    concentrate at n/num_shards).  Size ``num_shards`` to at least
    the cluster's write parallelism at 100 TB; at any size the plan
    is the same Exchange + Sort + Window.
    """
    h = export_shuffle_hash(F.col("doc_id"), seed)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        df.select(F.col("doc_id"), h.alias("h"))
        .withColumn("shard", F.col("h") % num_shards)
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    num_shards: int = 16,
) -> None:
    """Materialize the export shuffle: one parquet directory per
    shard (``shard=N/``), rows inside each file sorted by the
    permutation hash (seed ``epoch0``).  ``repartition(num_shards,
    shard)`` bounds the
    task count; ``partitionBy`` splits any hash-co-located shards
    into their own directories; ``sortWithinPartitions(shard, h,
    doc_id)`` keeps every output file in permutation order."""
    keyed = df.select(
        "*", export_shuffle_hash(F.col("doc_id"), "epoch0").alias("__h")
    ).withColumn("__shard", F.col("__h") % num_shards)
    (
        keyed.repartition(num_shards, "__shard")
        .sortWithinPartitions("__shard", "__h", "doc_id")
        .write.mode("overwrite")
        .partitionBy("__shard")
        .parquet(path)
    )
