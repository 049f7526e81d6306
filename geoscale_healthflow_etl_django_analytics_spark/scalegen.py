"""Deterministic scale-corpus generator for scale-curve benchmarking.

VERDICT r4 "Next round" #1: sf0.1 (~17 MB) is the largest driver-provided
corpus, so every heavy operator's 100 TB claim rested on plan shape.
This module extends the ``pixel_grid_par`` synthetic-data technique to
the ``documents`` / ``embeddings`` / ``events`` tables so the heavy
operators can be measured at 10x-50x sf0.1 and the growth CURVE
observed, not asserted.

Design rules:
- **Spark-native and deterministic**: every value is a pure function of
  the row id via ``xxhash64`` arithmetic — no RNG state, no driver-side
  loops, no Python in the dataflow; generation itself scales.
- **Cost-structure preserving**: the generated tables keep the
  statistical properties that drive operator cost at the same rates as
  the sf corpora — duplicate/near-duplicate structure for LSH/SimHash/
  CC (80% originals, 10% exact dups, 10% near-dups), label-centroid
  clustering for kNN/IVF, and a dense multi-event-per-user timeline
  for the as-of join.
- **Schema parity**: column names/types match TESTDATA.md exactly,
  including ``events.ts`` written as int64 NANOSECONDS so the catalog's
  nanos-as-long read path (sources/catalog.py) is exercised unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_VOCAB = (
    "spark line column order small sort fast value scan batch part "
    "query agg table hash key group filter customer stream slow vector "
    "join shuffle broadcast stage task codegen parquet arrow page row "
    "merge index range bucket salt skew window state"
).split()

_LANG_SLOTS = ("en", "en", "en", "zh", "fr", "de", "es")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# sf0.1 row counts (TESTDATA.md) — the 1x reference point the
# multiplier scales from.
SF01_DOCS = 5_000
SF01_VECS = 2_000
SF01_EVENTS = 100_000
SF01_USERS = 1_500
SF01_LINEITEM = 600_000
SF01_ORDERS = 150_000
SF01_CUSTOMER = 15_000
SF01_SUPPLIER = 1_000
N_NATIONS = 25  # fixed — graph NODE set; scaling grows the fact side


def _h(*cols: Column | int, seed: int) -> Column:
    """Non-negative deterministic hash of the inputs."""
    parts = [F.lit(c) if isinstance(c, int) else c for c in cols]
    return F.abs(F.xxhash64(F.lit(seed), *parts))


def gen_documents(spark: SparkSession, n_docs: int) -> DataFrame:
    """Documents with the dedup structure the sf corpora have: ids in
    the first 80% are originals (15-60 vocab words, a pure function of
    the id), the last 20% point at an earlier original — half verbatim
    (exact-dup tier), half with a trailing perturbation (near-dup tier,
    high-but-not-1.0 Jaccard); 20 sources."""
    n_sources, seed = 20, 5
    n_orig = max(1, int(n_docs * 0.8))
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    src = F.when(F.col("doc_id") < n_orig, F.col("doc_id")).otherwise(
        _h(F.col("doc_id"), 1, seed=seed) % n_orig
    )
    tagged = base.select("doc_id", src.alias("__src"))
    n_words = (_h(F.col("__src"), 2, seed=seed) % 46 + 15).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab, (_h(F.col("__src"), i, seed=seed) % len(_VOCAB) + 1).cast("int")
        ),
    )
    text = F.concat_ws(" ", words)
    is_near = (F.col("doc_id") >= n_orig) & (F.col("doc_id") % 2 == 0)
    text = F.when(is_near, F.concat(text, F.lit(" drift marker token"))).otherwise(text)
    return tagged.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(x) for x in _LANG_SLOTS]),
            (_h(F.col("doc_id"), 3, seed=seed) % len(_LANG_SLOTS) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("src"), (_h(F.col("doc_id"), 4, seed=seed) % n_sources)
        ).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def gen_embeddings(spark: SparkSession, n_vecs: int) -> DataFrame:
    """Label-clustered 64-dim float vectors: v[i] = centroid(label)[i] + small
    per-row noise, so kNN/IVF bucketing sees real cluster structure
    (same-label vectors are mutual near-neighbors). The cluster COUNT
    scales with the corpus (~40 vectors per cluster, min 50 clusters)
    — a fixed cluster count at growing n would mean clusters of size
    n/k, which no bucketing scheme can block into sub-quadratic work
    and which no real corpus exhibits."""
    dim, seed = 64, 7
    n_labels = max(50, n_vecs // 40)
    base = spark.range(n_vecs).select(F.col("id").alias("vec_id"))
    label = (_h(F.col("vec_id"), 1, seed=seed) % n_labels).cast("int")
    tagged = base.select("vec_id", label.alias("label"))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            (_h(F.col("label"), i, 2, seed=seed) % 2001 - 1000) / 1000.0
            + (_h(F.col("vec_id"), i, 3, seed=seed) % 401 - 200) / 1000.0
        ).cast("float"),
    )
    return tagged.select("vec_id", emb.alias("embedding"), "label")


def gen_events(spark: SparkSession, n_events: int) -> DataFrame:
    """Event stream over a 30-day window; ``ts`` is int64 NANOSECONDS
    (the TESTDATA feed's parquet physical type) so the catalog's
    nanos-as-long conversion path runs unchanged. User count scales
    with the corpus (sf0.1 ratio: 1.5%), keeping per-user timeline
    density constant — the as-of join's cost driver."""
    seed = 11
    n_users = max(1, int(n_events * SF01_USERS / SF01_EVENTS))
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
    span_us = 30 * 86_400 * 1_000_000
    base = spark.range(n_events).select(F.col("id").alias("event_id"))
    ts_us = start_us + _h(F.col("event_id"), 1, seed=seed) % span_us
    return base.select(
        "event_id",
        (ts_us * 1000).cast("long").alias("ts"),
        (_h(F.col("event_id"), 2, seed=seed) % n_users).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in _EVENT_TYPES]),
            (_h(F.col("event_id"), 3, seed=seed) % len(_EVENT_TYPES) + 1).cast("int"),
        ).alias("event_type"),
        ((_h(F.col("event_id"), 4, seed=seed) % 100_000) / 100.0).alias("value"),
        F.concat(
            F.lit('{"k":'), (_h(F.col("event_id"), 5, seed=seed) % 10), F.lit("}")
        ).alias("props"),
    )


def gen_trade_tables(spark: SparkSession, multiplier: int) -> dict[str, DataFrame]:
    """The trade-graph slice of the star schema at ``multiplier`` x
    sf0.1 — exactly the columns graph_pagerank_nations's join chain
    reads (a real scan would column-prune to these regardless of how
    wide the physical schema is, so cost structure is preserved).
    Facts (lineitem/orders) and dims (customer/supplier) scale; the
    25-nation node set is FIXED — that is what a nation-level graph
    looks like at any corpus size, so scaling stresses the edge
    DERIVATION joins and per-iteration edge shuffle, not the rank
    vector."""
    seed = 13
    n_li = SF01_LINEITEM * multiplier
    n_ord = SF01_ORDERS * multiplier
    n_cust = SF01_CUSTOMER * multiplier
    n_supp = SF01_SUPPLIER * multiplier
    lineitem = spark.range(n_li).select(
        # ~4 lines per order, TPC-H-like
        (_h(F.col("id"), 1, seed=seed) % n_ord).alias("l_orderkey"),
        (_h(F.col("id"), 2, seed=seed) % n_supp).alias("l_suppkey"),
    )
    orders = spark.range(n_ord).select(
        F.col("id").alias("o_orderkey"),
        (_h(F.col("id"), 3, seed=seed) % n_cust).alias("o_custkey"),
    )
    customer = spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        (_h(F.col("id"), 4, seed=seed) % N_NATIONS).cast("int").alias("c_nationkey"),
    )
    supplier = spark.range(n_supp).select(
        F.col("id").alias("s_suppkey"),
        (_h(F.col("id"), 5, seed=seed) % N_NATIONS).cast("int").alias("s_nationkey"),
    )
    nation = spark.range(N_NATIONS).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "supplier": supplier,
        "nation": nation,
    }


# Bump when the FILE LAYOUT of generated scale tables changes.  v1 was
# coalesce(1) — one file, hence one parquet row group at these sizes,
# which serialized every scan-dominated curve onto a single core
# regardless of local[32] (VERDICT r10 "What's wrong" #2: the LM-apply
# x200 cell ran 1-of-32 cores busy).  v2 writes multiplier-scaled file
# counts so a scan parallelizes like any real multi-file table; the
# marker file lets ``skip_existing`` regenerate v1 dirs in place.
LAYOUT_VERSION = 2
FILES_RULE = "max(4, multiplier // 4)"


def n_files_for(multiplier: int) -> int:
    """File count per generated table: scan parallelism grows with the
    corpus (x200 -> 50 files) but tiny points stay a handful of files
    so per-file overhead can't dominate x1 cells."""
    return max(4, multiplier // 4)


def _layout_marker(out_dir: str, name: str) -> str:
    import os

    return os.path.join(
        out_dir, f"{name}.parquet", f"_LAYOUT_v{LAYOUT_VERSION}"
    )


def write_scale_dir(
    spark: SparkSession,
    out_dir: str,
    multiplier: int,
    skip_existing: bool = False,
    only: tuple[str, ...] | None = None,
) -> None:
    """Materialize documents/embeddings/events plus the trade-graph
    tables at ``multiplier`` x sf0.1 into ``{out_dir}/{table}.parquet``
    (``n_files_for(multiplier)`` files per table — see LAYOUT_VERSION).
    ``skip_existing`` leaves tables whose current-layout marker is
    present untouched, so adding a table to the generator backfills old
    scale dirs without regenerating the (deterministic, hence
    identical) corpora already on disk, while tables written under an
    OLD layout are regenerated. ``only`` restricts generation to the
    named tables — the deep x200+ spill-regime points only read
    ``documents``, and a 200x lineitem (120M rows) would cost minutes
    of generation for no measurement."""
    import os

    tables = {
        "documents": gen_documents(spark, SF01_DOCS * multiplier),
        "embeddings": gen_embeddings(spark, SF01_VECS * multiplier),
        "events": gen_events(spark, SF01_EVENTS * multiplier),
        **gen_trade_tables(spark, multiplier),
    }
    for name, df in tables.items():
        if only is not None and name not in only:
            continue
        marker = _layout_marker(out_dir, name)
        if skip_existing and os.path.exists(marker):
            continue
        df.repartition(n_files_for(multiplier)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{name}.parquet")
        with open(marker, "w"):
            pass
