"""Salted aggregation/join correctness: results must equal the
unsalted equivalents on skewed data."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions import skew


def _skewed_df(spark):
    # 90% of rows on one key
    return spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("k"),
        (F.col("id") % 100).alias("v"),
    )


def test_salted_sum_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    saltedr = {
        r.k: (r.s, r.n)
        for r in skew.salted_sum(
            df,
            ["k"],
            {"s": F.sum("v"), "n": F.count("*")},
            n_salts=8,
        ).collect()
    }
    assert plain == saltedr


def test_salted_join_matches_plain(spark):
    big = _skewed_df(spark)
    small = spark.createDataFrame([("hot", 1.5), ("cold", 2.5)], "k string, w double")
    plain = big.join(small, "k").agg(F.sum(F.col("v") * F.col("w"))).collect()[0][0]
    saltedr = (
        skew.salted_join_small_side(big, small, ["k"], n_salts=4)
        .agg(F.sum(F.col("v") * F.col("w")))
        .collect()[0][0]
    )
    assert plain == saltedr


def test_salted_join_spreads_hot_key(spark):
    """The mitigation claim, not just result equality: the hot key's
    rows must land in MANY (key, salt) buckets. A salt derived from the
    join key alone fails this (every hot row gets one salt)."""
    big = _skewed_df(spark)
    n_salts = 4
    spread = (
        skew.salted(big, n_salts)
        .where(F.col("k") == "hot")
        .select("__salt")
        .distinct()
        .count()
    )
    assert spread == n_salts

    # and the per-bucket max is bounded near count/n_salts, i.e. the
    # hot key's 9000 rows do not pile into one shuffle bucket
    per_bucket = (
        skew.salted(big, n_salts)
        .groupBy("k", "__salt")
        .count()
        .where(F.col("k") == "hot")
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_bucket < 9000 * 0.5


def test_salted_agg_min_max(spark):
    df = _skewed_df(spark)
    plain = {
        r.k: (r.lo, r.hi, r.s)
        for r in df.groupBy("k")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"), F.sum("v").alias("s"))
        .collect()
    }
    saltedr = {
        r.k: (r.lo, r.hi, r.s)
        for r in skew.salted_agg(
            df,
            ["k"],
            {
                "lo": (F.min("v"), F.min),
                "hi": (F.max("v"), F.max),
                "s": (F.sum("v"), F.sum),
            },
            n_salts=8,
        ).collect()
    }
    assert plain == saltedr


def test_lsh_mega_cluster_salted_buckets(spark):
    """100 TB mitigation hard-proof: a mega-cluster corpus (1000
    near-identical docs) floods single LSH buckets with ~1000 ids —
    quadratic pair expansion in one task. minhash_lsh_pairs' adaptive
    salting splits every bucket above its cap into bounded sub-buckets,
    the cluster still comes out as ONE connected component
    (transitive linking across bands), and the oracle's salted branch
    yields the same pair set."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly on the plain and the cat sat on the mat"
    )
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        # one trailing variant token in 10 variants: jaccard >= 0.9
        F.concat(F.lit(base + " variant "), (F.col("id") % 10).cast("string")).alias(
            "text"
        ),
    )

    # at least one bucket holds ~the whole cluster: over the salting cap
    plain_buckets = (
        dd.minhash_perm_band_hashes(docs)
        .groupBy("band", "bh")
        .count()
    )
    biggest = plain_buckets.agg(F.max("count")).collect()[0][0]
    assert biggest >= 900
    assert biggest > dd._SALT_CAP

    # and the mitigation preserves the outcome that matters: the
    # near-dup graph still links the whole cluster into one component
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.8)
    comps = dd.connected_components(pairs)
    n_components = comps.select("component").distinct().count()
    n_nodes = comps.count()
    assert n_components == 1
    assert n_nodes == 1000

    # the DuckDB oracle replays the same salted buckets: equal pair
    # sets (count + an order-free checksum) over the mega-cluster
    import duckdb

    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    checksum = [
        "count(*)",
        "sum(doc_a)",
        "sum(doc_b)",
        "sum(doc_a * doc_b)",
        "sum(CAST(round(jaccard * 10000) AS BIGINT))",
    ]
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracle = con.execute(
        f"SELECT {', '.join(checksum)} "
        f"FROM ({REGISTRY['dedup_minhash_lsh'].oracle}) p"
    ).fetchone()
    got = pairs.selectExpr(*checksum).first()
    assert [int(x) for x in got] == [int(x) for x in oracle]


def test_asof_chunked_spreads_hot_key(spark):
    """As-of hot-key contract: one user owning 50% of all events. The
    plain form's carry window partitions by key only — that user's
    whole timeline sorts in ONE task (documented bound). The chunked
    form partitions by (key, time-bucket): the hot key must spread
    across many buckets with a bounded per-bucket share, while the
    join result stays identical to the plain form."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import joins as oj

    n = 4000
    # events 0..n-1: half on hot key 0 (dense timeline), half spread
    left = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise((F.col("id") % 97) + 1)
        .cast("int")
        .alias("k"),
        (F.col("id") % 1000).cast("double").alias("ts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(200).select(
        (F.col("id") % 50).cast("int").alias("k"),
        (F.col("id") * 5 % 1000).cast("double").alias("ts"),
        (F.col("id") * 3).alias("payload"),
    ).dropDuplicates(["k", "ts"])

    span = 100.0
    plain = sorted(
        (r.k, r.ts, r.lid, r.payload_asof)
        for r in oj.asof_join_backward(
            left, right, "ts", ["k"], ["payload"]
        ).collect()
    )
    chunked = sorted(
        (r.k, r.ts, r.lid, r.payload_asof)
        for r in oj.asof_join_backward_chunked(
            left, right, "ts", ["k"], ["payload"], bucket_span=span
        ).collect()
    )
    assert plain == chunked

    # partition-spread assertion, mirroring test_salted_join_spreads_
    # hot_key: the hot key's rows land in ALL of its time buckets and
    # no (key, bucket) group exceeds its per-bucket share bound
    groups = (
        left.withColumn("b", F.floor(F.col("ts") / span))
        .groupBy("k", "b")
        .count()
    )
    hot = groups.filter(F.col("k") == 0)
    assert hot.count() == 10  # 1000s of timeline / 100s span
    hot_total = n // 2
    assert hot.agg(F.max("count")).collect()[0][0] <= hot_total // 10 + 50


def test_lsh_adaptive_bucket_cap_salts_and_matches_oracle(spark, tmp_path):
    """A bucket above _SALT_CAP is split into salted sub-buckets AND
    the md5-derived salt rule is bit-identical in DuckDB: 520
    identical docs form 16 over-cap band buckets; the pair set that
    survives salting (docs sharing a salt in >=1 band, ~97% of all
    pairs at 5 salts x 16 bands) must hash-match the oracle exactly.
    Gate corpora never trip the cap, so this is the only check that
    exercises the salted default path cross-engine."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    n = 520
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(text).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s0").alias("source"),
        F.lit(len(text)).cast("long").alias("n_chars"),
    )
    d = str(tmp_path)
    df.write.parquet(f"{d}/documents.parquet")
    # the cap engages: the raw bucket holds all n docs
    docs = spark.read.parquet(f"{d}/documents.parquet")
    bh = dd.minhash_perm_band_hashes(docs)
    assert bh.groupBy("band", "bh").count().agg(F.max("count")).collect()[0][0] == n
    import duckdb

    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    spark_pairs = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracle_pairs = sorted(
        tuple(t) for t in con.execute(REGISTRY["dedup_minhash_lsh"].oracle).fetchall()
    )
    assert spark_pairs == oracle_pairs
    # salting drops SOME pairs (split apart in every band) but keeps
    # the vast majority — identical docs meet in >=1 of 16 bands with
    # independent per-band salts
    allp = n * (n - 1) // 2
    assert 0.8 * allp < len(spark_pairs) < allp
