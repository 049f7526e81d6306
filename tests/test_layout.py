"""Z-order layout: the Morton interleave's locality property and the
range-partitioned sorted writer."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions.layout import (
    write_zordered,
    z_value,
    z_value_sql,
)


def _z_py(x: int, y: int, bits: int = 16) -> int:
    acc = 0
    for i in range(bits):
        acc |= ((x >> i) & 1) << (2 * i)
        acc |= ((y >> i) & 1) << (2 * i + 1)
    return acc


def test_z_value_matches_reference_bit_math(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)],
        "x int, y int",
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", z_value(F.col("x"), F.col("y"), 6).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _z_py(x, y, 6), (x, y)


def test_z_value_sql_generator_agrees(spark):
    """The SQL expression generated for the oracle must equal the
    Column form on every input — same loop, but prove it anyway."""
    import duckdb

    pairs = [(x, y) for x in range(0, 32, 3) for y in range(0, 32, 3)]
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT x, y, ({z_value_sql('x', 'y', 5)}) AS z FROM "
        "(SELECT unnest($1) AS x, unnest($2) AS y)",
        [[p[0] for p in pairs], [p[1] for p in pairs]],
    ).fetchall()
    for x, y, z in rows:
        assert z == _z_py(x, y, 5), (x, y)


def test_zorder_locality_aligned_boxes():
    """THE layout property: a 2^k-aligned 2^k x 2^k box occupies
    EXACTLY one contiguous z-range of length 4^k — so a file sorted
    by z covers the box with zero over-read. Row-major order would
    span (2^k - 1) * row_width + 2^k positions instead."""
    k = 5  # 32x32 box
    x0 = y0 = 64  # aligned (multiple of 32)
    zs = [
        _z_py(x, y)
        for x in range(x0, x0 + 2**k)
        for y in range(y0, y0 + 2**k)
    ]
    assert max(zs) - min(zs) + 1 == 4**k
    assert len(set(zs)) == 4**k  # bijective within the box
    # contrast: row-major span over a 1024-wide raster
    rowmajor_span = (2**k - 1) * 1024 + 2**k
    assert rowmajor_span > 30 * (4**k)  # z-order is ~30x tighter here


def test_write_zordered_files_cover_disjoint_ranges(spark, tmp_path):
    """The layout writer must produce files whose z-ranges are
    pairwise disjoint (range partitioning) and internally sorted —
    the precondition for row-group min/max pruning of box queries."""
    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x int, y int"
    )
    path = str(tmp_path / "zsorted")
    write_zordered(df, path, "x", "y", n_files=4, bits=6)
    back = spark.read.parquet(path)
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .collect()
    )
    ranges = sorted((r.lo, r.hi) for r in per_file)
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint


def _surviving_row_groups(path: str, box: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(surviving, total) parquet row groups whose column min/max stats
    intersect the 2-D box — exactly the skip decision Spark's parquet
    reader makes with pushed-down range filters."""
    import glob
    import os

    import pyarrow.parquet as pq

    surviving = total = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            total += 1
            keep = True
            for col, (lo, hi) in box.items():
                st = md.row_group(rg).column(names[col]).statistics
                if st is not None and (st.max < lo or st.min > hi):
                    keep = False
                    break
            if keep:
                surviving += 1
    return surviving, total


def test_zorder_write_prunes_box_queries_measurably(spark, tmp_path):
    """VERDICT r4 'Next round' #7: the layout op's point is SKIPPED IO
    — turn the aligned-box theorem into a measured number. A 256x256
    grid is written (a) z-ordered and (b) hash-scattered; footer
    min/max stats for a 32x32 box query must let strictly fewer row
    groups survive under (a), and both layouts must return identical
    rows. Measured at 16 files: z-ordered keeps ~2/16, scattered
    keeps 16/16 (numbers logged in PLANS.md)."""
    n = 256
    df = (
        spark.range(n * n)
        .select(
            (F.col("id") % n).cast("int").alias("x"),
            (F.col("id") / n).cast("int").alias("y"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
    )
    zpath, bpath = str(tmp_path / "zord"), str(tmp_path / "base")
    write_zordered(df, zpath, "x", "y", n_files=16, bits=8)
    df.repartition(16).write.mode("overwrite").parquet(bpath)

    box = {"x": (96, 127), "y": (160, 191)}  # 32x32, 2^5-aligned
    z_live, z_total = _surviving_row_groups(zpath, box)
    b_live, b_total = _surviving_row_groups(bpath, box)
    assert z_total >= 16 and b_total >= 16
    assert b_live == b_total, "scattered baseline should prune nothing"
    assert z_live < b_live, (z_live, b_live)
    assert z_live <= max(2, z_total // 4), (
        f"z-order should confine an aligned box to a few z-ranges, got "
        f"{z_live}/{z_total} row groups"
    )

    pred = (
        (F.col("x") >= 96) & (F.col("x") <= 127)
        & (F.col("y") >= 160) & (F.col("y") <= 191)
    )
    got_z = sorted(
        (r.x, r.y, r.v) for r in spark.read.parquet(zpath).filter(pred).collect()
    )
    got_b = sorted(
        (r.x, r.y, r.v) for r in spark.read.parquet(bpath).filter(pred).collect()
    )
    assert got_z == got_b and len(got_z) == 32 * 32


# ---------------------------------------------------------------------------
# Deterministic training-export shuffle
# ---------------------------------------------------------------------------


def test_export_shuffle_assignment_is_a_deterministic_permutation(spark):
    from geoscale_healthflow_etl_django_analytics_spark.functions.layout import (
        export_shuffle_assignment,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    a = export_shuffle_assignment(docs, num_shards=8)
    rows = a.collect()
    assert len(rows) == 400
    # every input key exactly once — it IS a permutation
    assert sorted(r.doc_id for r in rows) == list(range(400))
    # shard is h mod 8; pos is contiguous 1..|shard| within each shard
    by_shard: dict[int, list] = {}
    for r in rows:
        assert r.shard == r.h % 8
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) == 8  # md5 uniformity: all shards occupied at n=400
    for members in by_shard.values():
        members.sort(key=lambda r: (r.h, r.doc_id))
        assert [r.pos for r in members] == list(range(1, len(members) + 1))
    # deterministic: a re-run is byte-identical
    again = {(r.doc_id, r.shard, r.pos) for r in
             export_shuffle_assignment(docs, 8).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
    # a new seed is a genuinely different permutation of the same keys
    other = {(r.doc_id, r.shard, r.pos) for r in
             export_shuffle_assignment(docs, 8, "epoch1").collect()}
    assert {t[0] for t in other} == set(range(400))
    assert other != again


def test_export_shuffle_single_exchange_plan(spark):
    """The 100 TB contract: ONE hash exchange (on shard) and a local
    per-shard sort — no global sort, no join, no second shuffle."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.layout import (
        export_shuffle_assignment,
    )

    docs = spark.createDataFrame(
        [(i, "x") for i in range(100)], "doc_id long, text string"
    )
    plan = export_shuffle_assignment(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(shard" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan and "Cartesian" not in plan, plan


def test_write_shuffled_shards_files_in_permutation_order(spark, tmp_path):
    from geoscale_healthflow_etl_django_analytics_spark.functions.layout import (
        export_shuffle_assignment,
        write_shuffled_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(300)], "doc_id long, text string"
    )
    path = str(tmp_path / "shards")
    write_shuffled_shards(docs, path, num_shards=4)

    import glob

    shard_dirs = sorted(glob.glob(path + "/__shard=*"))
    assert len(shard_dirs) == 4
    expect = {
        (r.doc_id, r.shard): (r.h, r.pos)
        for r in export_shuffle_assignment(docs, 4).collect()
    }
    seen = 0
    for d in shard_dirs:
        shard = int(d.rsplit("=", 1)[1])
        # read the shard's parquet FILES directly (no shuffle) — the
        # on-disk row order must already be the permutation order
        import pandas as pd
        import pyarrow.parquet as pq

        parts = [
            pq.read_table(f).to_pandas()
            for f in sorted(glob.glob(d + "/*.parquet"))
        ]
        pdf = pd.concat(parts, ignore_index=True)
        hs = pdf["__h"].tolist()
        assert hs == sorted(hs), f"shard {shard} not in permutation order"
        for rec in pdf.itertuples():
            assert (rec.doc_id, shard) in expect
            assert expect[(rec.doc_id, shard)][0] == rec._3  # __h column
        seen += len(pdf)
    assert seen == 300
