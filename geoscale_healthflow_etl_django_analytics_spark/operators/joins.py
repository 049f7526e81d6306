"""Join operators — SURVEY.md §2.4 (J3 semi, J9 equi chains), §2.7
(O4/O5 limits, F5 fuzzy fallback), §2.8 (U1 unionByName).

Strategy notes (what Catalyst does with these at scale, verified via
.explain): dimension tables (region/nation/customer at our ratios)
broadcast-hash-join against the fact side; the revenue chain keeps
one shuffle per fact aggregation; semi joins never materialize the
probe side's payload columns.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact_sum


def orders_for_segment_semi(orders: DataFrame, customer: DataFrame, segment: str) -> DataFrame:
    """J3 — metadata→data semi-join shape: only orders whose customer
    matches the filter are scanned further
    (weather_data_prec_temp_etl_view.py:278-316 classifies collections
    by metadata before opening them). left_semi keeps no customer
    columns → minimal shuffle payload."""
    seg_customers = customer.filter(F.col("c_mktsegment") == segment)
    return (
        orders.join(seg_customers, orders.o_custkey == seg_customers.c_custkey, "left_semi")
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            F.count("*").alias("order_count"),
            exact_sum(F.col("o_totalprice"), 2).alias("total_value"),
        )
    )


def revenue_by_nation_year(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """J9 — the dashboard's implicit location equi-join chain
    (analytics_dashboard/views.py:30-92): fact ⋈ fact ⋈ dims on
    shared keys, aggregated per (nation, year). Dim joins broadcast."""
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("year")
    ).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("lineitem_count"),
    )


def fuzzy_name_fallback(customer: DataFrame, pattern: str) -> DataFrame:
    """F5 — contains-match fallback with a suggestion cap
    (village_admin_boundaries_etl_view.py:152-171). Deterministic
    order by key so LIMIT is oracle-stable; Catalyst executes
    orderBy+limit as TakeOrderedAndProject."""
    return (
        customer.filter(F.col("c_name").contains(pattern))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
        .limit(10)
    )


def union_collections(dfs: list[DataFrame]) -> DataFrame:
    """U1 — union of per-collection scans whose schemas drifted
    (health_center_mongodb_service.py:158-222 unions Mongo cursors
    whose documents have different fields): unionByName with
    allowMissingColumns fills absent columns with null."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def location_hierarchy(region: DataFrame, nation: DataFrame) -> DataFrame:
    """A9/O2 — sorted distinct location hierarchy
    (malaria_api_calculator_etl_view.py:211-270): region → nation
    pairs, distinct, ordered. The nesting into a dict is presentation,
    not data-plane."""
    return (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .distinct()
        .orderBy("region", "nation")
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    carry_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for every left row, the most recent right
    row with the same ``by_cols`` key and ``time <= left.time`` (ties
    at equal time match, like DuckDB's ASOF ``>=``). Left rows with no
    earlier right row survive with nulls (ASOF LEFT semantics).

    Spark has no ASOF JOIN; the textbook escape hatch is cogrouped
    ``applyInPandas`` + ``merge_asof``, which drags every row through
    Python. This is the DataFrame-native formulation instead: tag both
    sides, UNION them, and carry the right side's payload forward with
    ``last(ignoreNulls)`` over a per-key time-ordered window — ONE
    shuffle on the key, no join, no Python, no range explosion. At
    100 TB the cost is the same per-key sort a shuffled range join
    would need, minus the probe-side build.

    Equal-time ties order the right row FIRST (side 0 < side 1) so a
    left row at the same instant sees it. Within-side duplicate
    (key, time) right rows would make the carried value order-
    dependent — callers must dedupe those (the registered query's
    corpus is duplicate-free and the oracle's native ASOF has the
    same ambiguity).

    SKEW CONTRACT: the carry window partitions by ``by_cols`` alone,
    so ONE task sorts each key's full timeline — a key holding half
    the rows serializes half the data (tests/test_skew.py pins the
    bound). Fine for human-scale keys (users, stations); for hot-key
    corpora use :func:`asof_join_backward_chunked`, which spreads
    each key across time buckets and carries bucket boundaries.
    """
    from pyspark.sql import Window

    carried, _, unioned = _tag_sides(
        left, right, time_col, by_cols, carry_cols, suffix
    )
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(time_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(cc, ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c, cc in zip(carry_cols, carried)
        ],
    )
    return filled.filter(F.col("__side") == 1).drop("__side", *carried)


def _check_asof_output_names(
    left: DataFrame,
    time_col: str,
    by_cols: list[str],
    carry_cols: list[str],
    suffix: str,
) -> None:
    """An output name ``f'{carry_col}{suffix}'`` colliding with ANY
    retained output column — left payload, the time column, or a
    by-key (easy with ``suffix=''``, e.g. carrying ``ts``) — would
    yield an ambiguous duplicate-named DataFrame — fail fast instead
    (ADVICE r4 #3: the time/by columns are retained too)."""
    retained = set(left.columns) | set(by_cols) | {time_col}
    for c in carry_cols:
        out = f"{c}{suffix}"
        if out in retained:
            raise ValueError(
                f"as-of output column {out!r} collides with a retained "
                f"output column; pass a different suffix"
            )


def _tag_sides(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    carry_cols: list[str],
    suffix: str,
    *extra,
):
    """The side-tagged union both backward as-of tiers scan: right rows
    (``__side`` 0) carry their payload as ``__carry_<c>`` with null
    left columns, left rows (``__side`` 1) the reverse; ``extra``
    columns ride on both sides after the time column.  Returns the
    carried names, the tagged right side and the union."""
    _check_asof_output_names(left, time_col, by_cols, carry_cols, suffix)
    carried = [f"__carry_{c}" for c in carry_cols]
    r_tag = right.select(
        *by_cols,
        F.col(time_col).alias(time_col),
        *extra,
        F.lit(0).alias("__side"),
        *[F.col(c).alias(cc) for c, cc in zip(carry_cols, carried)],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c not in by_cols and c != time_col
        ],
    )
    l_tag = left.select(
        *by_cols,
        time_col,
        *extra,
        F.lit(1).alias("__side"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(cc)
            for c, cc in zip(carry_cols, carried)
        ],
        *[c for c in left.columns if c not in by_cols and c != time_col],
    )
    unioned = r_tag.unionByName(l_tag)
    return carried, r_tag, unioned


def asof_join_backward_chunked(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    carry_cols: list[str],
    suffix: str = "_asof",
    bucket_span: float = 86_400.0,
) -> DataFrame:
    """Hot-key-safe backward as-of join: identical semantics to
    :func:`asof_join_backward`, different partitioning. The timeline
    of each key is segmented into fixed ``bucket_span``-second time
    buckets and the carry runs as a SEGMENTED window — the classic
    boundary-carry decomposition of a running scan:

    1. in-bucket pass — the last(ignoreNulls) carry window partitions
       by (key, bucket), so a key owning half the corpus spreads over
       its time range instead of sorting in one task;
    2. bucket summaries — per (key, bucket), the latest right-side
       payload (one max_by aggregation, map-side combinable);
    3. boundary carry — a running last(ignoreNulls) over the summary
       rows per key, ordered by bucket, shifted one bucket back. This
       window IS per-key but runs over bucket summaries (rows =
       occupied buckets, not events) — bounded by time-range/span,
       not by corpus size;
    4. stitch — left rows whose bucket had no earlier right row take
       the boundary carry-in.

    Every right row in an earlier bucket precedes every left row in a
    later one by construction, so in-bucket-else-carry-in reproduces
    the global backward scan exactly (equal-time ties inside a bucket
    keep the right-row-first ordering). Pick ``bucket_span`` so a hot
    key's densest bucket still fits a task; empty buckets cost
    nothing (they simply don't appear).
    """
    from pyspark.sql import Window

    # epoch seconds for bucketing: timestamps (incl. NTZ, which cannot
    # cast straight to double) go through unix_millis under the pinned
    # UTC session; numeric time columns cast directly
    if str(left.schema[time_col].dataType).lower().startswith("timestamp"):
        epoch = F.unix_millis(F.col(time_col).cast("timestamp")) / 1000.0
    else:
        epoch = F.col(time_col).cast("double")
    bucket = F.floor(epoch / F.lit(float(bucket_span))).alias("__bucket")
    carried, r_tag, unioned = _tag_sides(
        left, right, time_col, by_cols, carry_cols, suffix, bucket
    )
    # 1) segmented carry: partition includes the time bucket
    w_seg = (
        Window.partitionBy(*by_cols, "__bucket")
        .orderBy(F.col(time_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_bucket = unioned.select(
        "*",
        *[
            F.last(cc, ignorenulls=True).over(w_seg).alias(f"__in_{c}")
            for c, cc in zip(carry_cols, carried)
        ],
    )
    # 2) latest right payload per occupied (key, bucket)
    summaries = (
        r_tag.groupBy(*by_cols, "__bucket")
        .agg(
            F.max_by(
                F.struct(*[F.col(cc).alias(cc) for cc in carried]),
                F.col(time_col),
            ).alias("__last")
        )
    )
    # 3) boundary carry over bucket grain: all buckets either side
    # occupies, left-joined to summaries, running last shifted -1
    buckets = unioned.select(*by_cols, "__bucket").distinct()
    w_carry = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col("__bucket").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_in = (
        buckets.join(summaries, [*by_cols, "__bucket"], "left")
        .select(
            *by_cols,
            "__bucket",
            F.last("__last", ignorenulls=True).over(w_carry).alias("__cin"),
        )
    )
    # 4) stitch: in-bucket value if any, else the bucket's carry-in
    stitched = in_bucket.join(carry_in, [*by_cols, "__bucket"]).select(
        *[
            c
            for c in in_bucket.columns
            if not c.startswith("__in_") and c not in ("__side",) and c not in carried
        ],
        F.col("__side"),
        *[
            F.coalesce(F.col(f"__in_{c}"), F.col("__cin").getField(cc)).alias(
                f"{c}{suffix}"
            )
            for c, cc in zip(carry_cols, carried)
        ],
    )
    return stitched.filter(F.col("__side") == 1).drop("__side", "__bucket")
