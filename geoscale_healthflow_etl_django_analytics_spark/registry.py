"""Query registry: every implemented operator from SURVEY.md §2 as a
(name → Spark builder, DuckDB oracle SQL) pair.

The driver contract (`__spark_entry__.py`) is generated from this
registry. Conventions that keep the value-hash comparison exact:

- Every computed column is aliased IDENTICALLY in builder and oracle.
- Counts are BIGINT on both sides (DuckDB ``sum(int)`` → HUGEINT is
  always cast to BIGINT).
- DuckDB ``year()``/``month()`` return BIGINT → cast to INTEGER to
  match Spark.
- Ratios/averages are ``round(x, 2..6)`` on both sides (double sums
  are order-dependent in the last bits; rounding removes that).
- DuckDB ``CAST(double AS INT)`` rounds, Spark truncates → oracles
  use ``trunc()`` where C2 semantics apply.
- LIMIT queries order by a deterministic unique key chain.

One generator per replayed contract: an oracle fragment that more
than one query replays is written once, as a module-level constant or
a ``_*`` function that returns CTE text (CTE-name suffix, source table
and predicate as arguments), and every oracle composes it. The shared
fragments sit just above their first user; the near-dup/split family
(``_BAND_CTES``, ``_lsh_ctes``, ``_verified``, ``_cc_ctes``,
``_batch_cands``, ``_ingest_batch``, ``_split_oracle``) follows
``_SHINGLE_CTE``, the Lloyd tiers (``_lloyd_seed``, ``_lloyd_update``,
``_probed_assign``) precede ``_lloyd_ctes``, and the IVF-PQ chain
(``_ivf_assign_ctes``, ``_ivf_members_ctes``, ``_pq_encode_ctes``,
``_ivfpq_rerank``) precedes ``sim_ivf_topk``.  In these shared
generators a non-recursive CTE that an oracle reads twice or more is
written ``AS MATERIALIZED``: DuckDB 1.0 inlines every CTE reference,
so an unmarked one is recomputed per read, and the chained split
oracles took minutes (tests/test_oracle_parity.py bounds each oracle).

An oracle generator takes no setting the operator it replays fixes:
it reads the operator module's constant, so the two cannot drift
apart — MinHash ``dd.NUM_PERM``/``dd.BANDS``, BPE ``bpe.N_MERGES``/
``bpe.MERGE_PASSES``, Lloyd and SemDeDup ``sim.N_CENTROIDS``/
``sim.LLOYD_ITERS``/``sim.NPROBE``/``sim.ROUTER_ITERS``/
``sim.COSINE_DUP``/``sim.DIM``, PQ ``pq.PQ_M``/``pq.PQ_KS``/
``pq.PQ_K``/``pq.PQ_RERANK``; PageRank's builder and oracle share
``_PR_DAMPING``/``_PR_NODES``/``_PR_ITERS``.
tests/test_option_shape.py fails when a defaulted parameter of any
package function is left at its default by every caller.

The same rule holds for the Spark builders: a step that more than one
builder runs is a ``_*`` builder helper written once, just above its
first user — the lab-upload cleaning ``_upload_clean``, the
persisted-split and IVF-PQ index prologues ``_persisted_split`` and
``_ivfpq_index_topk`` (over the ``_residue_preds`` ingest
generations), the GeoTIFF
zonal fixture ``_s4_zonal``, the as-of attribution ``_signups`` and
``_attribute_purchases``, the unigram score ``_unigram_mean_logprob``,
the decile aggregate ``_decile_stats`` and histogram-quantile
``_histogram_buckets``, the decontamination ``_eval_8grams`` and
``_shuffled_contamination``, the DSIR scorer ``_dsir_buckets`` and
``_dsir_top``, and the datum ``_datum_shift``.  Column functions that
operators share too live in their operator module (``geo.point``,
``geo.ring_wkt``, ``cleaning.lab_record_columns``).
tests/test_registry_shape.py fails when a 6-line code window of one
registry function repeats in another.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.cleaning import MONTH_NAMES
from .sources import catalog
from .sources import semantic

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # part of the bench.py headline set
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    doc: str = "",
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tags, bench=bench, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


def _lab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic.lab_records(catalog.load_table(spark, sf_dir, "events"))


# SQL fragment: month number → English name (mirrors cleaning.month_name)
MONTH_NAME_SQL = (
    "CASE month "
    + " ".join(f"WHEN {n} THEN '{name}'" for n, name in MONTH_NAMES.items())
    + " ELSE 'Unknown' END"
)


# ===========================================================================
# Health analytics suite — SURVEY.md §2.5 (A1-A5), §2.7 (O3), §2.5 (A10)
# ===========================================================================

from .operators import health_analytics as ha  # noqa: E402


@register(
    "hc_a1_yearly_slide_status",
    oracle=semantic.with_lab_cte("""
SELECT
    year,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    CAST(sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END) AS BIGINT)
        AS negative_cases,
    CAST(count(*) - sum(is_positive)
         - sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END) AS BIGINT)
        AS inconclusive_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate,
    round(100.0 * sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END)
          / count(*), 2) AS negativity_rate,
    round(100.0 * (count(*) - sum(is_positive)
          - sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END))
          / count(*), 2) AS inconclusive_rate
FROM lab
GROUP BY year
"""),
    tags=("A1", "aggregation"),
    bench=True,
)
def hc_a1_yearly_slide_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.yearly_slide_status(_lab(spark, sf_dir))


@register(
    "hc_a2_gender_positivity",
    oracle=semantic.with_lab_cte("""
SELECT
    year,
    gender,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    CAST(sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END) AS BIGINT)
        AS negative_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate
FROM lab
GROUP BY year, gender
"""),
    tags=("A2", "aggregation"),
)
def hc_a2_gender_positivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.gender_positivity(_lab(spark, sf_dir))


# A3's per-(village, year) positivity; O3 ranks the same rows
_VILLAGE_POSITIVITY_SQL = """SELECT
    village,
    year,
    min(district) AS district,
    min(sector) AS sector,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    CAST(count(*) - sum(is_positive) AS BIGINT) AS negative_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate
FROM lab
WHERE village IS NOT NULL AND trim(village) <> ''
GROUP BY village, year"""


@register(
    "hc_a3_village_positivity",
    oracle=semantic.with_lab_cte(f"""
{_VILLAGE_POSITIVITY_SQL}
"""),
    tags=("A3", "aggregation"),
    bench=True,
)
def hc_a3_village_positivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.village_positivity(_lab(spark, sf_dir))


@register(
    "hc_a4_monthly_positivity",
    oracle=semantic.with_lab_cte(f"""
SELECT
    year,
    month,
    {MONTH_NAME_SQL} AS month_name,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate
FROM lab
WHERE year IS NOT NULL AND month IS NOT NULL
GROUP BY year, month
"""),
    tags=("A4", "aggregation", "flagship"),
)
def hc_a4_monthly_positivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.monthly_positivity(_lab(spark, sf_dir))


@register(
    "hc_a4_daily_positivity",
    oracle=semantic.with_lab_cte("""
SELECT
    year,
    month,
    day,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate
FROM lab
GROUP BY year, month, day
"""),
    tags=("A4", "aggregation"),
    bench=True,
)
def hc_a4_daily_positivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.daily_positivity(_lab(spark, sf_dir))


@register(
    "hc_a5_total_summary",
    oracle=semantic.with_lab_cte("""
SELECT
    count(*) AS total_records,
    CAST(sum(is_positive) AS BIGINT) AS total_positive,
    CAST(sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END) AS BIGINT)
        AS total_negative,
    CAST(count(*) - sum(is_positive)
         - sum(CASE WHEN test_result = 'Negative' THEN 1 ELSE 0 END) AS BIGINT)
        AS total_inconclusive,
    CASE WHEN count(*) > 0
         THEN round(100.0 * sum(is_positive) / count(*), 2) ELSE 0.0 END
        AS overall_positivity_rate,
    min(year) AS earliest_year,
    max(year) AS latest_year,
    array_to_string(list_sort(list(DISTINCT year)), ',') AS years_covered,
    count(DISTINCT district) AS districts_count,
    count(DISTINCT sector) AS sectors_count,
    count(DISTINCT village) AS villages_count,
    array_to_string(list_sort(list(DISTINCT district)), ',') AS districts,
    array_to_string(list_sort(list(DISTINCT sector)), ',') AS sectors,
    CAST(sum(CASE WHEN gender = 'Male' THEN 1 ELSE 0 END) AS BIGINT) AS male_count,
    CAST(sum(CASE WHEN gender = 'Female' THEN 1 ELSE 0 END) AS BIGINT) AS female_count,
    CAST(sum(CASE WHEN gender = 'Unknown' THEN 1 ELSE 0 END) AS BIGINT)
        AS unknown_gender_count,
    (SELECT '{' || string_agg('"' || k || '":' || cnt, ',' ORDER BY k) || '}'
     FROM (SELECT gender AS k, count(*) AS cnt FROM lab GROUP BY gender) g)
        AS gender_breakdown,
    (SELECT '{' || string_agg('"' || k || '":' || cnt, ',' ORDER BY k) || '}'
     FROM (SELECT age_group AS k, count(*) AS cnt FROM lab GROUP BY age_group) a)
        AS age_group_breakdown
FROM lab
"""),
    tags=("A5", "aggregation"),
)
def hc_a5_total_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.total_summary(_lab(spark, sf_dir))


@register(
    "hc_o3_top20_villages",
    oracle=semantic.with_lab_cte(f"""
SELECT * FROM (
{textwrap.indent(_VILLAGE_POSITIVITY_SQL, "    ")}
) t
ORDER BY positivity_rate DESC, village ASC, year ASC
LIMIT 20
"""),
    tags=("O3", "topk"),
)
def hc_o3_top20_villages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.top_villages_by_positivity(_lab(spark, sf_dir))


@register(
    "hc_a10_distinct_years",
    oracle=semantic.with_lab_cte("""
SELECT DISTINCT year
FROM lab
WHERE year BETWEEN 2015 AND 2030
"""),
    tags=("A10", "distinct"),
)
def hc_a10_distinct_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ha.distinct_years(_lab(spark, sf_dir))


# ===========================================================================
# Weather merge — SURVEY.md §2.4 J1/J2, §2.5 A6-A8, §2.6 W2
# ===========================================================================

from .operators import weather as wx  # noqa: E402
from .sources.semantic import precip_readings, temp_readings  # noqa: E402

_EXACT_AVG = "CAST(sum(CAST({c} AS DECIMAL(30,8))) AS DOUBLE) / count(*)"

_WX_AGG_CTES = f"""
pm AS (
    SELECT station, year, month,
           {_EXACT_AVG.format(c='precip')} AS prec_avg,
           count(*) AS prec_n
    FROM precip_r GROUP BY station, year, month
),
tm AS (
    SELECT station, year, month,
           {_EXACT_AVG.format(c='temp')} AS temp_avg
    FROM temp_r GROUP BY station, year, month
),
ty AS (
    SELECT station, year,
           {_EXACT_AVG.format(c='temp')} AS temp_yavg
    FROM temp_r GROUP BY station, year
)
"""


@register(
    "wx_j1_precip_temp_merge",
    oracle=semantic.with_weather_ctes(f""",
{_WX_AGG_CTES.strip()},
sy AS (
    SELECT station, year FROM pm
    UNION
    SELECT station, year FROM tm
),
scaffold AS (
    SELECT s.station, s.year, CAST(g.g AS INTEGER) AS month
    FROM sy s CROSS JOIN generate_series(1, 12) g(g)
)
SELECT
    sc.station,
    sc.year,
    sc.month,
    round(coalesce(pm.prec_avg, 0.0), 2) AS precipitation,
    round(coalesce(tm.temp_avg, ty.temp_yavg, 20.0), 2) AS temperature,
    CAST(coalesce(pm.prec_n, 0) AS BIGINT) AS precip_obs,
    pm.prec_avg IS NOT NULL AS has_precip_data,
    tm.temp_avg IS NOT NULL AS has_temp_data,
    md5(lower(concat_ws('_', sc.year, sc.month, sc.station))) AS unique_id
FROM scaffold sc
LEFT JOIN pm ON pm.station = sc.station AND pm.year = sc.year AND pm.month = sc.month
LEFT JOIN tm ON tm.station = sc.station AND tm.year = sc.year AND tm.month = sc.month
LEFT JOIN ty ON ty.station = sc.station AND ty.year = sc.year
"""),
    tags=("J1", "J2", "A6", "A7", "A8", "join", "full-merge"),
    bench=True,
    doc="Weather precip⟗temp monthly merge with the reference's fill ladder.",
)
def wx_j1_precip_temp_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = catalog.load_table(spark, sf_dir, "events")
    return wx.merge_precip_temp(precip_readings(ev), temp_readings(ev))


@register(
    "wx_w2_yearly_avg_window",
    oracle=semantic.with_weather_ctes(f""",
{_WX_AGG_CTES.strip()}
SELECT
    station,
    year,
    month,
    round(temp_avg, 2) AS monthly_avg_temp,
    round(avg(temp_avg) OVER (PARTITION BY station, year), 2) AS yearly_avg_temp
FROM tm
"""),
    tags=("W2", "window"),
    doc="Window-function form of the J2 yearly-average fill source.",
)
def wx_w2_yearly_avg_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = catalog.load_table(spark, sf_dir, "events")
    return wx.monthly_temp_with_yearly_window(temp_readings(ev))


# ===========================================================================
# Malaria-API calculator — §2.3 C10/C11, §2.5 A11, §1.3 unpivot
# ===========================================================================

from .operators import api_calc  # noqa: E402

_API_CTES = """
api_cases AS (
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS year,
           count(*) AS cases
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, year(o_orderdate)
),
api_pop AS (
    SELECT n_name AS nation, CAST(count(*) * 50 AS BIGINT) AS population
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
),
api_t AS (
    SELECT c.nation, c.year, CAST(c.cases AS BIGINT) AS cases, p.population,
           round(CASE WHEN p.population > 0
                 THEN CAST(c.cases AS DOUBLE) / p.population * 1000.0
                 ELSE 0.0 END, 2) AS api
    FROM api_cases c JOIN api_pop p ON c.nation = p.nation
),
api_full AS (
    SELECT nation, year, cases, population, api,
           CASE WHEN api = 0 THEN 'No Transmission'
                WHEN api < 1 THEN 'Very Low'
                WHEN api < 5 THEN 'Low'
                WHEN api < 50 THEN 'Moderate'
                WHEN api < 100 THEN 'High'
                ELSE 'Very High' END AS risk_category,
           api >= 50 AS high_burden,
           api < 1 AS elimination_target
    FROM api_t
)
"""


@register(
    "api_c10_by_nation_year",
    oracle=f"WITH {_API_CTES.strip()}\nSELECT * FROM api_full",
    tags=("C10", "C11", "derivation", "join"),
    bench=True,
    doc="Annual parasite incidence + WHO risk bucketing per (nation, year).",
)
def api_c10_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation")}
    return api_calc.api_by_nation_year(t["orders"], t["customer"], t["nation"])


@register(
    "api_a11_summary",
    oracle=f"""WITH {_API_CTES.strip()}
SELECT
    CAST(sum(cases) AS BIGINT) AS total_cases,
    CAST(sum(population) AS BIGINT) AS total_population,
    round(CASE WHEN sum(population) > 0
          THEN CAST(sum(cases) AS DOUBLE) / sum(population) * 1000.0
          ELSE 0.0 END, 2) AS overall_api,
    round(avg(CASE WHEN api > 0 THEN api END), 2) AS avg_positive_api,
    max(api) AS max_api,
    min(api) AS min_api,
    CAST(sum(CASE WHEN high_burden THEN 1 ELSE 0 END) AS BIGINT) AS high_burden_count,
    CAST(sum(CASE WHEN elimination_target THEN 1 ELSE 0 END) AS BIGINT)
        AS elimination_target_count
FROM api_full
""",
    tags=("A11", "aggregation"),
    doc="API calculator response summary block.",
)
def api_a11_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation")}
    return api_calc.api_summary(t["orders"], t["customer"], t["nation"])


@register(
    "api_a11_risk_histogram",
    oracle=f"""WITH {_API_CTES.strip()}
SELECT risk_category, count(*) AS n FROM api_full GROUP BY risk_category
""",
    tags=("A11", "aggregation"),
    doc="WHO risk-category histogram.",
)
def api_a11_risk_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation")}
    return api_calc.risk_histogram(t["orders"], t["customer"], t["nation"])


_UNPIVOT_YEARS = list(range(1995, 2002))


@register(
    "api_unpivot_wide_year",
    oracle=f"""WITH {_API_CTES.strip()}
SELECT nation, year, cases FROM api_cases
WHERE year BETWEEN {_UNPIVOT_YEARS[0]} AND {_UNPIVOT_YEARS[-1]}
""",
    tags=("unpivot", "stack"),
    doc="HMIS wide-by-year pivot → stack() unpivot round-trip.",
)
def api_unpivot_wide_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation")}
    return api_calc.wide_year_unpivot(
        t["orders"], t["customer"], t["nation"], _UNPIVOT_YEARS
    )


# ===========================================================================
# Joins / unions / limits — §2.4 J3/J9, §2.7 F5/O4, §2.8 U1, §2.5 A9
# ===========================================================================

from .functions.exact import exact_sum_sql  # noqa: E402
from .operators import joins as oj  # noqa: E402


@register(
    "j3_semi_segment_orders",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       count(*) AS order_count,
       {exact_sum_sql('o_totalprice')} AS total_value
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY year(o_orderdate)
""",
    tags=("J3", "semi-join"),
    doc="Metadata→data semi-join shape over orders/customer.",
)
def j3_semi_segment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("orders", "customer")}
    return oj.orders_for_segment_semi(t["orders"], t["customer"], "BUILDING")


@register(
    "j9_revenue_by_nation_year",
    oracle=f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS year,
       {exact_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS lineitem_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
""",
    tags=("J9", "equi-join", "aggregation"),
    bench=True,
    doc="4-table equi-join chain → revenue per (nation, year).",
)
def j9_revenue_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {
        n: catalog.load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "nation")
    }
    return oj.revenue_by_nation_year(
        t["lineitem"], t["orders"], t["customer"], t["nation"]
    )


@register(
    "f5_fuzzy_customer_lookup",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_name LIKE '%19%'
ORDER BY c_custkey
LIMIT 10
""",
    tags=("F5", "filter", "limit"),
    doc="Fuzzy contains-fallback lookup with suggestion cap.",
)
def f5_fuzzy_customer_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return oj.fuzzy_name_fallback(catalog.load_table(spark, sf_dir, "customer"), "19")


@register(
    "u1_union_collections",
    oracle=semantic.with_lab_cte("""
SELECT event_id, day, value, NULL AS event_type
FROM lab WHERE day <= 15
UNION ALL
SELECT event_id, day, value, event_type
FROM lab WHERE day > 15
"""),
    tags=("U1", "union"),
    doc="unionByName over drifted per-collection schemas.",
)
def u1_union_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = _lab(spark, sf_dir)
    a = lab.filter(F.col("day") <= 15).select("event_id", "day", "value")
    b = lab.filter(F.col("day") > 15).select("event_id", "day", "value", "event_type")
    return oj.union_collections([a, b])


@register(
    "a9_location_hierarchy",
    oracle="""
SELECT DISTINCT r_name AS region, n_name AS nation
FROM region JOIN nation ON r_regionkey = n_regionkey
ORDER BY region, nation
""",
    tags=("A9", "O2", "distinct"),
    doc="Sorted distinct location hierarchy.",
)
def a9_location_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("region", "nation")}
    return oj.location_hierarchy(t["region"], t["nation"])


# ===========================================================================
# Upsert / MERGE — §2.1 S8, §2.4 J4
# ===========================================================================

from .operators import upsert as ups  # noqa: E402


@register(
    "s8_upsert_merge",
    oracle="""
WITH existing AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
    SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
           'URGENT-UPDATE' AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT
    coalesce(e.o_orderkey, u.o_orderkey) AS o_orderkey,
    CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
         ELSE e.o_totalprice END AS o_totalprice,
    e.o_orderstatus AS o_orderstatus,
    CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority
         ELSE e.o_orderpriority END AS o_orderpriority,
    CASE WHEN u.o_orderkey IS NULL THEN 'kept'
         WHEN e.o_orderkey IS NULL THEN 'inserted'
         ELSE 'updated' END AS merge_action
FROM existing e FULL OUTER JOIN upd u ON e.o_orderkey = u.o_orderkey
""",
    tags=("S8", "J4", "upsert", "merge"),
    doc="MERGE semantics: full-outer key join, updates win, rows classified.",
)
def s8_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = catalog.load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit("URGENT-UPDATE").alias("o_orderpriority"),
    )
    return ups.merge_upsert(existing, updates, ["o_orderkey"])


# ===========================================================================
# Statistics — §2.5 A13/A14 + pricing summary bench headliner
# ===========================================================================

from .functions.exact import exact_wavg_sql  # noqa: E402
from .operators import stats as st  # noqa: E402


@register(
    "a13_weighted_stats",
    oracle=f"""
SELECT
    count(l_quantity) AS n,
    min(l_quantity) AS min_value,
    max(l_quantity) AS max_value,
    round(avg(l_quantity), 4) AS mean_value,
    round(quantile_cont(l_quantity, 0.5), 4) AS median_value,
    round(stddev_samp(l_quantity), 4) AS std_value,
    {exact_wavg_sql('l_quantity', 'l_extendedprice')} AS weighted_mean
FROM lineitem
""",
    tags=("A13", "A14", "aggregation", "percentile"),
    doc="count/min/max/mean/median/std + price-weighted mean quantity.",
)
def a13_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.weighted_stats(
        catalog.load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )


@register(
    "pricing_summary",
    oracle=f"""
SELECT
    l_returnflag,
    l_linestatus,
    {exact_sum_sql('l_quantity')} AS sum_qty,
    {exact_sum_sql('l_extendedprice')} AS sum_base_price,
    {exact_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
    {exact_sum_sql('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
    round(avg(l_quantity), 4) AS avg_qty,
    round(avg(l_extendedprice), 4) AS avg_price,
    round(avg(l_discount), 4) AS avg_disc,
    count(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("aggregation", "scan"),
    bench=True,
    doc="Scan-heavy pricing summary — bench headliner.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.pricing_summary(catalog.load_table(spark, sf_dir, "lineitem"))


# ===========================================================================
# Training-data pipeline ops: text analysis, dedup, similarity search
# (BASELINE.json north-star — first-class alongside the reference surface)
# ===========================================================================

from .functions import hashing  # noqa: E402
from .operators import dedup as dd  # noqa: E402
from .operators import similarity as sim  # noqa: E402
from .operators import textops as tx  # noqa: E402

_STOPWORDS_SQL = "('the','a','of','and','in','to','is','it')"

# Mirrors functions/text.py tokenization: trim → split \s+ → drop ''.
_DOC_CTE = rf"""
doc_t AS (
    SELECT doc_id, lang, source, text,
           list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ltoks
    FROM documents
),
doc_m AS (
    SELECT doc_id, lang, source, text, toks, ltoks,
           length(text) AS cc,
           len(toks) AS tc,
           len(list_filter(ltoks, x -> x IN {_STOPWORDS_SQL})) AS swc,
           length(text) - length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
               AS non_alpha_chars
    FROM doc_t
)
"""


@register(
    "text_doc_profile",
    oracle=rf"""WITH {_DOC_CTE.strip()}
SELECT
    doc_id,
    lang,
    source,
    CAST(cc AS INTEGER) AS char_count,
    CAST(tc AS INTEGER) AS token_count,
    round(CASE WHEN tc > 0
          THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / tc
          ELSE 0.0 END, 2) AS avg_token_len,
    round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 4)
        AS stopword_ratio,
    round(CASE WHEN cc > 0 THEN CAST(non_alpha_chars AS DOUBLE) / cc ELSE 0.0 END, 4)
        AS non_alpha_ratio,
    round((
        (CASE WHEN tc >= 20 THEN 1.0 ELSE CAST(tc AS DOUBLE) / 20.0 END)
        + least(round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 6) * 4.0, 1.0)
        + (1.0 - round(CASE WHEN cc > 0 THEN CAST(non_alpha_chars AS DOUBLE) / cc ELSE 0.0 END, 6))
    ) / 3.0, 4) AS quality_score,
    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM doc_m
""",
    tags=("text", "quality", "tokenize", "fingerprint"),
    bench=True,
    doc="Per-document quality profile (counts, ratios, score, fingerprint).",
)
def text_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the scan before the regex/md5 profile projection (r13,
    # guide §2.5 — the one-task single-file scan serialized this
    # query's whole per-row CPU; measured 0.76 -> 0.40 s,
    # plans/r13/ab2_*.jsonl); builder-level so textops stays
    # byte-stable.  Per-row output — any partitioning is
    # result-identical; no-op on a pre-split scan.
    return tx.doc_profile(
        catalog.ensure_parallelism(
            catalog.load_table(spark, sf_dir, "documents"), key="doc_id"
        )
    )


@register(
    "text_langid",
    oracle=rf"""WITH {_DOC_CTE.strip()}
SELECT
    doc_id,
    lang,
    round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 4) AS en_score,
    CASE WHEN round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 6) >= 0.05
         THEN 'en' ELSE 'unknown' END AS predicted_lang,
    lang = 'en' AS labeled_en,
    (CASE WHEN round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 6) >= 0.05
          THEN 'en' ELSE 'unknown' END)
        = (CASE WHEN lang = 'en' THEN 'en' ELSE 'unknown' END)
        AS prediction_matches_label
FROM doc_m
""",
    tags=("text", "langid"),
    doc="Heuristic language-ID vs labels.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.langid(catalog.load_table(spark, sf_dir, "documents"))


@register(
    "text_token_topk",
    oracle=rf"""WITH {_DOC_CTE.strip()}
SELECT token, count(*) AS freq
FROM (SELECT unnest(ltoks) AS token FROM doc_t)
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 25
""",
    tags=("text", "wordcount", "topk"),
    doc="Corpus token frequency top-25.",
)
def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_topk(catalog.load_table(spark, sf_dir, "documents"))


@register(
    "text_source_quality",
    oracle=rf"""WITH {_DOC_CTE.strip()}
SELECT
    source,
    count(*) AS n_docs,
    CAST(min(cc) AS INTEGER) AS min_chars,
    CAST(max(cc) AS INTEGER) AS max_chars,
    round(avg(tc), 2) AS avg_tokens,
    round(avg(round((
        (CASE WHEN tc >= 20 THEN 1.0 ELSE CAST(tc AS DOUBLE) / 20.0 END)
        + least(round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 6) * 4.0, 1.0)
        + (1.0 - round(CASE WHEN cc > 0 THEN CAST(non_alpha_chars AS DOUBLE) / cc ELSE 0.0 END, 6))
    ) / 3.0, 6)), 4) AS avg_quality
FROM doc_m
GROUP BY source
""",
    tags=("text", "quality", "aggregation"),
    doc="Per-source corpus health roll-up.",
)
def text_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.source_quality_summary(catalog.load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_fingerprint",
    oracle=r"""
SELECT
    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
    min(doc_id) AS keep_doc_id,
    count(*) AS n_docs
FROM documents
GROUP BY fp
""",
    tags=("dedup", "exact"),
    bench=True,
    doc="Exact dedup groups by canonical md5 fingerprint.",
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_groups(catalog.load_table(spark, sf_dir, "documents"))


# 3-word shingles in DuckDB (mirrors functions/text.py word_shingles_sql):
_SHINGLE_CTE = r"""
doc_sh AS MATERIALIZED (
    SELECT doc_id, lang,
           CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+2], ' ')))
           ELSE [array_to_string(toks, ' ')] END AS sh
    FROM (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ) t
)
"""


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""WITH {_SHINGLE_CTE.strip()}
SELECT doc_a, doc_b, jaccard FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
               AS jaccard
    FROM doc_sh a JOIN doc_sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
) p
WHERE jaccard >= 0.2
""",
    tags=("dedup", "jaccard", "near-dup"),
    doc="Exact 3-gram Jaccard near-dup pairs (lang-blocked).",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(catalog.load_table(spark, sf_dir, "documents"))


# Full LSH replay in DuckDB: same md5-derived shingle hashes, same
# true-permutation per-perm-min signature, same banded candidate
# join, same exact-Jaccard verify (operators/dedup.py:
# minhash_lsh_pairs). Factored as a CTE list so the connected-
# components oracle can build its recursive closure on the same pair
# set. GENERATED from the SAME affine coefficient table and settings
# the Spark side uses (functions/hashing.py::affine_perm_coeffs over
# dd.NUM_PERM permutations, dd.BANDS bands of dd.NUM_PERM // dd.BANDS
# rows; generated like _lloyd_sql so a settings change cannot
# desynchronize 80 hand-written lines, code-review r5 finding #8).
# r6 tier swap: the previous one-permutation (densified OPH) front
# half had a measured quadratic candidate floor on short docs — see
# operators/dedup.py::minhash_perm_band_hashes.
_ROWS = dd.NUM_PERM // dd.BANDS
_perm_min_cols = ",\n           ".join(
    f"min(({a} * (h % {hashing.MINHASH_PRIME}) + {b})"
    f" % {hashing.MINHASH_PRIME}) AS m{i}"
    for i, (a, b) in enumerate(hashing.affine_perm_coeffs(dd.NUM_PERM))
)
_band_cells = ",\n        ".join(
    "{'band': %d, 'bh': md5(%s)}" % (
        b,
        " || ',' || ".join(
            f"m{s}" for s in range(b * _ROWS, (b + 1) * _ROWS)
        ),
    )
    for b in range(dd.BANDS)
)

# shingle -> band hashes: (doc_id, band, bh) rows in ``band_hashes``
_BAND_CTES = f"""{_SHINGLE_CTE.strip()},
hs AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
    FROM (SELECT doc_id, unnest(sh) AS s FROM doc_sh) u
),
pm AS (
    SELECT doc_id,
           {_perm_min_cols}
    FROM hs GROUP BY doc_id
),
band_structs AS (
    SELECT doc_id, unnest([
        {_band_cells}
    ]) AS u
    FROM pm
),
band_hashes AS MATERIALIZED (
    SELECT doc_id, u.band AS band, u.bh AS bh FROM band_structs
)"""


def _verified(cand: str, ind: str = "") -> str:
    """Exact-Jaccard verify at j >= 0.8 of the candidate table ``cand``
    (doc_a, doc_b): the body and close of a ``(...) v`` subquery that
    yields (doc_a, doc_b, jaccard), every line indented by ``ind``."""
    return textwrap.indent(f"""    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
               AS jaccard
    FROM {cand} c
    JOIN doc_sh sa ON sa.doc_id = c.doc_a
    JOIN doc_sh sb ON sb.doc_id = c.doc_b
) v WHERE jaccard >= 0.8""", ind)


def _lsh_ctes(p: str, bands: str) -> str:
    """Salted LSH candidates over the band table ``bands``, verified
    (dedup.minhash_lsh_pairs): CTEs ``{p}bsz``, ``{p}salted``,
    ``{p}cand`` and ``{p}lsh_pairs`` (doc_a, doc_b, jaccard).  A bucket
    above ``dd._SALT_CAP`` docs splits into ceil(size / _SALT_TARGET)
    salts; smaller buckets keep salt 0."""
    return f"""{p}bsz AS (
    SELECT band, bh, count(*) AS bsz FROM {bands} GROUP BY band, bh
),
{p}salted AS MATERIALIZED (
    SELECT h.doc_id, h.band, h.bh,
           CASE WHEN z.bsz > {dd._SALT_CAP}
                THEN ('0x' || substr(md5(h.doc_id || ':' || h.band), 1, 8))::BIGINT
                     % CAST(ceil(z.bsz / {float(dd._SALT_TARGET)}) AS BIGINT)
                ELSE 0 END AS salt
    FROM {bands} h JOIN {p}bsz z USING (band, bh)
),
{p}cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {p}salted a JOIN {p}salted b
      ON a.band = b.band AND a.bh = b.bh AND a.salt = b.salt
     AND a.doc_id < b.doc_id
),
{p}lsh_pairs AS MATERIALIZED (
    SELECT doc_a, doc_b, jaccard FROM (
{_verified(f"{p}cand", "    ")}
)"""


def _cc_ctes(edges: str, cc: str, pairs: str) -> str:
    """Connected components of the pair graph ``pairs`` (doc_a, doc_b)
    as a recursive label closure (dedup.connected_components): ``{cc}``
    holds (node, label) and min(label) per node is its component."""
    return f"""{edges} AS (
    SELECT doc_a AS a, doc_b AS b FROM {pairs}
    UNION
    SELECT doc_b AS a, doc_a AS b FROM {pairs}
),
{cc}(node, label) AS (
    SELECT a, a FROM {edges}
    UNION
    SELECT e.b, {cc}.label FROM {cc} JOIN {edges} e ON e.a = {cc}.node
)"""


_MINHASH_CTES = f"""{_BAND_CTES},
{_lsh_ctes("", "band_hashes")}"""

# near-dup clusters: ``cc`` over the LSH pair graph
_MINHASH_CC = f"""WITH RECURSIVE
{_MINHASH_CTES},
{_cc_ctes("edges", "cc", "lsh_pairs")}"""


def _split_case(expr: str) -> str:
    """DuckDB replay of splitting.split_of_cluster's bucket arithmetic."""
    b = f"('0x' || substr(md5('split-' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % 100"
    return (
        f"CASE WHEN {b} < 80 THEN 'train' "
        f"WHEN {b} < 90 THEN 'val' ELSE 'test' END"
    )


def _link_type(t: str, ind: str) -> str:
    """link_type of a verified pair when the batch is ``doc_id % 10 {t}``;
    ``ind`` indents the continuation line."""
    return (
        f"CASE WHEN doc_a % 10 {t} AND doc_b % 10 {t} THEN 'batch_batch'\n"
        f"{ind}     ELSE 'batch_index' END AS link_type"
    )


def _batch_cands(s: str, t: str, visible: str | None = None) -> str:
    """Unsalted incremental candidates (operators/incremental.py) for the
    batch ``doc_id % 10 {t}``: pairs sharing a bucket some batch doc
    touches, at least one side in the batch, among the docs
    ``doc_id % 10 {visible}`` (None: every doc) — CTEs ``nk{s}``,
    ``tb{s}`` and ``cand{s}``."""
    where = "" if visible is None else f"\n    WHERE h.doc_id % 10 {visible}"
    return f"""nk{s} AS (
    SELECT DISTINCT band, bh FROM band_hashes WHERE doc_id % 10 {t}
),
tb{s} AS MATERIALIZED (
    SELECT h.doc_id, h.band, h.bh FROM band_hashes h JOIN nk{s} USING (band, bh){where}
),
cand{s} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM tb{s} a JOIN tb{s} b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
     AND (a.doc_id % 10 {t} OR b.doc_id % 10 {t})
)"""


def _ingest_batch(s: str, t: str, visible: str | None, resolve: str) -> str:
    """One ingest generation (splitting.incremental_leakage_safe_split)
    of the batch ``doc_id % 10 {t}``: candidates among the corpus visible
    at ingest, verified ``pairs{s}``, the batch graph's components, and
    anchors resolved against ``resolve`` (doc_id, cluster_id, split).
    A component adopts min(anchor cluster) and, when its anchors share
    one split, that split; split-conflicted components are quarantined;
    unanchored ones self-cluster.  Ends in ``b{s}_assign`` (doc_id,
    cluster_id, split)."""
    return f"""{_batch_cands(s, t, visible)},
pairs{s} AS MATERIALIZED (
    SELECT doc_a, doc_b,
           {_link_type(t, " " * 11)}
    FROM (
{_verified(f"cand{s}", "    ")}
),
{_cc_ctes(f"bedges{s}", f"bcc{s}", f"pairs{s} WHERE link_type = 'batch_batch'")},
bcomp0{s} AS (SELECT node, min(label) AS comp FROM bcc{s} GROUP BY node),
bcomp{s} AS MATERIALIZED (
    SELECT b.doc_id, coalesce(c.comp, b.doc_id) AS bcomp
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 {t}) b
    LEFT JOIN bcomp0{s} c ON c.node = b.doc_id
),
anchors{s} AS (
    SELECT CASE WHEN doc_a % 10 {t} THEN doc_a ELSE doc_b END AS bdoc,
           CASE WHEN doc_a % 10 {t} THEN doc_b ELSE doc_a END AS idoc
    FROM pairs{s} WHERE link_type = 'batch_index'
),
anch{s} AS (
    SELECT a.bdoc,
           coalesce(f.cluster_id, a.idoc) AS anchor_cluster,
           coalesce(f.split, {_split_case("a.idoc")}) AS anchor_split
    FROM anchors{s} a LEFT JOIN {resolve} f ON f.doc_id = a.idoc
),
comp_agg{s} AS (
    SELECT bc.bcomp,
           min(a.anchor_cluster) AS anc_min,
           count(DISTINCT a.anchor_split) AS n_anchor_splits,
           min(a.anchor_split) AS anc_split
    FROM bcomp{s} bc JOIN anch{s} a ON a.bdoc = bc.doc_id
    GROUP BY bc.bcomp
),
b{s}_assign AS (
    SELECT bc.doc_id,
           coalesce(ca.anc_min, bc.bcomp) AS cluster_id,
           CASE WHEN ca.anc_min IS NULL THEN {_split_case("bc.bcomp")}
                WHEN ca.n_anchor_splits = 1 THEN ca.anc_split
                ELSE 'quarantine' END AS split
    FROM bcomp{s} bc LEFT JOIN comp_agg{s} ca USING (bcomp)
)"""


def _split_oracle(*cuts: int) -> str:
    """Full replay of the incremental leakage-safe split over a persisted
    cluster table.  The index corpus is ``doc_id % 10 < cuts[0]``; ingest
    batch k holds the residues cuts[k-1]..cuts[k]-1 and the last batch
    ``>= cuts[-1]``.  The index side is the salted LSH + CC over index
    docs only (exactly minhash_lsh_pairs(index_docs)), with derived
    splits as ``folded0``; batch k is assigned against ``folded{k-1}``,
    seeing only the corpus visible at its ingest, and folding appends
    its assignment.  Folded reads coalesce: a doc with no stored row
    self-clusters and re-derives its bucket, a stored split (incl.
    'quarantine') is authoritative.  Compaction is bit-identical by
    contract and therefore invisible here."""
    ctes = [
        _BAND_CTES,
        f"ibh AS MATERIALIZED (SELECT doc_id, band, bh FROM band_hashes "
        f"WHERE doc_id % 10 < {cuts[0]})",
        _lsh_ctes("i", "ibh"),
        _cc_ctes("iedges", "icc", "ilsh_pairs"),
        f"""icomp AS (SELECT node AS doc_id, min(label) AS cluster_id
          FROM icc GROUP BY node),
folded0 AS MATERIALIZED (
    SELECT doc_id, cluster_id, {_split_case("cluster_id")} AS split
    FROM icomp
)""",
    ]
    n = len(cuts)
    for k, (lo, hi) in enumerate(zip(cuts, cuts[1:] + (None,)), 1):
        if hi is None:  # the last batch sees the whole corpus
            ctes.append(_ingest_batch(str(k), f">= {lo}", None, f"folded{k - 1}"))
            continue
        residues = ", ".join(str(r) for r in range(lo, hi))
        ctes.append(_ingest_batch(str(k), f"IN ({residues})", f"< {hi}", f"folded{k - 1}"))
        ctes.append(f"""folded{k} AS (
    SELECT doc_id, cluster_id, split FROM folded{k - 1}
    UNION ALL
    SELECT doc_id, cluster_id, split FROM b{k}_assign
)""")
    return "WITH RECURSIVE " + ",\n".join(ctes) + f""",
index_out AS (
    SELECT d.doc_id,
           coalesce(f.cluster_id, d.doc_id) AS cluster_id,
           coalesce(f.split, {_split_case("d.doc_id")}) AS split
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 < {cuts[-1]}) d
    LEFT JOIN folded{n - 1} f USING (doc_id)
)
SELECT doc_id, cluster_id, split FROM index_out
UNION ALL
SELECT doc_id, cluster_id, split FROM b{n}_assign
"""

_MINHASH_ORACLE = f"""WITH {_MINHASH_CTES}
SELECT doc_a, doc_b, jaccard FROM lsh_pairs
"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "minhash", "lsh", "near-dup"),
    bench=True,
    doc="MinHash(64)+LSH(16x4) candidates, exact-verified at j>=0.8; "
    "md5-derived hashes make the full pipeline oracle-checkable.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        catalog.load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _sign_bits_cte(name: str, h: str) -> str:
    """SimHash sketch bits: per (doc, bit i < 60) the sign of the sum of
    +-1 votes of the token hashes ``th.{h}``, as ``{name}`` (doc_id, i,
    bitval)."""
    return f"""{name} AS (
    SELECT doc_id, r.i AS i,
           CASE WHEN sum(CASE WHEN ({h} >> CAST(r.i AS INTEGER)) & 1 = 1
                              THEN 1 ELSE -1 END) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(r.i AS INTEGER))
                ELSE CAST(0 AS BIGINT) END AS bitval
    FROM th CROSS JOIN range(0, 60) r(i)
    GROUP BY doc_id, r.i
)"""


def _banded4_cte(name: str) -> str:
    """Four 30-bit bands of the 120-bit sketch ``sim`` (sk0, sk1)."""
    return f"""{name} AS MATERIALIZED (
    SELECT doc_id, sk0, sk1, b.band,
           CASE b.band
             WHEN 0 THEN sk0 & 1073741823
             WHEN 1 THEN sk0 >> 30
             WHEN 2 THEN sk1 & 1073741823
             ELSE sk1 >> 30 END AS bh
    FROM sim CROSS JOIN (SELECT CAST(unnest([0,1,2,3]) AS INTEGER) AS band) b
)"""


# SimHash replay: 60-bit sketch (15-hex md5 token hashes), sign-of-sum
# per bit, 4 x 15-bit band blocking, hamming <= 3 (see
# operators/dedup.py:with_simhash / simhash_pairs).
_SIMHASH_ORACLE = rf"""WITH tok AS (
    SELECT doc_id, unnest(list_distinct(list_filter(
        regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''))) AS t
    FROM documents
),
th AS MATERIALIZED (
    SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
),
{_sign_bits_cte("bits", "h")},
sim AS MATERIALIZED (
    SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
),
banded AS MATERIALIZED (
    SELECT doc_id, simhash, b.band,
           (simhash >> (b.band * 15)) & 32767 AS bh
    FROM sim CROSS JOIN (SELECT CAST(unnest([0,1,2,3]) AS INTEGER) AS band) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash", "near-dup", "compat-tier", "bounded-scale"),
    doc="SimHash-60 near-dup pairs, 15-bit band blocking, hamming<=3 "
    "(pigeonhole-complete for 4 bands); md5-derived token hashes "
    "make the sketch oracle-checkable. FENCED SMALL-CORPUS/COMPAT "
    "TIER (VERDICT r5 #1): a 15-bit band collides by pure chance at "
    "n^2/2^15 per band, so past ~10^4 docs the emitted pair stream "
    "is quadratic in corpus size regardless of plan quality — "
    "BENCH_scale_r5 measured 1.72M collision-floor pairs (vs ~28.6k "
    "true near-dups) at x50. The DEFAULT SimHash surface is "
    "dedup_simhash_adaptive_pairs (dd.simhash_adaptive_pairs), whose "
    "30-bit bands push the floor to n^2/2^30; this form stays "
    "registered as the oracle-pinned 60-bit reference semantics and "
    "is no longer part of the bench headline set.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_pairs(catalog.load_table(spark, sf_dir, "documents"))


_EMB_CTE = """
emb AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
"""

_COS_SQL = (
    "list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
)


@register(
    "sim_cosine_topk",
    oracle=f"""WITH {_EMB_CTE.strip()},
q AS (SELECT v AS q_vec FROM emb WHERE vec_id = 0)
SELECT vec_id, label,
       round({_COS_SQL.format(a='emb.v', b='q.q_vec')}, 6) AS cosine_sim
FROM emb, q
WHERE vec_id <> 0
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
""",
    tags=("similarity", "ann", "topk"),
    bench=True,
    doc="Brute-force cosine top-10 against a stored query vector.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk(catalog.load_table(spark, sf_dir, "embeddings"), 0, 10)


_BUCKET_SQL = (
    "(CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END"
    " + CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END"
    " + CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END"
    " + CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)"
)

# 16-bit sign-pack (the adaptive kNN join masks this to its runtime
# bit count) — generated from the same loop as functions.vectors
# .sign_bucket so the two engines cannot drift
_BUCKET16_SQL = (
    "("
    + " + ".join(
        f"CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
        for i in range(16)
    )
    + ")"
)


@register(
    "sim_ann_bucketed_topk",
    oracle=f"""WITH {_EMB_CTE.strip()},
b AS (SELECT vec_id, label, v, CAST({_BUCKET_SQL} AS INTEGER) AS bucket FROM emb),
qb AS (SELECT v AS q_vec, bucket FROM b WHERE vec_id = 0)
SELECT b.vec_id, b.label, b.bucket,
       round({_COS_SQL.format(a='b.v', b='qb.q_vec')}, 6) AS cosine_sim
FROM b JOIN qb ON b.bucket = qb.bucket
WHERE b.vec_id <> 0
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 5
""",
    tags=("similarity", "ann", "lsh"),
    doc="Sign-bucket LSH ANN top-5 (scale path).",
)
def sim_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ann_bucketed_topk(catalog.load_table(spark, sf_dir, "embeddings"), 0)


@register(
    "sim_embedding_near_dup_pairs",
    oracle=f"""WITH {_EMB_CTE.strip()},
b AS (SELECT vec_id, v, CAST({_BUCKET_SQL} AS INTEGER) AS bucket FROM emb)
SELECT bucket, vec_a, vec_b, cosine_sim FROM (
    SELECT a.bucket, a.vec_id AS vec_a, b2.vec_id AS vec_b,
           round({_COS_SQL.format(a='a.v', b='b2.v')}, 4) AS cosine_sim
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
) p
WHERE cosine_sim >= 0.35
""",
    tags=("similarity", "dedup", "near-dup"),
    doc="Embedding-cosine near-dup pairs via sign-bucket blocking.",
)
def sim_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_near_dup_pairs(catalog.load_table(spark, sf_dir, "embeddings"))


# ===========================================================================
# Event-time windows — §2.10 streaming generalization (batch forms; the
# streaming forms in streaming/windows.py share these expressions and are
# pinned by tests/test_streaming.py)
# ===========================================================================

from .streaming import windows as sw  # noqa: E402

_EXACT_VSUM = (
    "round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 2)"
)


@register(
    "ev_tumbling_hourly",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
       event_type,
       count(*) AS n_events,
       {_EXACT_VSUM} AS value_sum
FROM events
GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
""",
    tags=("streaming", "window", "tumbling"),
    bench=True,
    doc="Tumbling 1h event-time window per event_type.",
)
def ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.tumbling_counts(catalog.load_table(spark, sf_dir, "events"))


@register(
    "ev_sliding_30m",
    oracle=f"""
SELECT w_start, count(*) AS n_events, {_EXACT_VSUM} AS value_sum
FROM (
    SELECT value,
           unnest([time_bucket(INTERVAL '15 minutes', ts),
                   time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes'])
               AS w_start
    FROM events
) t
GROUP BY w_start
""",
    tags=("streaming", "window", "sliding"),
    doc="Sliding 30m/15m event-time window (each event in 2 windows).",
)
def ev_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.sliding_value_avg(catalog.load_table(spark, sf_dir, "events"))


@register(
    "ev_user_sessions",
    oracle=f"""
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '5 minutes'
                THEN 1 ELSE 0 END AS new_s
    FROM events
),
numbered AS (
    SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '5 minutes' AS session_end,
       count(*) AS n_events,
       {_EXACT_VSUM} AS value_sum
FROM numbered
GROUP BY user_id, sid
""",
    tags=("streaming", "window", "session"),
    bench=True,
    doc="Gap-based (5 min) session windows per user.",
)
def ev_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.user_sessions(catalog.load_table(spark, sf_dir, "events"))


# ===========================================================================
# C9 — the composed cleaning pipeline (data_transformer.py:40-94) over
# synthesized dirty inputs, end-to-end under the oracle
# ===========================================================================

from .functions import cleaning as cl  # noqa: E402


def _dirty_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = catalog.load_table(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    return ev.select(
        "event_id",
        F.when(u % 7 == 0, "M")
        .when(u % 7 == 1, "male")
        .when(u % 7 == 2, " WOMAN ")
        .when(u % 7 == 3, "F")
        .when(u % 7 == 4, "fem")
        .when(u % 7 == 5, "")
        .otherwise(F.lit(None).cast("string"))
        .alias("gender_raw"),
        F.when(e % 6 == 0, "25")
        .when(e % 6 == 1, "-3")
        .when(e % 6 == 2, "150")
        .when(e % 6 == 3, "x")
        .when(e % 6 == 4, "7.9")
        .otherwise(F.lit(None).cast("string"))
        .alias("age_raw"),
        F.when(e % 5 == 0, "3")
        .when(e % 5 == 1, "March")
        .when(e % 5 == 2, "mar")
        .when(e % 5 == 3, "13")
        .otherwise(F.lit(None).cast("string"))
        .alias("month_raw"),
        F.when(e % 8 == 0, "POSITIVE")
        .when(e % 8 == 1, "neg")
        .when(e % 8 == 2, "P.falciparum seen")
        .when(e % 8 == 3, "NO MALARIA")
        .when(e % 8 == 4, "CLEAN")
        .when(e % 8 == 5, "pending")
        .when(e % 8 == 6, "")
        .otherwise(F.lit(None).cast("string"))
        .alias("slide_raw"),
        F.when(e % 3 == 0, "  padded  ")
        .when(e % 3 == 1, "")
        .otherwise(F.lit(None).cast("string"))
        .alias("text_raw"),
    )


_DIRTY_CTE = """
dirty AS (
    SELECT event_id,
        CASE CAST(user_id % 7 AS INTEGER)
            WHEN 0 THEN 'M' WHEN 1 THEN 'male' WHEN 2 THEN ' WOMAN '
            WHEN 3 THEN 'F' WHEN 4 THEN 'fem' WHEN 5 THEN '' ELSE NULL
        END AS gender_raw,
        CASE CAST(event_id % 6 AS INTEGER)
            WHEN 0 THEN '25' WHEN 1 THEN '-3' WHEN 2 THEN '150'
            WHEN 3 THEN 'x' WHEN 4 THEN '7.9' ELSE NULL
        END AS age_raw,
        CASE CAST(event_id % 5 AS INTEGER)
            WHEN 0 THEN '3' WHEN 1 THEN 'March' WHEN 2 THEN 'mar'
            WHEN 3 THEN '13' ELSE NULL
        END AS month_raw,
        CASE CAST(event_id % 8 AS INTEGER)
            WHEN 0 THEN 'POSITIVE' WHEN 1 THEN 'neg'
            WHEN 2 THEN 'P.falciparum seen' WHEN 3 THEN 'NO MALARIA'
            WHEN 4 THEN 'CLEAN' WHEN 5 THEN 'pending' WHEN 6 THEN '' ELSE NULL
        END AS slide_raw,
        CASE CAST(event_id % 3 AS INTEGER)
            WHEN 0 THEN '  padded  ' WHEN 1 THEN '' ELSE NULL
        END AS text_raw
    FROM events
)
"""

# SQL mirrors of the cleaning layer (see functions/cleaning.py):
_CLEAN_AGE_SQL = """
CASE WHEN try_cast(age_raw AS DOUBLE) IS NULL
       OR CAST(trunc(try_cast(age_raw AS DOUBLE)) AS INTEGER) < 0
       OR CAST(trunc(try_cast(age_raw AS DOUBLE)) AS INTEGER) > 120
     THEN 30
     ELSE CAST(trunc(try_cast(age_raw AS DOUBLE)) AS INTEGER) END
"""

_TEST_RESULT_SQL = """
CASE WHEN slide_raw IS NULL OR upper(trim(slide_raw)) = '' THEN 'Unknown'
     WHEN strpos(upper(trim(slide_raw)), 'POSITIVE') > 0
       OR strpos(upper(trim(slide_raw)), 'POS') > 0
       OR strpos(upper(trim(slide_raw)), '+') > 0
       OR strpos(upper(trim(slide_raw)), 'P.FALCIPARUM') > 0
       OR strpos(upper(trim(slide_raw)), 'P.VIVAX') > 0
       OR strpos(upper(trim(slide_raw)), 'MALARIA') > 0 THEN 'Positive'
     WHEN strpos(upper(trim(slide_raw)), 'NEGATIVE') > 0
       OR strpos(upper(trim(slide_raw)), 'NEG') > 0
       OR strpos(upper(trim(slide_raw)), '-') > 0
       OR strpos(upper(trim(slide_raw)), 'NO MALARIA') > 0
       OR strpos(upper(trim(slide_raw)), 'CLEAN') > 0 THEN 'Negative'
     ELSE 'Inconclusive' END
"""


def _clean_cols_sql(ind: str) -> str:
    """The C1-C8 cleaned columns over the raw gender/age/month/slide
    fields, each line of the select list indented by ``ind``."""
    age, tr = _CLEAN_AGE_SQL.strip(), _TEST_RESULT_SQL.strip()
    return f"""{ind}CASE WHEN upper(trim(gender_raw)) IN ('M', 'MALE', 'MAN') THEN 'Male'
{ind}     WHEN upper(trim(gender_raw)) IN ('F', 'FEMALE', 'WOMAN') THEN 'Female'
{ind}     ELSE 'Unknown' END AS gender,
{ind}{age} AS age,
{ind}CASE WHEN ({age}) < 5 THEN 'Under 5'
{ind}     WHEN ({age}) < 15 THEN '5-14'
{ind}     WHEN ({age}) < 25 THEN '15-24'
{ind}     WHEN ({age}) < 45 THEN '25-44'
{ind}     WHEN ({age}) < 65 THEN '45-64'
{ind}     ELSE '65+' END AS age_group,
{ind}CASE WHEN CAST(trunc(try_cast(month_raw AS DOUBLE)) AS INTEGER) BETWEEN 1 AND 12
{ind}     THEN CAST(trunc(try_cast(month_raw AS DOUBLE)) AS INTEGER)
{ind}     WHEN upper(trim(month_raw)) IN ('MARCH', 'MAR') THEN 3
{ind}     ELSE NULL END AS month,
{ind}{tr} AS test_result,
{ind}CASE WHEN ({tr}) = 'Positive' THEN 1 ELSE 0 END
{ind}    AS is_positive"""


@register(
    "c9_clean_records",
    oracle=f"""WITH {_DIRTY_CTE.strip()}
SELECT
    event_id,
    coalesce(trim(text_raw), '') AS cleaned_text,
{_clean_cols_sql("    ")}
FROM dirty
""",
    tags=("C1", "C3", "C4", "C5", "C6", "C7", "C8", "C9", "cleaning"),
    doc="Composed C1-C8 cleaning pipeline over synthesized dirty input.",
)
def c9_clean_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _dirty_inputs(spark, sf_dir)
    return d.select(
        "event_id",
        cl.clean_text(F.col("text_raw")).alias("cleaned_text"),
        *cl.lab_record_columns(
            F.col("gender_raw"), F.col("age_raw"), F.col("month_raw"), F.col("slide_raw")
        ),
    )


# ===========================================================================
# Multimodal columns — binary payloads + typed metadata (plumbing real,
# codec stubbed; see operators/multimodal.py)
# ===========================================================================

from .operators import multimodal as mm  # noqa: E402


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.media_from_documents(catalog.load_table(spark, sf_dir, "documents"))


@register(
    "mm_resize_plan",
    oracle="""
WITH m AS (
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS kind,
           CAST(doc_id % 640 + 16 AS INTEGER) AS width,
           CAST(doc_id % 480 + 16 AS INTEGER) AS height
    FROM documents
)
SELECT media_id, kind, width, height,
       CAST(trunc(width * least(256.0 / width, 256.0 / height, 1.0)) AS INTEGER)
           AS target_width,
       CAST(trunc(height * least(256.0 / width, 256.0 / height, 1.0)) AS INTEGER)
           AS target_height,
       least(256.0 / width, 256.0 / height, 1.0) < 1.0 AS needs_resize
FROM m
""",
    tags=("multimodal", "metadata"),
    doc="Metadata-only resize planning (payload column never read).",
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.resize_plan(_media(spark, sf_dir))


@register(
    "mm_frame_sample",
    oracle="""
SELECT doc_id AS media_id,
       CAST(unnest(range(0, CAST(doc_id % 120 + 1 AS INTEGER), 10)) AS INTEGER)
           AS frame_idx
FROM documents
WHERE CAST(doc_id % 3 AS INTEGER) = 2
""",
    tags=("multimodal", "explode"),
    doc="Frame-sampling plan for video rows from metadata.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.frame_sample_plan(_media(spark, sf_dir))


# the stub decode is a chained-md5-hex recurrence (operators/
# multimodal.py:_fake_decode_features): value i is 4 hex chars of
# md5(text) (i<8) / md5(md5(text)) (i>=8) parsed as k/65536 — exact
# dyadic doubles both engines reproduce bit-identically.
def _mm_feat_sql() -> str:
    def val(i: int) -> str:
        src = "h1" if i < 8 else "h2"
        pos = (i % 8) * 4 + 1
        return f"('0x' || substr({src}, {pos}, 4))::BIGINT / 65536.0"

    feat_list = ",\n           ".join(val(i) for i in range(16))
    sq_sum = " + ".join(f"feat[{i + 1}] * feat[{i + 1}]" for i in range(16))
    return f"""
WITH m AS (
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS kind,
           md5(text) AS h1, md5(md5(text)) AS h2
    FROM documents
),
f AS (
    SELECT media_id, kind,
           [{feat_list}] AS feat
    FROM m
)
SELECT media_id, kind,
       round(sqrt({sq_sum}), 6) AS feature_norm,
       CAST(r.i AS INTEGER) AS dim_idx,
       feat[CAST(r.i AS INTEGER) + 1] AS feature_value
FROM f CROSS JOIN range(0, 16) r(i)
"""


@register(
    "mm_feature_extract",
    oracle=_mm_feat_sql(),
    tags=("multimodal", "pandas-udf", "mapInPandas"),
    doc="Arrow-batched feature extraction over binary payloads (stub "
    "codec, md5-hex chain) — posexploded to one scalar row per "
    "(media, dim) so every output column is driver-canonicalizable; "
    "the vector form stays available via operators.multimodal."
    "extract_features for the similarity pipeline.",
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = mm.extract_features(_media(spark, sf_dir))
    return feats.select(
        "media_id",
        "kind",
        "feature_norm",
        F.posexplode("feature").alias("dim_idx", "feature_value"),
    )


# ===========================================================================
# Bounded geospatial parity — C18, J6/J7, A14/A15 (pure arithmetic over
# deterministic synthetic geometries; see operators/geo.py)
# ===========================================================================

from .operators import geo  # noqa: E402

_POLY_CTE = """
polys AS (
    SELECT n_nationkey AS poly_id,
           n_name AS name,
           CAST(n_nationkey * 7 % 100 AS DOUBLE) AS x0,
           CAST(n_nationkey * 11 % 50 AS DOUBLE) AS y0,
           CAST(n_nationkey * 7 % 100 AS DOUBLE) + 5.0
               + CAST(n_nationkey % 10 AS DOUBLE) AS x1,
           CAST(n_nationkey * 11 % 50 AS DOUBLE) + 3.0
               + CAST(n_nationkey % 7 AS DOUBLE) AS y1,
           CAST(n_nationkey * 13 % 45 AS DOUBLE) / 1.5 AS slope
    FROM nation
)
"""

_QX0, _QY0, _QX1, _QY1 = 10.0, 5.0, 60.0, 35.0


def _wkt_ring(ind: str, *pts: str) -> str:
    """WKT of the closed ring through ``pts`` (SQL "x, y" pairs): one
    printf per vertex, continuation lines indented by ``ind``."""
    return (
        "'POLYGON ((' ||\n"
        + "".join(f"{ind}printf('%.1f %.1f, ', {p}) ||\n" for p in pts)
        + f"{ind}printf('%.1f %.1f', {pts[0]}) || '))'"
    )

_J7_BODY = f"""
SELECT poly_id, name, slope,
       round(greatest(0.0, least(x1, {_QX1}) - greatest(x0, {_QX0}))
             * greatest(0.0, least(y1, {_QY1}) - greatest(y0, {_QY0})), 6)
           AS intersection_area,
       round(greatest(0.0, least(x1, {_QX1}) - greatest(x0, {_QX0}))
             * greatest(0.0, least(y1, {_QY1}) - greatest(y0, {_QY0}))
             / ((x1 - x0) * (y1 - y0)) * 100.0, 2) AS coverage_pct
FROM polys
WHERE x0 < {_QX1} AND x1 > {_QX0} AND y0 < {_QY1} AND y1 > {_QY0}
"""


@register(
    "geo_c18_centroid",
    oracle=f"""WITH {_POLY_CTE.strip()}
SELECT poly_id, name,
       round((y0 + y0 + y1 + y1 + y0) / 5, 6) AS centroid_lat,
       round((x0 + x1 + x1 + x0 + x0) / 5, 6) AS centroid_lon
FROM polys
""",
    tags=("C18", "geo", "centroid"),
    doc="Vertex-mean centroid (closing vertex included — reference parity).",
)
def geo_c18_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geo.vertex_mean_centroid(
        geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))
    )


@register(
    "geo_j7_bbox_intersection",
    oracle=f"WITH {_POLY_CTE.strip()}\n{_J7_BODY}",
    tags=("J7", "geo", "range-join"),
    doc="BBox x polygon intersects prefilter + exact intersection area.",
)
def geo_j7_bbox_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geo.bbox_intersection(
        geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation")),
        _QX0, _QY0, _QX1, _QY1,
    )


@register(
    "geo_a14_weighted_slope",
    oracle=f"""WITH {_POLY_CTE.strip()},
inter AS ({_J7_BODY.strip()})
SELECT round(sum(slope * intersection_area) / sum(intersection_area), 6)
           AS weighted_mean_slope,
       round(sum(intersection_area) / (({_QX1} - {_QX0}) * ({_QY1} - {_QY0}))
             * 100.0, 2) AS bbox_coverage_pct,
       count(*) AS polygons_intersected
FROM inter
""",
    tags=("A14", "geo", "aggregation"),
    doc="Area-weighted mean slope over the bbox extract.",
)
def geo_a14_weighted_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geo.area_weighted_slope(
        geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation")),
        _QX0, _QY0, _QX1, _QY1,
    )


@register(
    "geo_j6_zonal_stats",
    oracle=f"""WITH {_POLY_CTE.strip()},
pixels AS (
    SELECT i.g AS i, j.g AS j,
           i.g + 0.5 AS px, j.g + 0.5 AS py,
           CAST((i.g * 31 + j.g * 17) % 97 AS DOUBLE) / 3.0 AS pixel_value
    FROM generate_series(0, 99) i(g) CROSS JOIN generate_series(0, 49) j(g)
)
SELECT poly_id, name,
       round(avg(pixel_value), 4) AS mean_value,
       max(pixel_value) AS max_value,
       min(pixel_value) AS min_value,
       count(*) AS pixel_count
FROM pixels JOIN polys
  ON px >= x0 AND px < x1 AND py >= y0 AND py < y1
GROUP BY poly_id, name
""",
    tags=("J6", "A15", "geo", "zonal"),
    doc="Zonal stats: pixel-in-polygon theta join + per-polygon aggregates.",
)
def geo_j6_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = catalog.load_table(spark, sf_dir, "nation")
    one = nation.limit(1).select(F.lit(1).alias("one"))
    return geo.zonal_stats(geo.synth_polygons(nation), geo.pixel_grid(one))


def _tm_oracle_sql() -> str:
    """DuckDB replay of the C19 Krüger-series UTM transform
    (operators/geo.py:utm_forward/utm_inverse) — hyperbolics expanded
    to exp/ln (absent as builtins in DuckDB 1.0); cm-level rounding
    absorbs libm ulp differences."""
    # double literals: bare decimals parse as DECIMAL in DuckDB and
    # overflow on multiplication — force an exponent suffix.
    def dlit(v: float) -> str:
        r = repr(float(v))
        return r if "e" in r or "E" in r else r + "e0"

    # k0*A precomputed in Python — the same float product the Spark
    # side folds before touching Columns.
    K0A = dlit(geo._UTM_K0 * geo._TM_RADIUS)
    C = dlit(geo._TM_C)
    a1, a2, a3, a4 = (dlit(v) for v in geo._TM_ALPHA)
    b1, b2, b3, b4 = (dlit(v) for v in geo._TM_BETA)
    d1, d2, d3, d4 = (dlit(v) for v in geo._TM_DELTA)

    def SINH(x: str) -> str:
        return f"((exp({x}) - exp(-({x}))) / 2)"

    def COSH(x: str) -> str:
        return f"((exp({x}) + exp(-({x}))) / 2)"

    def ATANH(x: str) -> str:
        return f"(0.5 * ln((1 + ({x})) / (1 - ({x}))))"

    return f"""
WITH pts AS (
    SELECT n_nationkey AS pt_id,
           28.6 + CAST(n_nationkey * 7 % 24 AS DOUBLE) / 10.0 AS lon,
           -3.05 + CAST(n_nationkey * 11 % 22 AS DOUBLE) / 10.0 AS lat
    FROM nation
),
s1 AS (
    SELECT pt_id, lon, lat,
           sin(radians(lat)) AS sphi,
           radians(lon) - radians(27.0) AS lam
    FROM pts
),
s2 AS (
    SELECT *, {SINH(f"{ATANH('sphi')} - {C} * {ATANH(f'{C} * sphi')}")} AS t
    FROM s1
),
s3 AS (
    SELECT *,
           atan2(t, cos(lam)) AS xip,
           {ATANH('sin(lam) / sqrt(1 + t * t)')} AS etap
    FROM s2
),
s4 AS (
    SELECT *,
           xip + {a1} * sin(2 * xip) * {COSH('2 * etap')}
               + {a2} * sin(4 * xip) * {COSH('4 * etap')}
               + {a3} * sin(6 * xip) * {COSH('6 * etap')}
               + {a4} * sin(8 * xip) * {COSH('8 * etap')} AS xi,
           etap + {a1} * cos(2 * xip) * {SINH('2 * etap')}
                + {a2} * cos(4 * xip) * {SINH('4 * etap')}
                + {a3} * cos(6 * xip) * {SINH('6 * etap')}
                + {a4} * cos(8 * xip) * {SINH('8 * etap')} AS eta
    FROM s3
),
s5 AS (
    SELECT pt_id, lon, lat,
           500000.0 + {K0A} * eta AS E,
           10000000.0 + {K0A} * xi AS N
    FROM s4
),
i1 AS (
    SELECT *,
           (N - 10000000.0) / {K0A} AS xi2,
           (E - 500000.0) / {K0A} AS eta2
    FROM s5
),
i2 AS (
    SELECT *,
           xi2 - ({b1} * sin(2 * xi2) * {COSH('2 * eta2')}
                + {b2} * sin(4 * xi2) * {COSH('4 * eta2')}
                + {b3} * sin(6 * xi2) * {COSH('6 * eta2')}
                + {b4} * sin(8 * xi2) * {COSH('8 * eta2')}) AS xip2,
           eta2 - ({b1} * cos(2 * xi2) * {SINH('2 * eta2')}
                 + {b2} * cos(4 * xi2) * {SINH('4 * eta2')}
                 + {b3} * cos(6 * xi2) * {SINH('6 * eta2')}
                 + {b4} * cos(8 * xi2) * {SINH('8 * eta2')}) AS etap2
    FROM i1
),
i3 AS (
    SELECT *, asin(sin(xip2) / {COSH('etap2')}) AS chi FROM i2
),
i4 AS (
    SELECT *,
           chi + {d1} * sin(2 * chi) + {d2} * sin(4 * chi)
               + {d3} * sin(6 * chi) + {d4} * sin(8 * chi) AS phi,
           atan2({SINH('etap2')}, cos(xip2)) AS lam2
    FROM i3
)
SELECT pt_id,
       round(lon, 6) AS lon,
       round(lat, 6) AS lat,
       round(E, 2) AS easting,
       round(N, 2) AS northing,
       round(27.0 + degrees(lam2), 6) AS lon_rt,
       round(degrees(phi), 6) AS lat_rt
FROM i4
"""


@register(
    "geo_c19_utm_roundtrip",
    oracle=_tm_oracle_sql(),
    tags=("C19", "geo", "reprojection"),
    doc="Real CRS reprojection (no pyproj): WGS84 -> UTM 35S -> WGS84 "
    "via the Krüger flattening series as pure Column math, on "
    "deterministic Rwanda-bounds points (geoJson_slope_etl_view.py:"
    "341-393). Roundtrip columns pin the inverse transform.",
)
def geo_c19_utm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround as _fr

    nation = catalog.load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    pts = nation.select(
        k.alias("pt_id"),
        (28.6 + (k * 7 % 24).cast("double") / 10.0).alias("lon"),
        (-3.05 + (k * 11 % 22).cast("double") / 10.0).alias("lat"),
    )
    e, n = geo.utm_forward(F.col("lon"), F.col("lat"), geo.UTM_SOUTH_LON0[32735])
    with_en = pts.withColumn("E", e).withColumn("N", n)
    lon2, lat2 = geo.utm_inverse(F.col("E"), F.col("N"), geo.UTM_SOUTH_LON0[32735])
    return with_en.select(
        "pt_id",
        _fr(F.col("lon"), 6).alias("lon"),
        _fr(F.col("lat"), 6).alias("lat"),
        _fr(F.col("E"), 2).alias("easting"),
        _fr(F.col("N"), 2).alias("northing"),
        _fr(lon2, 6).alias("lon_rt"),
        _fr(lat2, 6).alias("lat_rt"),
    )


# ===========================================================================
# S6 — catalog discovery (collection inventory → table inventory)
# ===========================================================================


@register(
    "s6_catalog_summary",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
        for t in catalog.TABLES
    ),
    tags=("S6", "catalog"),
    doc="Catalog discovery: per-table row inventory (the reference's "
    "collection/metadata scan, malaria_api_calculator_etl_view.py:131-209).",
)
def s6_catalog_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    dfs = [
        catalog.load_table(spark, sf_dir, t)
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in catalog.TABLES
    ]
    return reduce(lambda a, b: a.unionByName(b), dfs)


# ===========================================================================
# Remaining inventory: A12, A16, O4, C12, kNN join
# ===========================================================================


@register(
    "wx_a12_response_summary",
    oracle=(
        "WITH merged AS (\n"
        + REGISTRY["wx_j1_precip_temp_merge"].oracle
        + """
)
SELECT
    count(*) AS n_rows,
    round(avg(precipitation), 2) AS avg_precip,
    round(avg(temperature), 2) AS avg_temp,
    count(DISTINCT station) AS n_stations,
    count(DISTINCT year) AS n_years,
    count(DISTINCT month) AS n_months,
    CAST(sum(CASE WHEN has_precip_data THEN 1 ELSE 0 END) AS BIGINT)
        AS months_with_precip,
    CAST(sum(CASE WHEN has_temp_data THEN 1 ELSE 0 END) AS BIGINT)
        AS months_with_temp
FROM merged
"""
    ),
    tags=("A12", "aggregation"),
    doc="Weather response summary over the merged frame "
    "(weather_data_prec_temp_etl_view.py:870-893).",
)
def wx_a12_response_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = catalog.load_table(spark, sf_dir, "events")
    merged = wx.merge_precip_temp(precip_readings(ev), temp_readings(ev))
    from .functions.exact import fround as _fr

    return merged.agg(
        F.count("*").alias("n_rows"),
        _fr(F.avg("precipitation"), 2).alias("avg_precip"),
        _fr(F.avg("temperature"), 2).alias("avg_temp"),
        F.countDistinct("station").alias("n_stations"),
        F.countDistinct("year").alias("n_years"),
        F.countDistinct("month").alias("n_months"),
        F.sum(F.when(F.col("has_precip_data"), 1).otherwise(0))
        .cast("long")
        .alias("months_with_precip"),
        F.sum(F.when(F.col("has_temp_data"), 1).otherwise(0))
        .cast("long")
        .alias("months_with_temp"),
    )


@register(
    "a16_process_stats",
    oracle="""
SELECT event_type AS process_type,
       count(*) AS runs,
       count(DISTINCT user_id) AS distinct_users,
       round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 2) AS value_total
FROM events
GROUP BY event_type
""",
    tags=("A16", "aggregation"),
    doc="Per-process success/volume stats (mongo_saver.py:298-402).",
)
def a16_process_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import exact_sum

    return (
        catalog.load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("process_type"))
        .agg(
            F.count("*").alias("runs"),
            F.countDistinct("user_id").alias("distinct_users"),
            exact_sum(F.col("value"), 2).alias("value_total"),
        )
    )


@register(
    "o4_preview_limit",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_orderkey
LIMIT 5
""",
    tags=("O4", "limit"),
    doc="Preview LIMIT (geospatial_merger/views.py:174-178).",
)
def o4_preview_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        catalog.load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
        .limit(5)
    )


@register(
    "geo_c12_slope_class",
    oracle=f"""WITH {_POLY_CTE.strip()}
SELECT CASE WHEN slope < 5 THEN 'Flat'
            WHEN slope < 15 THEN 'Moderate'
            WHEN slope < 30 THEN 'Steep'
            ELSE 'Very Steep' END AS slope_class,
       count(*) AS n_polygons,
       round(avg(slope), 4) AS avg_slope
FROM polys
GROUP BY slope_class
""",
    tags=("C12", "geo", "aggregation"),
    doc="Slope classification histogram (batch_processor.py:464-473).",
)
def geo_c12_slope_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.cleaning import slope_class
    from .functions.exact import fround as _fr

    polys = geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))
    return polys.groupBy(slope_class(F.col("slope")).alias("slope_class")).agg(
        F.count("*").alias("n_polygons"),
        _fr(F.avg("slope"), 4).alias("avg_slope"),
    )


@register(
    "sim_knn_join",
    oracle=f"""WITH {_EMB_CTE.strip()},
bits AS (
    SELECT GREATEST(4, LEAST(16,
             length(format('{{:b}}', ((count(*) + 255) // 256) - 1)))) AS nb
    FROM emb
),
b AS (
    SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv,
           CAST({_BUCKET16_SQL} & ((1 << (SELECT nb FROM bits)) - 1)
                AS INTEGER) AS bucket
    FROM emb
),
pairs AS (
    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           round(list_inner_product(a.nv, b2.nv), 6) AS cosine_sim
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
)
SELECT vec_a, vec_b, cosine_sim FROM (
    SELECT vec_a, vec_b, cosine_sim,
           row_number() OVER (PARTITION BY vec_a
                              ORDER BY cosine_sim DESC, vec_b ASC) AS rn
    FROM pairs
) t
WHERE rn <= 3
""",
    tags=("similarity", "knn", "window", "scale-shape"),
    bench=True,
    doc="Batch kNN self-join: top-3 neighbors per vector within its "
    "sign-LSH bucket (window + rank over bucketed pairs). The bucket "
    "count ADAPTS to the corpus (bits = clamp(bitlen(ceil(n/256)-1), "
    "4, 16), integer-exact in both engines) so expected bucket size "
    "stays ~256 and pair volume stays ~n*256 — the round-5 scale "
    "curve measured the previous fixed-16-bucket form going quadratic "
    "(2.3s -> 38s for 4x data); at sf-gate sizes (n <= 4096) the "
    "assignment is bit-identical to the historical 4-bit form.",
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.knn_join_adaptive(emb)


@register(
    "hc_a17_dashboard_kpis",
    oracle=semantic.with_lab_cte("""
SELECT
    district,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate,
    count(DISTINCT sector) AS sectors_count,
    count(DISTINCT village) AS villages_count
FROM lab
GROUP BY district
"""),
    tags=("A17", "dashboard", "aggregation"),
    doc="Dashboard KPI roll-up per district: totals + distinct-location "
    "counts (analytics_dashboard/views.py:231-454, pinned by "
    "tests/test_analytics_dashboard.py).",
)
def hc_a17_dashboard_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = _lab(spark, sf_dir)
    from .functions.cleaning import positivity_rate

    return lab.groupBy("district").agg(
        F.count("*").alias("total_tests"),
        F.sum("is_positive").cast("long").alias("positive_cases"),
        positivity_rate(F.sum("is_positive"), F.count("*")).alias("positivity_rate"),
        F.countDistinct("sector").alias("sectors_count"),
        F.countDistinct("village").alias("villages_count"),
    )


@register(
    "hc_rollup_positivity",
    oracle=semantic.with_lab_cte("""
SELECT
    year,
    district,
    count(*) AS total_tests,
    CAST(sum(is_positive) AS BIGINT) AS positive_cases,
    round(100.0 * sum(is_positive) / count(*), 2) AS positivity_rate
FROM lab
GROUP BY ROLLUP (year, district)
"""),
    tags=("rollup", "grouping-sets", "aggregation"),
    doc="Multi-granularity positivity in ONE pass via ROLLUP — the "
    "Spark-first consolidation of the reference's separate per-"
    "granularity groupbys (SURVEY.md §2.5 closing note): "
    "(year, district), (year), and grand total share a single scan "
    "and partial-aggregation phase.",
)
def hc_rollup_positivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.cleaning import positivity_rate

    lab = _lab(spark, sf_dir)
    return lab.rollup("year", "district").agg(
        F.count("*").alias("total_tests"),
        F.sum("is_positive").cast("long").alias("positive_cases"),
        positivity_rate(F.sum("is_positive"), F.count("*")).alias("positivity_rate"),
    )


@register(
    "json_props_stats",
    oracle="""
SELECT event_type,
       count(*) AS n,
       min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 2) AS k_avg,
       CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS k_missing
FROM events
GROUP BY event_type
""",
    tags=("json", "semi-structured", "aggregation"),
    doc="Semi-structured JSON property extraction + stats over the "
    "events props column (the reference's JSON-encoded TEXT fields, "
    "SURVEY.md §1.2 / postgresql_service.py:546-553).",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround as _fr

    ev = catalog.load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        _fr(F.avg(k), 2).alias("k_avg"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).cast("long").alias("k_missing"),
    )


@register(
    "dedup_apply_survivors",
    oracle=r"""
WITH groups AS (
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY fp
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN groups g ON d.doc_id = g.keep_doc_id
""",
    tags=("dedup", "apply"),
    doc="Dedup APPLY step: corpus reduced to one representative per "
    "fingerprint group (the output a training pipeline feeds forward).",
)
def dedup_apply_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    keep = dd.exact_dedup_groups(docs).select("keep_doc_id")
    return docs.join(
        keep, docs.doc_id == keep.keep_doc_id, "left_semi"
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "dedup_line_level_apply",
    oracle=r"""
WITH base AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
seg AS (
    SELECT doc_id, u.i AS seg_no,
           array_to_string(toks[(u.i*10+1):(u.i*10+10)], ' ') AS segment
    FROM base, unnest(range(0, CAST(ceil(len(toks)/10.0) AS INT))) AS u(i)
),
ranked AS (
    SELECT doc_id, seg_no, segment,
           row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(segment)),
                                               '\s+', ' ', 'g'))
               ORDER BY doc_id, seg_no) AS rn
    FROM seg
),
keptagg AS (
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_kept,
           string_agg(segment, ' ' ORDER BY seg_no) AS kept_text
    FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(ceil(len(b.toks)/10.0) AS INTEGER) AS n_segments,
       coalesce(k.n_kept, 0) AS n_kept,
       CAST(ceil(len(b.toks)/10.0) AS INTEGER) - coalesce(k.n_kept, 0)
           AS n_dropped,
       coalesce(k.kept_text, '') AS kept_text
FROM base b LEFT JOIN keptagg k USING (doc_id)
""",
    tags=("dedup", "line-level", "apply", "c4"),
    bench=True,
    doc="Sub-document first-occurrence dedup + reassembly "
    "(operators/subdoc.py::segment_dedup_apply) — the C4/CCNet corpus "
    "pass: every distinct segment survives exactly once corpus-wide "
    "at its first (doc_id, seg_no) occurrence; docs are rebuilt from "
    "their surviving segments.  Segmentation here is the 10-token "
    "non-overlapping window proxy (functions/segments.py::"
    "token_window_segments — the corpus is single-line; a real corpus "
    "splits on newlines and feeds the identical operator).  Scale "
    "plan: explode -> ONE map-side-combinable groupBy(fp).min(struct) "
    "whose result IS the survivor set (no join back against the "
    "exploded table, so a boilerplate segment repeated 1e9 times "
    "costs only its partial-aggregate rows) -> per-doc reassembly -> "
    "doc_id equi-join.  Distinct from dedup_substring_spans "
    "(remove-ALL-copies of repeated windows) and "
    "dedup_apply_survivors (whole-doc granularity): this keeps the "
    "FIRST copy at segment granularity, the semantics C4 §2.2 "
    "describes.",
)
def dedup_line_level_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.segments import token_window_segments
    from .operators import subdoc

    docs = catalog.load_table(spark, sf_dir, "documents")
    return subdoc.segment_dedup_apply(
        docs, token_window_segments(F.col("text"), 10)
    )


@register(
    "text_length_histogram",
    oracle="""
SELECT CAST(floor(n_chars / 100) AS INTEGER) AS bucket_100chars,
       count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY bucket_100chars
""",
    tags=("text", "histogram", "binning"),
    doc="Document-length histogram (100-char bins) — the size-"
    "distribution profile a curator reads before length filtering.",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.floor(F.col("n_chars") / 100).cast("int").alias("bucket_100chars")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "u3_except_missing_keys",
    oracle="""
SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0
EXCEPT
SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
""",
    tags=("U3", "set-op"),
    doc="Set difference (requested-minus-available validation shape, "
    "malaria_api_calculator_etl_view.py:672-683) in the data plane.",
)
def u3_except_missing_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = catalog.load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 != 0).select("o_orderkey")
    b = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    return a.exceptAll(b).distinct()


# LIBRARY SURFACE, deliberately unregistered (VERDICT r9 next-round
# #8, oracle hygiene): GK/HLL sketch values are engine-specific by
# design, so a registered form could only ever earn a weak rows-only
# driver row. The sketch tier's REGISTERED form is
# a13_sketch_vs_exact_bounds, which runs the identical
# percentile_approx / approx_count_distinct sketches live and
# value-pins their published error bounds against the DuckDB-replayed
# exact side — strictly stronger than the rows-only check this
# builder used to get. Kept callable (and unit-tested in
# tests/test_reference_semantics.py) as the production scale path.
def a13_approx_quantiles_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = catalog.load_table(spark, sf_dir, "lineitem")
    # one sketch pass, then scalar columns (driver-canonicalizable —
    # an array<double> output crashes the harness's sort_values).
    sketch = li.agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75, 0.95], 10000).alias(
            "pq"
        ),
        F.approx_count_distinct("l_partkey").alias("approx_distinct_parts"),
    )
    return sketch.select(
        F.col("pq")[0].alias("price_p25"),
        F.col("pq")[1].alias("price_p50"),
        F.col("pq")[2].alias("price_p75"),
        F.col("pq")[3].alias("price_p95"),
        "approx_distinct_parts",
    )


_SKETCH_QS = (0.25, 0.5, 0.75, 0.95)


@register(
    "a13_sketch_vs_exact_bounds",
    oracle="\nUNION ALL\n".join(
        f"SELECT 'p{int(q * 100)}' AS metric,"
        f" round(quantile_cont(l_extendedprice, {q}), 4) AS exact_value,"
        f" TRUE AS within_bound FROM lineitem"
        for q in _SKETCH_QS
    )
    + "\nUNION ALL\nSELECT 'ndv_parts', CAST(count(DISTINCT l_partkey)"
    " AS DOUBLE), TRUE FROM lineitem",
    tags=("A13", "approx", "error-bound", "gate-check"),
    doc="Driver-visible error-bound check for the sanctioned sketch "
    "tier (VERDICT r6 #6): one row per quantile of "
    "a13_approx_quantiles_scale's GK sketch plus the HLL distinct "
    "count, each carrying the EXACT value (engine-cross-checked "
    "against DuckDB) and a boolean asserting the sketch held its "
    "published bound — GK accuracy=10000 must return a value whose "
    "rank interval [count(<v)+1, count(<=v)] intersects "
    "[qn - n/10000 - 2, qn + n/10000 + 2] (the +-2 absorbs the "
    "0- vs 1-based rank-target convention, negligible once n is "
    "large); HLL (rsd 0.05) within 3 sigma of exact. The booleans are computed in Spark from the live sketch "
    "(a bound violation flips them and breaks the value hash); the "
    "oracle replays the exact side and pins the booleans TRUE.",
)
def a13_sketch_vs_exact_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround

    li = catalog.load_table(spark, sf_dir, "lineitem")
    one = li.agg(
        F.percentile_approx(
            "l_extendedprice", list(_SKETCH_QS), 10000
        ).alias("pa"),
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(q) for q in _SKETCH_QS])
        ).alias("pe"),
        F.approx_count_distinct("l_partkey").alias("ndv_a"),
        F.count_distinct("l_partkey").alias("ndv_e"),
        F.count("l_extendedprice").alias("n"),
    )
    # rank the sketch outputs in one conditional-aggregate pass over
    # the fact table (1-row broadcast crossJoin — the sanctioned
    # scalar-composition shape)
    ranked = (
        li.crossJoin(F.broadcast(one))
        .agg(
            *[
                F.sum(
                    (F.col("l_extendedprice") <= F.col("pa")[i]).cast("long")
                ).alias(f"rle{i}")
                for i in range(len(_SKETCH_QS))
            ],
            *[
                F.sum(
                    (F.col("l_extendedprice") < F.col("pa")[i]).cast("long")
                ).alias(f"rlt{i}")
                for i in range(len(_SKETCH_QS))
            ],
            F.first("pe").alias("pe"),
            F.first("n").alias("n"),
            F.first("ndv_a").alias("ndv_a"),
            F.first("ndv_e").alias("ndv_e"),
        )
    )
    eps_n = F.col("n") / F.lit(10000.0)
    rows = [
        F.struct(
            F.lit(f"p{int(q * 100)}").alias("metric"),
            fround(F.col("pe")[i], 4).alias("exact_value"),
            (
                (F.col(f"rle{i}") >= q * F.col("n") - eps_n - 2)
                & (F.col(f"rlt{i}") + 1 <= q * F.col("n") + eps_n + 2)
            ).alias("within_bound"),
        )
        for i, q in enumerate(_SKETCH_QS)
    ] + [
        F.struct(
            F.lit("ndv_parts").alias("metric"),
            F.col("ndv_e").cast("double").alias("exact_value"),
            (
                F.abs(F.col("ndv_a") - F.col("ndv_e"))
                <= 0.15 * F.col("ndv_e")
            ).alias("within_bound"),
        )
    ]
    return ranked.select(F.explode(F.array(*rows)).alias("m")).select("m.*")


@register(
    "dedup_connected_components",
    oracle=f"""{_MINHASH_CC}
SELECT node AS doc_id, min(label) AS component
FROM cc GROUP BY node
""",
    tags=("dedup", "clustering", "iterative"),
    bench=True,
    doc="Near-dup clusters: connected components over the MinHash-LSH "
    "pair graph (the scale path: edges come from banded candidate "
    "generation, not an all-pairs Jaccard) via iterative min-label "
    "propagation; oracle = recursive CTE over the same LSH replay.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    edges = dd.minhash_lsh_pairs(docs, threshold=0.8)
    return dd.connected_components(edges)


@register(
    "curation_leakage_safe_split",
    oracle=f"""{_MINHASH_CC},
comp AS (SELECT node AS doc_id, min(label) AS component
         FROM cc GROUP BY node),
assign AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id, {_split_case("cluster_id")} AS split
FROM assign
""",
    tags=("curation", "split", "dedup", "leakage", "llm-pipeline"),
    bench=True,
    doc="Leakage-safe train/val/test split "
    "(operators/subdoc.py::leakage_safe_split): the assignment unit is "
    "the NEAR-DUP CLUSTER (MinHash-LSH pairs -> connected components; "
    "singletons cluster as themselves), bucketed by "
    "md5_int32('split-' || cluster_id) %% 100 into 80/10/10 — so "
    "near-duplicate documents can never straddle the train/eval "
    "boundary (the doc-level random split leaks memorized text into "
    "eval; Lee et al. 2021's dedup-before-split rule / group-aware "
    "split semantics at corpus scale).  Composes the verified LSH + "
    "CC chains; the oracle splices the recursive-CTE CC replay into "
    "the split arithmetic.  Leakage-freedom is BY CONSTRUCTION "
    "(cluster id determines the bucket) and pinned structurally in "
    "tests/test_dedup_similarity.py incl. the naive-split contrast.",
)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    edges = dd.minhash_lsh_pairs(docs, threshold=0.8)
    from .operators import subdoc

    comp = dd.connected_components(edges)
    return subdoc.leakage_safe_split(docs, comp)


def _residue_preds(*cuts: int) -> list:
    """The ingest generations over ``id % 10`` cut points (the
    ``_split_oracle`` convention): the index ``< cuts[0]``, batch k
    ``cuts[k-1]..cuts[k]-1`` and the last batch ``>= cuts[-1]``, each
    a Column -> Column membership predicate."""
    preds = [lambda c, hi=cuts[0]: c % 10 < hi]
    for lo, hi in zip(cuts, cuts[1:]):
        preds.append(lambda c, lo=lo, hi=hi: (c % 10 >= lo) & (c % 10 < hi))
    preds.append(lambda c, lo=cuts[-1]: c % 10 >= lo)
    return preds


def _persisted_split(
    spark: SparkSession, sf_dir: str, kind: str, cuts: tuple, compact: bool
) -> DataFrame:
    """Persisted-split prologue and query: the cluster table over the
    index generation of ``cuts`` with every middle batch folded in
    (ensured per process under the ``kind`` fixture dir), then the
    last batch assigned against it."""
    import os

    from .operators import splitting

    docs = catalog.load_table(spark, sf_dir, "documents")
    index_pred, *folds, batch_pred = _residue_preds(*cuts)
    path = _roundtrip_path(kind, sf_dir)
    splitting.ensure_cluster_table(
        docs, index_pred, folds, path, compact=compact
    )
    iclu = spark.read.parquet(os.path.join(path, "clusters"))
    pairs = splitting.incremental_pairs_vs_index(docs, batch_pred, path)
    return splitting.incremental_leakage_safe_split(
        docs, iclu, pairs, batch_pred
    )


@register(
    "curation_incremental_split_indexed",
    oracle=_split_oracle(8),
    tags=("curation", "split", "dedup", "leakage", "incremental",
          "persisted", "llm-pipeline"),
    bench=True,
    doc="INCREMENTAL leakage-safe split over a PERSISTED cluster "
    "table (operators/splitting.py::ensure_cluster_table; closing "
    "curation_leakage_safe_split's recompute shape): the index "
    "corpus's (doc_id, cluster_id) artifact and its band-hash table "
    "are built once (ensured per process by the shared re-run ledger, "
    "functions/compaction.py::ensure_artifact, row-count check) "
    "and the arriving batch (doc_id %% 10 >= 8, the "
    "dedup_minhash_incremental convention) is band-hashed ALONE "
    "(20%% of the corpus), its candidates read against the index "
    "side from parquet (operators/splitting.py::"
    "incremental_pairs_vs_index via incremental_minhash_pairs' "
    "tagged injection point), so signature derivation is batch-"
    "sized. Labels are CLUSTER-STABLE: index docs' splits depend on "
    "the persisted table alone and NEVER change under ingest (pinned "
    "in tests/test_incremental.py); a batch component anchored to "
    "index clusters adopts min(anchor cluster) and, when every "
    "anchor lies in one split, that split; split-conflicted "
    "components are QUARANTINED rather than leaked; unanchored "
    "components self-cluster and bucket fresh. Full value oracle: "
    "one set of band-hash fragments feeds both the index LSH+CC "
    "replay and the batch-restricted candidates, then both "
    "recursive-CTE fixpoints, anchor resolution and bucket "
    "arithmetic replay the label rules verbatim.",
)
def curation_incremental_split_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _persisted_split(
        spark, sf_dir, "index_clusters", (8,), compact=False
    )


@register(
    "curation_cluster_table_update",
    oracle=_split_oracle(6, 8),
    tags=("curation", "split", "dedup", "leakage", "incremental",
          "persisted", "maintenance", "llm-pipeline"),
    bench=True,
    doc="Incremental MAINTENANCE of the persisted cluster table "
    "(operators/splitting.py::ensure_cluster_table with one batch, "
    "folded by fold_batch_into_cluster_table — "
    "VERDICT r10 'What's missing' #2: staleness must never trigger a "
    "full rebuild). Three corpus generations: the index (doc_id%%10<6) "
    "is built once; batch1 (%%10 in 6,7) is ASSIGNED from the table "
    "and then FOLDED in — non-default cluster rows and the batch's "
    "band hashes are APPENDED (no stored row is ever rewritten; "
    "labels are cluster-stable by construction), quarantined "
    "components keep their stored 'quarantine' split (NOT derivable "
    "from the cluster id — the r11 stored-split column exists for "
    "exactly this); batch2 (%%10>=8) is then assigned against the "
    "FOLDED artifacts, so its candidates anchor onto batch1 docs "
    "through the appended band rows without any signature "
    "re-derivation. Returns the full-corpus (doc_id, cluster_id, "
    "split). Fold-equals-stateless pinned in tests/test_incremental.py; "
    "the full composed value oracle replays index CC, both ingest "
    "assignments and the folded read-side coalesce semantics.",
)
def curation_cluster_table_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _persisted_split(
        spark, sf_dir, "cluster_fold", (6, 8), compact=False
    )


@register(
    "curation_cluster_table_lifecycle",
    oracle=_split_oracle(4, 6, 8),
    tags=("curation", "split", "dedup", "leakage", "incremental",
          "persisted", "maintenance", "lifecycle", "llm-pipeline"),
    bench=True,
    doc="STEADY-STATE multi-ingest lifecycle of the persisted cluster "
    "table (operators/splitting.py::ensure_cluster_table with two "
    "batches and compaction — "
    "VERDICT r11 'What's missing' #2: the r11 ledger pinned folds==1, "
    "so no registered query ran the week-2-onward loop). Four corpus "
    "generations: the index (doc_id%%10<4) is built once; batch1 "
    "(%%10 in 4,5) is assigned from the table and FOLDED in; batch2 "
    "(%%10 in 6,7) is assigned against the ONCE-folded artifacts and "
    "folded in turn — its candidates anchor onto batch1 docs through "
    "the appended band rows, and a stored 'quarantine' split "
    "PROPAGATES through the chain (a near-dup of quarantined content "
    "is itself quarantined); the fragmented artifacts are then "
    "COMPACTED (functions/compaction.py — bit-identical); batch3 (%%10>=8) is assigned against the "
    "twice-folded, compacted state. Returns the full-corpus (doc_id, "
    "cluster_id, split). The shared ledger (functions/compaction.py::"
    "ensure_artifact) keys on batch count + row count and is written "
    "once after the compaction, so replaying any batch is refused and "
    "no partial chain validates; chained-fold quarantine "
    "propagation is pinned in tests/test_incremental.py and "
    "post-compaction bit-identity in tests/test_compaction.py. The "
    "value oracle replays all three ingest generations and the "
    "folded-read coalesce semantics; compaction is invisible to it "
    "by the bit-identity contract.",
)
def curation_cluster_table_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _persisted_split(
        spark, sf_dir, "cluster_lifecycle", (4, 6, 8), compact=True
    )


@register(
    "text_tfidf_top_terms",
    oracle=rf"""WITH {_DOC_CTE.strip()},
tok AS (SELECT doc_id, unnest(ltoks) AS token FROM doc_t),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, count(*) AS df
       FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf, CAST(rn AS INTEGER) AS rank FROM (
    SELECT doc_id, token, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, token ASC) AS rn
    FROM scored
) t WHERE rn <= 3
""",
    tags=("text", "tfidf", "window"),
    bench=True,
    doc="Per-document top-3 TF-IDF terms (explode → tf/df aggs → "
    "windowed rank).",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.tfidf_top_terms(catalog.load_table(spark, sf_dir, "documents"))


_BM25_TERMS = ("spark", "merge", "window")


@register(
    "text_bm25_topk",
    oracle=rf"""WITH doc_t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS ltoks
    FROM documents
),
tok AS (SELECT doc_id, unnest(ltoks) AS token FROM doc_t),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM dl),
qterms AS (SELECT unnest({list(_BM25_TERMS)!r}) AS token),
qtok AS (SELECT doc_id, token FROM tok JOIN qterms USING (token)),
tf AS (SELECT doc_id, token, count(*) AS tf FROM qtok GROUP BY doc_id, token),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
    SELECT tf.doc_id,
           round(CAST(sum(CAST(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
           AS DECIMAL(30,8))) AS DOUBLE), 6) AS bm25,
           CAST(count(*) AS INTEGER) AS n_matched_terms
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats s
    GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER)
           AS rank,
       doc_id, bm25, n_matched_terms
FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 10
""",
    tags=("text", "bm25", "retrieval", "topk"),
    bench=True,
    doc="BM25 ranked retrieval (operators/retrieval.py::bm25_topk; "
    "Robertson & Zaragoza 2009, Lucene non-negative idf variant) for "
    "a fixed query-term bag — the retrieval primitive behind "
    "query-driven decontamination / data selection.  Broadcast "
    "query-term semi-join prunes the corpus BEFORE the tf shuffle; "
    "df table broadcasts; top-k is TakeOrderedAndProject (never a "
    "global sort); per-doc term sums ride the exact-decimal path so "
    "the score is aggregation-order-free; ranks assigned after "
    "rounding over exactly k rows.  FULL value oracle incl. idf, "
    "length normalization and ranking.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import retrieval

    return retrieval.bm25_topk(
        catalog.load_table(spark, sf_dir, "documents"),
        list(_BM25_TERMS),
        k=10,
    )


@register(
    "text_bigram_perplexity",
    oracle=r"""WITH doc_t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS ltoks
    FROM documents
),
bg AS (
    SELECT doc_id, array_to_string(ltoks[u.i:u.i+1], ' ') AS gram
    FROM doc_t, unnest(range(1, len(ltoks))) AS u(i)
),
c2 AS (SELECT gram, count(*) AS c2 FROM bg GROUP BY gram),
c1 AS (SELECT split_part(gram, ' ', 1) AS w1, sum(c2) AS c1
       FROM c2 GROUP BY split_part(gram, ' ', 1)),
vv AS (SELECT count(DISTINCT token) AS v FROM (
           SELECT unnest(ltoks) AS token FROM doc_t)),
per_doc AS (
    SELECT bg.doc_id,
           CAST(count(*) AS INTEGER) AS n_bigrams,
           round(CAST(sum(CAST(
               -ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vv.v))
           AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6) AS mean_nll
    FROM bg
    JOIN c2 USING (gram)
    JOIN c1 ON c1.w1 = split_part(bg.gram, ' ', 1)
    CROSS JOIN vv
    GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, mean_nll,
       round(exp(mean_nll), 4) AS perplexity
FROM per_doc
""",
    tags=("text", "quality", "language-model", "perplexity", "curation"),
    bench=True,
    doc="Bigram-LM perplexity score (operators/retrieval.py::"
    "bigram_lm_scores) — the CCNet perplexity-filter shape one order "
    "up from text_unigram_logprob: Lidstone add-k bigram model "
    "trained on the corpus (context counts derived from the bigram "
    "table itself, never a second corpus pass; V as a one-row "
    "broadcast), per-doc mean NLL through the DECIMAL(30,8) "
    "quantize-then-sum discipline, perplexity = exp of the "
    "already-rounded mean.  Production note: a pretrained KenLM "
    "slots in as the same gram-keyed probability join.",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import retrieval

    return retrieval.bigram_lm_scores(catalog.load_table(spark, sf_dir, "documents"))


@register(
    "text_lm_apply_pretrained",
    # The oracle replays probabilities CLOSED-FORM: the Spark side
    # materializes + joins the full 27^4 = 531,441-row table, but
    # because the table is md5-generated, cnt(gram) and the 27-way
    # context sum are pure arithmetic over the corpus's own distinct
    # grams/prefixes — the same values the join produces, without
    # enumerating 531k SQL rows.
    oracle=r"""WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> x <> '')) AS token
    FROM documents
),
cl AS (
    SELECT doc_id, regexp_replace(token, '[^a-z]', '_', 'g') AS c FROM tok
),
g AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(c) + 2),
                  i -> substr('___' || c || '_', CAST(i AS INT), 4))) AS gram
    FROM cl
),
dg AS (SELECT DISTINCT gram FROM g),
dcnt AS (
    SELECT gram,
           ('0x' || substr(md5(gram), 1, 8))::BIGINT % 9000 + 1000 AS cnt
    FROM dg
),
dpre AS (SELECT DISTINCT substr(gram, 1, 3) AS prefix FROM dg),
alpha AS (
    SELECT unnest(list_transform(range(0, 27),
           i -> substr('abcdefghijklmnopqrstuvwxyz_', CAST(i AS INT) + 1, 1)))
        AS ch
),
ctx AS (
    SELECT p.prefix,
           CAST(sum(('0x' || substr(md5(p.prefix || a.ch), 1, 8))::BIGINT
                    % 9000 + 1000) AS BIGINT) AS ctx
    FROM dpre p CROSS JOIN alpha a GROUP BY p.prefix
),
lpu AS (
    SELECT d.gram,
           CAST(floor(ln(CAST(c.ctx AS DOUBLE) / d.cnt) * 1000000 + 0.5)
                AS BIGINT) AS lp_u
    FROM dcnt d JOIN ctx c ON c.prefix = substr(d.gram, 1, 3)
),
per_doc AS (
    SELECT g.doc_id,
           CAST(count(*) AS INTEGER) AS n_chargrams,
           round(CAST(sum(l.lp_u) AS DOUBLE) / 1000000.0 / count(*), 6)
               AS mean_nll
    FROM g JOIN lpu l USING (gram)
    GROUP BY g.doc_id
)
SELECT doc_id, n_chargrams, mean_nll,
       round(exp(mean_nll), 4) AS perplexity
FROM per_doc
""",
    tags=("text", "quality", "language-model", "pretrained",
          "perplexity", "curation", "llm-pipeline"),
    bench=True,
    doc="PRETRAINED-LM apply (operators/lm_pretrained.py; VERDICT r9 "
    "next-round #4 — the KenLM shape text_bigram_perplexity's "
    "docstring promises): per-doc perplexity against a FIXED "
    "531,441-gram character-4-gram model over the closed 27-symbol "
    "alphabet, the Cavnar-Trenkle/CLD char-n-gram profile shape. "
    "The table is deterministically generated (md5 pseudo-counts), "
    "so both engines hold the identical artifact: Spark materializes "
    "all 27^4 rows in-plan (spark.range digit decomposition — a few "
    "MB, broadcast, the merges.txt distribution model), derives the "
    "27^3-row context-total table FROM it with one exact-integer "
    "groupBy (the df-from-tf discipline), pre-computes each gram's "
    "NLL as integer micro-nats IN THE MODEL (floor(ln(ctx/cnt)*1e6 + "
    "0.5) — the pq LUT discipline: the transcendental math runs "
    "531k times at model build, ZERO times per corpus gram), and "
    "scores the corpus in ONE pass: token normalize -> padded 4-gram "
    "windows (padded token BOUND once per row via the 1-element-array "
    "trick — inlining it per window re-ran the regex O(len^2), which "
    "measurably serialized the first x200 cell) -> ONE broadcast "
    "gram-keyed join -> exact LONG per-doc sum -> mean + perplexity "
    "of the already-rounded mean. Closed vocabulary means "
    "no backoff ladder and every score exact; a word-level KenLM "
    "with backoff slots behind the same join as a coalesce ladder "
    "(wx_j1 shape). Apply cost is corpus-proportional and "
    "independent of table size — the scale bench measures the 27^3 "
    "(19,683-gram) tier against this one to pin the claim.",
)
def text_lm_apply_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lm_pretrained

    return lm_pretrained.chargram_lm_scores(
        catalog.load_table(spark, sf_dir, "documents")
    )


# Backoff-LM oracle (VERDICT r10 next-round #5): the whole model —
# hash-trick vocabulary, sparse kept-gram tables, context totals
# derived from them, deterministic backoff weights, integer micro-nat
# NLLs — regenerates closed-form from range() + md5 arithmetic, so
# every rung of the coalesce ladder replays exactly.  Both vocabulary
# tiers share ``dt`` (per-doc lowered tokens) and the model CTEs, which
# read per-doc wid lists ``wt`` (doc_id, ws) and end in the per-gram
# ladder ``scored``; a tier defines only its token -> wid map.
_BACKOFF_DT_CTE = r"""dt AS MATERIALIZED (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS ltoks
    FROM documents
)"""
_BACKOFF_MODEL_CTES = r"""g AS (
    SELECT doc_id, gg[1] AS a, gg[2] AS b, gg[3] AS c
    FROM (
        SELECT doc_id,
               unnest(list_transform(range(3, len(ws) + 1),
                      i -> [ws[i-2], ws[i-1], ws[i]])) AS gg
        FROM wt WHERE len(ws) >= 3
    ) u
),
tri0 AS (
    SELECT (id // 16384) % 128 AS a, (id // 128) % 128 AS b,
           id % 128 AS c
    FROM range(2097152) t(id)
),
tri1 AS MATERIALIZED (
    SELECT a, b, c,
           ('0x' || substr(md5('c3-' || a || '_' || b || '_' || c), 1, 8))::BIGINT
               % 9000 + 1000 AS cnt
    FROM tri0
    WHERE ('0x' || substr(md5('t3-' || a || '_' || b || '_' || c), 1, 8))::BIGINT
              % 10 < 1
),
ctx3 AS (SELECT a, b, sum(cnt) AS ctx FROM tri1 GROUP BY a, b),
tri AS (
    SELECT t.a, t.b, t.c,
           CAST(floor(ln(CAST(x.ctx AS DOUBLE) / t.cnt) * 1000000 + 0.5)
                AS BIGINT) AS nll3_u
    FROM tri1 t JOIN ctx3 x USING (a, b)
),
pairs AS MATERIALIZED (
    SELECT (id // 128) % 128 AS b, id % 128 AS c FROM range(16384) t(id)
),
bo3 AS (
    SELECT b AS a, c AS b,
           CAST(floor(ln(1000.0 /
                (('0x' || substr(md5('b3-' || b || '_' || c), 1, 8))::BIGINT
                 % 500 + 250)) * 1000000 + 0.5) AS BIGINT) AS bo3_u
    FROM pairs
),
bi1 AS MATERIALIZED (
    SELECT b, c,
           ('0x' || substr(md5('c2-' || b || '_' || c), 1, 8))::BIGINT
               % 9000 + 1000 AS cnt
    FROM pairs
    WHERE ('0x' || substr(md5('t2-' || b || '_' || c), 1, 8))::BIGINT % 10 < 4
),
ctx2 AS (SELECT b, sum(cnt) AS ctx FROM bi1 GROUP BY b),
bi AS (
    SELECT t.b, t.c,
           CAST(floor(ln(CAST(x.ctx AS DOUBLE) / t.cnt) * 1000000 + 0.5)
                AS BIGINT) AS nll2_u
    FROM bi1 t JOIN ctx2 x USING (b)
),
uni0 AS MATERIALIZED (
    SELECT id AS c,
           ('0x' || substr(md5('c1-' || id), 1, 8))::BIGINT % 9000 + 1000 AS cnt
    FROM range(128) t(id)
),
uni AS (
    SELECT c,
           CAST(floor(ln(CAST((SELECT sum(cnt) FROM uni0) AS DOUBLE) / cnt)
                      * 1000000 + 0.5) AS BIGINT) AS nll1_u
    FROM uni0
),
bo2 AS (
    SELECT id AS b,
           CAST(floor(ln(1000.0 /
                (('0x' || substr(md5('b2-' || id), 1, 8))::BIGINT
                 % 500 + 250)) * 1000000 + 0.5) AS BIGINT) AS bo2_u
    FROM range(128) t(id)
),
nll2bo AS (
    SELECT p.b, p.c,
           coalesce(bi.nll2_u, bo2.bo2_u + uni.nll1_u) AS nll2bo_u,
           bi.nll2_u IS NOT NULL AS has_bi
    FROM pairs p
    LEFT JOIN bi ON bi.b = p.b AND bi.c = p.c
    JOIN bo2 ON bo2.b = p.b
    JOIN uni ON uni.c = p.c
),
scored AS (
    SELECT g.doc_id,
           coalesce(t.nll3_u, b3.bo3_u + n2.nll2bo_u) AS nll_u,
           CASE WHEN t.nll3_u IS NULL THEN 1 ELSE 0 END AS bo,
           CASE WHEN t.nll3_u IS NULL AND NOT n2.has_bi THEN 1 ELSE 0 END AS bo1
    FROM g
    LEFT JOIN tri t ON t.a = g.a AND t.b = g.b AND t.c = g.c
    JOIN bo3 b3 ON b3.a = g.a AND b3.b = g.b
    JOIN nll2bo n2 ON n2.b = g.b AND n2.c = g.c
)"""

_BACKOFF_LM_ORACLE = rf"""WITH
{_BACKOFF_DT_CTE},
wt AS (
    SELECT doc_id,
           list_transform(ltoks,
               t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 128) AS ws
    FROM dt
),
{_BACKOFF_MODEL_CTES}
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_grams,
       CAST(sum(bo) AS INTEGER) AS n_bigram_backoffs,
       CAST(sum(bo1) AS INTEGER) AS n_unigram_backoffs,
       round(CAST(sum(nll_u) AS DOUBLE) / 1000000.0 / count(*), 6)
           AS mean_nll,
       round(exp(round(CAST(sum(nll_u) AS DOUBLE) / 1000000.0 / count(*), 6)),
             4) AS perplexity
FROM scored GROUP BY doc_id
"""


@register(
    "text_lm_apply_backoff",
    oracle=_BACKOFF_LM_ORACLE,
    tags=("text", "lm", "quality", "pretrained", "backoff",
          "llm-pipeline"),
    bench=True,
    doc="WORD-level pretrained LM apply with Katz-style BACKOFF "
    "(operators/lm_backoff.py — VERDICT r10 'What's missing' #3: the "
    "coalesce-ladder KenLM shape lm_pretrained.py:26-29 promises, "
    "which closed-alphabet char-gram scoring dodges). The open "
    "vocabulary closes by the hash trick (wid = md5_int32(token) %% "
    "128); the model keeps a deterministic ~10%% of trigrams / ~40%% "
    "of bigrams (membership decided by the JOIN, like a KenLM "
    "table), context totals derive from the kept tables, backoff "
    "weights are deterministic per-context fractions. The ladder "
    "p3 -> b3*p2 -> b3*b2*p1 runs in integer micro-nats (weight "
    "multiplication = LONG addition), with the complete bigram+ "
    "unigram rungs PRE-COALESCED into one 128^2 table so the corpus "
    "path is a sparse-trigram LEFT probe + two complete broadcast "
    "probes + one coalesce + one exact LONG-sum agg. OOV is "
    "impossible at the unigram floor by construction; per-doc "
    "bigram/unigram backoff counts ride the output. Oracle "
    "regenerates the whole model closed-form and replays every "
    "rung.",
)
def text_lm_apply_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lm_backoff

    return lm_backoff.backoff_lm_scores(
        catalog.load_table(spark, sf_dir, "documents")
    )


# The real-vocabulary rung (VERDICT r11 next-round #6): identical
# model and ladder, but wids come from a corpus-derived top-127
# vocabulary (frequency rank, ties by token) with <unk> = 127, so the
# OOV rate is real and measurable instead of hash-collision-closed.
_BACKOFF_VOCAB_ORACLE = rf"""WITH
{_BACKOFF_DT_CTE},
tokc AS (
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(ltoks) AS token FROM dt) u
    GROUP BY token
),
vocab AS (
    SELECT token,
           CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT)
               - 1 AS wid
    FROM tokc ORDER BY cnt DESC, token ASC LIMIT 127
),
tokpos AS (
    SELECT doc_id, i, ltoks[i] AS token
    FROM dt, unnest(range(1, len(ltoks) + 1)) AS u(i)
),
mapped AS MATERIALIZED (
    SELECT t.doc_id, t.i, coalesce(v.wid, 127) AS w
    FROM tokpos t LEFT JOIN vocab v USING (token)
),
wt AS (
    SELECT doc_id, list(w ORDER BY i) AS ws FROM mapped GROUP BY doc_id
),
unkc AS (
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
           CAST(sum(CASE WHEN w = 127 THEN 1 ELSE 0 END) AS INTEGER)
               AS n_unk
    FROM mapped GROUP BY doc_id
),
{_BACKOFF_MODEL_CTES},
agg AS (
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_grams,
           CAST(sum(bo) AS INTEGER) AS n_bigram_backoffs,
           CAST(sum(bo1) AS INTEGER) AS n_unigram_backoffs,
           round(CAST(sum(nll_u) AS DOUBLE) / 1000000.0 / count(*), 6)
               AS mean_nll
    FROM scored GROUP BY doc_id
)
SELECT a.doc_id, u.n_tokens, u.n_unk, a.n_grams, a.n_bigram_backoffs,
       a.n_unigram_backoffs, a.mean_nll,
       round(exp(a.mean_nll), 4) AS perplexity
FROM agg a JOIN unkc u USING (doc_id)
"""


@register(
    "text_lm_apply_backoff_vocab",
    oracle=_BACKOFF_VOCAB_ORACLE,
    tags=("text", "lm", "quality", "pretrained", "backoff", "vocab",
          "llm-pipeline"),
    bench=True,
    doc="Backoff LM apply over a REAL corpus-derived vocabulary "
    "(operators/lm_backoff.py::backoff_lm_scores_vocab — VERDICT r11 "
    "next-round #6: the hash-trick tier exercises the ladder but "
    "every 'word' is a 1/128 collision class; the CCNet filter's "
    "actual shape is a top-K vocabulary with an <unk> floor and a "
    "measured OOV rate). The top-127 corpus tokens (frequency rank, "
    "ties by token — deterministic in both engines) map to wids "
    "0..126, everything else to <unk>=127, so the id space is "
    "exactly the model's 128 and the SAME pretrained tables serve "
    "both tiers. The token→wid map rides the plan as a literal map "
    "expression built from the bounded 127-row vocab collect — an "
    "expression-level broadcast LUT, no per-token join or shuffle; "
    "the ladder is the proven sparse-LEFT + two complete broadcast "
    "probes + exact LONG-sum path. Per-doc n_tokens / n_unk ride "
    "the output so the OOV rate is measurable row-wise and in "
    "aggregate. Oracle replays vocabulary derivation, mapping, the "
    "whole model and every rung.",
)
def text_lm_apply_backoff_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import lm_backoff

    return lm_backoff.backoff_lm_scores_vocab(
        catalog.load_table(spark, sf_dir, "documents")
    )


@register(
    "curation_pipeline",
    oracle=rf"""WITH {_DOC_CTE.strip()},
quality AS (
    SELECT doc_id, lang, source, text, cc, tc,
           round((
               (CASE WHEN tc >= 20 THEN 1.0 ELSE CAST(tc AS DOUBLE) / 20.0 END)
               + least(round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc ELSE 0.0 END, 6) * 4.0, 1.0)
               + (1.0 - round(CASE WHEN cc > 0 THEN CAST(non_alpha_chars AS DOUBLE) / cc ELSE 0.0 END, 6))
           ) / 3.0, 6) AS q
    FROM doc_m
),
filtered AS (
    SELECT * FROM quality WHERE q >= 0.5 AND cc BETWEEN 50 AND 5000
),
groups AS (
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_doc_id
    FROM filtered GROUP BY fp
)
SELECT f.doc_id, f.lang, f.source,
       CAST(f.cc AS INTEGER) AS char_count,
       round(f.q, 4) AS quality_score
FROM filtered f JOIN groups g ON f.doc_id = g.keep_doc_id
""",
    tags=("curation", "pipeline", "dedup", "quality"),
    bench=True,
    doc="The capstone curation pass a training pipeline runs: quality "
    "gate -> length gate -> exact dedup, one declarative plan (one "
    "scan, one fingerprint shuffle).",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import text as T
    from .functions.exact import fround as _fr

    docs = catalog.load_table(spark, sf_dir, "documents")
    t = F.col("text")
    q = T.quality_score(t, 6)
    cc = T.char_count(t)
    # spread the scan before the quality regexes + fingerprint md5
    # (r13, guide §2.5 — the one-task single-file scan serialized this
    # query's per-row CPU); doc_id keying feeds the left_semi join.
    docs = catalog.ensure_parallelism(
        docs.select("doc_id", "lang", "source", "text"), key="doc_id"
    )
    filtered = docs.select(
        "doc_id", "lang", "source", "text", q.alias("q"), cc.alias("cc")
    ).filter((F.col("q") >= 0.5) & F.col("cc").between(50, 5000))
    keep = (
        filtered.groupBy(T.fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .select("keep_doc_id")
    )
    return (
        filtered.join(keep, filtered.doc_id == keep.keep_doc_id, "left_semi")
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("cc").cast("int").alias("char_count"),
            _fr(F.col("q"), 4).alias("quality_score"),
        )
    )


@register(
    "text_rolling_fingerprint",
    # exact fold replay: same md5-derived token hashes, same
    # (acc*31 + h) mod p recurrence via list_reduce.
    oracle=r"""
SELECT doc_id,
       CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(
                   list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                               x -> x <> ''),
                   t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)),
           (acc, h) -> (acc * 31 + h) % 2147483647
       ) AS BIGINT) AS rolling_fp
FROM documents
""",
    tags=("text", "fingerprint", "rolling-hash"),
    doc="Order-sensitive Rabin-Karp rolling-hash fingerprint per doc "
    "(the incremental/chunkable complement of the canonical md5); "
    "md5-derived token hashes make the fold oracle-checkable.",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import rolling_hash

    docs = catalog.load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_hash(F.col("text")).alias("rolling_fp")
    )


@register(
    "pricing_q6_forecast",
    oracle=f"""
SELECT {exact_sum_sql('l_extendedprice * l_discount')} AS revenue_delta,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
""",
    tags=("aggregation", "pushdown", "scan"),
    bench=True,
    doc="Forecast-revenue filter-sum: every predicate pushes to the "
    "parquet scan; the classic pushdown showcase.",
)
def pricing_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import exact_sum

    li = catalog.load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias(
                "revenue_delta"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "ev_signup_purchase_funnel",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
    FROM events
    GROUP BY user_id
)
SELECT
    count(*) AS n_users,
    CAST(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS signed_up,
    CAST(sum(CASE WHEN first_signup IS NOT NULL AND first_purchase > first_signup
                  THEN 1 ELSE 0 END) AS BIGINT) AS converted_after_signup,
    CASE WHEN sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) > 0
         THEN round(100.0 * sum(CASE WHEN first_signup IS NOT NULL
                                 AND first_purchase > first_signup
                                THEN 1 ELSE 0 END)
              / sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END), 2)
         ELSE 0.0 END AS conversion_rate,
    CAST(sum(CASE WHEN first_signup IS NOT NULL AND first_purchase > first_signup
                  THEN CAST(epoch_ms(first_purchase) - epoch_ms(first_signup)
                            AS BIGINT) ELSE 0 END) AS BIGINT)
        AS total_ms_to_convert
FROM firsts
""",
    tags=("funnel", "sequence", "aggregation"),
    doc="Sequential funnel: users whose first purchase follows their "
    "first signup, with conversion rate and total time-to-convert — "
    "ordered-event-pattern analysis over the stream table.",
)
def ev_signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.cleaning import positivity_rate

    ev = catalog.load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = F.col("first_signup").isNotNull() & (
        F.col("first_purchase") > F.col("first_signup")
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("signed_up"),
        F.sum(F.when(converted, 1).otherwise(0))
        .cast("long")
        .alias("converted_after_signup"),
        positivity_rate(
            F.sum(F.when(converted, 1).otherwise(0)),
            F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0)),
        ).alias("conversion_rate"),
        F.sum(
            F.when(
                converted,
                (
                    F.unix_millis(F.col("first_purchase").cast("timestamp"))
                    - F.unix_millis(F.col("first_signup").cast("timestamp"))
                ),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("total_ms_to_convert"),
    )


@register(
    "udaf_trimmed_mean_vs_exact",
    oracle="""WITH b AS (
    SELECT event_type,
           quantile_cont(value, 0.1) AS lo,
           quantile_cont(value, 0.9) AS hi,
           count(*) AS n
    FROM events GROUP BY event_type
)
SELECT e.event_type, b.n,
       round(avg(e.value), 4) AS trimmed_mean_exact,
       TRUE AS udaf_within_tol
FROM events e JOIN b USING (event_type)
WHERE e.value BETWEEN b.lo AND b.hi
GROUP BY e.event_type, b.n
""",
    tags=("UDAF", "error-bound", "gate-check"),
    doc="Driver-visible equivalence check for the sanctioned pandas "
    "UDAF tier (VERDICT r6 #6): recomputes the 10-90% trimmed mean "
    "per event_type with a PURE-JVM two-pass plan (group-wise exact "
    "percentile bounds broadcast back over the events scan, filtered "
    "avg — expressible natively, just two passes where the UDAF is "
    "one) and joins the live GROUPED_AGG UDAF output against it. "
    "The exact side is engine-cross-checked against DuckDB's "
    "quantile_cont band; udaf_within_tol asserts |udaf - exact| <= "
    "1e-4 (one rounding step) and is pinned TRUE in the oracle — a "
    "UDAF drift flips the boolean and breaks the value hash. This "
    "keeps the UDAF itself out of the oracle path (no Python in "
    "oracle plans) while giving it a driver-green row.",
)
def udaf_trimmed_mean_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround
    from .operators.udafs import trimmed_mean_by_type

    events = catalog.load_table(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.1)).alias("lo"),
        F.percentile("value", F.lit(0.9)).alias("hi"),
        F.count("*").alias("n"),
    )
    exact = (
        events.join(F.broadcast(bounds), "event_type")
        .filter(F.col("value").between(F.col("lo"), F.col("hi")))
        .groupBy("event_type", "n")
        .agg(fround(F.avg("value"), 4).alias("trimmed_mean_exact"))
    )
    udaf = trimmed_mean_by_type(events).select("event_type", "trimmed_mean")
    return exact.join(F.broadcast(udaf), "event_type").select(
        "event_type",
        "n",
        "trimmed_mean_exact",
        (
            F.abs(F.col("trimmed_mean") - F.col("trimmed_mean_exact"))
            <= F.lit(1e-4)
        ).alias("udaf_within_tol"),
    )


# ===========================================================================
# S2/S3 ingest end-to-end — the binary upload formats run INSIDE the
# correctness gate: deterministic fixture bytes are generated at query
# time by the package's own spec writers (sources/xlsx.py,
# sources/shapefile.py), parsed back through the ingest readers, and
# the downstream cleaning/zonal results are oracle-checked against
# the same literals inlined as SQL VALUES. A writer or parser bug
# (shared-string interning, cell typing, ring winding, dbf widths)
# breaks the hash gate, not just a unit test.
# ===========================================================================

from .sources import files as fsrc  # noqa: E402
from .sources import shapefile as shpsrc  # noqa: E402
from .sources import xlsx as xlsxsrc  # noqa: E402


def _df_from_fixture_bytes(spark, data: bytes, suffix: str, reader):
    """Write fixture bytes to a temp file and run a file-path reader
    (the same entry point an uploaded file takes)."""
    import os
    import tempfile

    fd, path = tempfile.mkstemp(suffix=suffix)
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return reader(spark, path)
    finally:
        os.unlink(path)


# Dirty lab-upload workbook: one row per cleaning variant the C1-C8
# layer must normalize (whitespace, gender tokens, out-of-bounds ages,
# the 'NO MALARIA'→Positive keyword-order quirk, month aliases).
_S2_HEADER = ["row_id", "village_raw", "gender_raw", "age_raw", "slide_raw", "month_raw"]
_S2_ROWS = [
    [1.0, "  Kigali  ", "M", 34.7, "POSITIVE", "3"],
    [2.0, "nyamata ", "female", -3.0, "no malaria", "March"],
    [3.0, None, "WOMAN", 200.0, "neg", "MAR"],
    [4.0, "Huye", "x", None, None, "13"],
    [5.0, " Musanze", "MAN", 12.0, "clean slide", None],
    [6.0, "Rubavu ", "F", 64.2, "b/s -", "3.0"],
]


def _upload_clean_oracle(rows) -> str:
    """Oracle of an upload's C1-C8 cleaning over the literal ``rows``
    (row_id, village, gender, age, slide, month)."""
    values = ",\n        ".join(
        "("
        + ", ".join(
            "NULL" if v is None else ("'" + v + "'" if isinstance(v, str) else str(v))
            for v in row
        )
        + ")"
        for row in rows
    )
    return f"""WITH lab(row_id, village_raw, gender_raw, age_raw, slide_raw, month_raw) AS (
    VALUES
        {values}
)
SELECT CAST(row_id AS INTEGER) AS row_id,
       coalesce(trim(village_raw), '') AS village,
{_clean_cols_sql(" " * 7)}
FROM lab
"""


def _upload_clean(raw: DataFrame) -> DataFrame:
    """An upload's C1-C8 cleaning (the Spark side of
    _upload_clean_oracle)."""
    return raw.select(
        F.col("row_id").cast("int").alias("row_id"),
        cl.clean_text(F.col("village_raw")).alias("village"),
        *cl.lab_record_columns(
            F.col("gender_raw"), F.col("age_raw"), F.col("month_raw"), F.col("slide_raw")
        ),
    )


@register(
    "s2_xlsx_clean_records",
    oracle=_upload_clean_oracle(_S2_ROWS),
    tags=("S2", "C9", "ingest", "end-to-end"),
    doc="S2 end-to-end: ECMA-376 workbook bytes -> xlsx parse -> C1-C8 "
    "cleaning, oracle over the same literals "
    "(health_center_lab__data_upload_views.py:72-73 -> "
    "data_transformer.py:40-94). A lake of workbooks takes the same "
    "path distributed via read_excel_many (binaryFile + mapInPandas).",
)
def s2_xlsx_clean_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = xlsxsrc.write_xlsx_bytes(_S2_HEADER, _S2_ROWS)
    raw = _df_from_fixture_bytes(spark, data, ".xlsx", fsrc.read_excel)
    return _upload_clean(raw)


# Dirty lab-upload CSVs, split across two files with different byte
# encodings so the S1 sniffer (sources/files.py::sniff_encoding) is on
# the critical path: a latin-1 file whose accented villages make UTF-8
# decoding fail (probe → ISO-8859-1), and a UTF-8 file carrying a BOM.
# Values are the single source of truth for BOTH the CSV bytes and the
# oracle's inline VALUES.
_S1_ROWS = [
    (101, "  Butaré ", "M", "34.7", "POSITIVE", "3"),
    (102, "Gisôzi ", "female", "-3", "no malaria", "March"),
    (103, None, "WOMAN", "200", "neg", "13"),
    (104, "Kigali", "man", "12", "clean slide", "MAR"),
    (105, " Nyagataré", "F", "64.2", "b/s -", None),
    (106, "Rusizi ", "x", None, None, "3.0"),
]
_S1_LATIN1_ROWS = _S1_ROWS[:3]  # é/ô bytes are invalid UTF-8 sequences
_S1_UTF8_ROWS = _S1_ROWS[3:]


def _s1_csv_bytes(rows, encoding: str, bom: bytes = b"") -> bytes:
    lines = ["row_id,village_raw,gender_raw,age_raw,slide_raw,month_raw"]
    for row in rows:
        lines.append(",".join("" if v is None else str(v) for v in row))
    return bom + ("\n".join(lines) + "\n").encode(encoding)


@register(
    "s1_csv_clean_records",
    oracle=_upload_clean_oracle(_S1_ROWS),
    tags=("S1", "C9", "ingest", "end-to-end"),
    doc="S1 end-to-end: CSV bytes in two encodings -> sniff_encoding "
    "(latin-1 probe + UTF-8 BOM) -> Spark CSV scan -> C1-C8 cleaning, "
    "oracle over the same literals "
    "(health_center_lab__data_upload_views.py:55-70, "
    "weather_data_prec_temp_upload_views.py:85-92, "
    "malaria_htmis_api_upload_view.py:120-129). The most-trafficked "
    "ingest path of the reference; a lake of CSVs takes the same read "
    "distributed (spark.read.csv over a glob).",
)
def s1_csv_clean_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import codecs as _codecs
    import os

    # Unlike the driver-side xlsx/shapefile parsers, spark.read.csv is
    # LAZY — the fixture file must outlive the returned plan, so write
    # to a stable path (idempotent overwrite) instead of a deleted temp.
    fix_dir = catalog.FIXTURE_ROOT
    os.makedirs(fix_dir, exist_ok=True)
    paths = {}
    for fname, data in (
        ("s1_latin1.csv", _s1_csv_bytes(_S1_LATIN1_ROWS, "iso-8859-1")),
        ("s1_utf8bom.csv", _s1_csv_bytes(_S1_UTF8_ROWS, "utf-8", bom=_codecs.BOM_UTF8)),
    ):
        p = os.path.join(fix_dir, fname)
        with open(p, "wb") as f:
            f.write(data)
        paths[fname] = p
    raw = fsrc.read_csv(spark, paths["s1_latin1.csv"]).unionByName(
        fsrc.read_csv(spark, paths["s1_utf8bom.csv"])
    )
    return _upload_clean(raw)


# Admin-boundary upload: two layers so the village-selection heuristic
# must pick the right one; three village rectangles over the pixel grid.
_S3_RING = {
    "alpha": [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)],
    "beta": [(20.0, 20.0), (20.0, 30.0), (30.0, 30.0), (30.0, 20.0), (20.0, 20.0)],
    "gamma": [(5.0, 25.0), (5.0, 33.0), (9.0, 33.0), (9.0, 25.0), (5.0, 25.0)],
}
_S3_COUNTRY = [(0.0, 0.0), (0.0, 50.0), (100.0, 50.0), (100.0, 0.0), (0.0, 0.0)]


def _fixture_zonal_oracle(pixel_value: str) -> str:
    """Zonal stats of the three fixture villages over the 40x40 raster
    whose cell value is ``pixel_value`` (SQL over i.g, j.g)."""
    return f"""WITH polys(poly_id, name, x0, y0, x1, y1) AS (
    VALUES (1, 'alpha', 0.0, 0.0, 10.0, 10.0),
           (2, 'beta', 20.0, 20.0, 30.0, 30.0),
           (3, 'gamma', 5.0, 25.0, 9.0, 33.0)
),
pixels AS (
    SELECT i.g + 0.5 AS px, j.g + 0.5 AS py,
           {pixel_value}
    FROM generate_series(0, 39) i(g) CROSS JOIN generate_series(0, 39) j(g)
)
SELECT poly_id, name,
       round(avg(pixel_value), 4) AS mean_value,
       max(pixel_value) AS max_value,
       min(pixel_value) AS min_value,
       count(*) AS pixel_count
FROM pixels JOIN polys ON px >= x0 AND px < x1 AND py >= y0 AND py < y1
GROUP BY poly_id, name
"""


@register(
    "s3_shapefile_zonal_stats",
    oracle=_fixture_zonal_oracle(
        "CAST((i.g * 31 + j.g * 17) % 97 AS DOUBLE) / 3.0 AS pixel_value"
    ),
    tags=("S3", "J6", "geo", "ingest", "end-to-end"),
    doc="S3 end-to-end: zipped shapefile bytes (ESRI spec writer) -> "
    "village-layer heuristic -> .shp/.dbf parse -> WKT bridge -> "
    "pixel-in-polygon zonal stats "
    "(country_adm_boundaries_upload_views.py:31-112 -> "
    "batch_processor.py:242-394).",
)
def s3_shapefile_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = shpsrc.write_shapefile_zip_bytes(
        {
            "country_adm0": ([[_S3_COUNTRY]], ["COUNTRY"], [["Rwanda"]]),
            "rwa_villages": (
                [[_S3_RING["alpha"]], [_S3_RING["beta"]], [_S3_RING["gamma"]]],
                ["CELL_ID", "VILL_NAME"],
                [["1", "alpha"], ["2", "beta"], ["3", "gamma"]],
            ),
        }
    )
    raw = _df_from_fixture_bytes(spark, data, ".zip", fsrc.read_shapefile_zip)
    polys = geo.polygons_from_wkt(raw).select(
        F.col("CELL_ID").try_cast("int").alias("poly_id"),
        F.col("VILL_NAME").alias("name"),
        "ring", "x0", "y0", "x1", "y1",
    )
    one = spark.range(1).select(F.lit(1).alias("one"))
    return geo.zonal_stats(polys, geo.pixel_grid(one, nx=40, ny=40))


# north-up raster: row 0 is the TOP (py = 39.5); the value field
# replays pixel_grid's f(i, j) at each pixel's model-space cell
_S4_VALUES = [
    ((i * 31 + (39 - row) * 17) % 97) / 3.0 for row in range(40) for i in range(40)
]


def _s4_zonal(spark: SparkSession, values: list[float], **write) -> DataFrame:
    """Zonal stats of the three fixture villages over the 40x40
    GeoTIFF of ``values`` (row 0 on top), written with the ``write``
    options and read back through the upload path."""
    from .sources import geotiff as gt

    data = gt.write_geotiff_bytes(40, 40, values, origin_x=0.0, origin_y=40.0, **write)
    pixels = _df_from_fixture_bytes(spark, data, ".tif", fsrc.read_geotiff_pixels)
    polys = spark.createDataFrame(
        [
            (1, "alpha", 0.0, 0.0, 10.0, 10.0),
            (2, "beta", 20.0, 20.0, 30.0, 30.0),
            (3, "gamma", 5.0, 25.0, 9.0, 33.0),
        ],
        "poly_id int, name string, x0 double, y0 double, x1 double, y1 double",
    )
    return geo.zonal_stats(polys, pixels)


@register(
    "s4_geotiff_zonal_stats",
    oracle=REGISTRY["s3_shapefile_zonal_stats"].oracle,
    tags=("S4", "J6", "geo", "ingest", "end-to-end"),
    doc="S4 end-to-end: uncompressed-GeoTIFF bytes (TIFF 6.0 + OGC "
    "GeoTIFF spec writer) -> strip/affine parse -> pixel rows -> "
    "zonal stats (SlopeGeoJsonUploadView.py:195-321). The raster's "
    "cell values replay geo.pixel_grid's deterministic value "
    "function in model space, so the oracle is the same "
    "generate_series grid.",
)
def s4_geotiff_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _s4_zonal(spark, _S4_VALUES)


@register(
    "s4_geotiff_deflate_zonal_stats",
    oracle=REGISTRY["s4_geotiff_zonal_stats"].oracle,
    tags=("S4", "J6", "geo", "ingest", "end-to-end", "compression"),
    doc="S4 with Compression=8: the same raster written as a "
    "multi-strip DEFLATE GeoTIFF (strip-wise zlib, TIFF TechNote 2 "
    "— the common modern encoding) must decode to identical pixels "
    "and therefore identical zonal stats; same oracle as the "
    "uncompressed form.",
)
def s4_geotiff_deflate_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _s4_zonal(spark, _S4_VALUES, compression="deflate", rows_per_strip=7)


@register(
    "s4_geotiff_lzw_zonal_stats",
    oracle=REGISTRY["s4_geotiff_zonal_stats"].oracle,
    tags=("S4", "J6", "geo", "ingest", "end-to-end", "compression"),
    doc="S4 with Compression=5: the same raster written as a "
    "multi-strip LZW GeoTIFF (TIFF 6.0 §13, early-change code "
    "widths, pure-stdlib codec in sources/lzw.py) must decode to "
    "identical pixels and therefore identical zonal stats; same "
    "oracle as the uncompressed form.",
)
def s4_geotiff_lzw_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _s4_zonal(spark, _S4_VALUES, compression="lzw", rows_per_strip=7)


@register(
    "s4_polygonize_regions",
    oracle="""WITH RECURSIVE
px AS (
  SELECT i.i AS i, j.j AS j, (i.i * 40 + j.j) AS node,
         CAST(((i.i + j.j) // 7) % 3 AS DOUBLE) AS value
  FROM range(0, 40) i(i), range(0, 40) j(j)
),
edges AS (
  SELECT p.node AS a, q.node AS b FROM px p JOIN px q
    ON q.i = p.i + 1 AND q.j = p.j AND q.value = p.value
  UNION ALL
  SELECT p.node, q.node FROM px p JOIN px q
    ON q.i = p.i AND q.j = p.j + 1 AND q.value = p.value
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
cc(node, label) AS (
  SELECT node, node FROM px
  UNION
  SELECT e.b, cc.label FROM cc JOIN sym e ON e.a = cc.node
),
lab AS (SELECT node, min(label) AS region FROM cc GROUP BY node)
SELECT region, value,
       count(*) AS pixel_count,
       CAST(min(i) AS INTEGER) AS i0, CAST(max(i) AS INTEGER) AS i1,
       CAST(min(j) AS INTEGER) AS j0, CAST(max(j) AS INTEGER) AS j1
FROM px JOIN lab USING (node)
GROUP BY region, value
""",
    tags=("S4", "geo", "polygonize", "clustering", "end-to-end"),
    doc="Merged-region polygonize — the rasterio.features.shapes "
    "semantics of the reference's slope upload: GeoTIFF bytes -> "
    "pixel rows -> connected 4-adjacent same-value regions via the "
    "same star-contraction connected-components machinery as the "
    "near-dup clustering, aggregated to per-region value/count/bbox. "
    "The diagonal-band value function merges pixels across rows AND "
    "columns, so the join+CC path is genuinely exercised; oracle = "
    "recursive-CTE CC over the identical grid in DuckDB.",
)
def s4_polygonize_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import geotiff as gt

    nx = ny = 40
    # row-major write: row = j (top row first); diagonal bands of
    # width 7 so regions span many rows/columns
    values = [
        float(((i + row) // 7) % 3) for row in range(ny) for i in range(nx)
    ]
    data = gt.write_geotiff_bytes(
        nx, ny, values, origin_x=0.0, origin_y=float(ny), compression="deflate"
    )
    pixels = _df_from_fixture_bytes(
        spark, data, ".tif", fsrc.read_geotiff_pixels
    ).select("i", "j", F.col("pixel_value").alias("value"))
    merged = geo.merge_pixel_regions(pixels, stride=ny)
    return merged.groupBy("region", "value").agg(
        F.count("*").alias("pixel_count"),
        F.min("i").alias("i0"),
        F.max("i").alias("i1"),
        F.min("j").alias("j0"),
        F.max("j").alias("j1"),
    )


# ===========================================================================
# C20/C21 — geometry validity fix + simplify/quantize (geo.py ring model)
# ===========================================================================

from .functions.exact import fround  # noqa: E402


@register(
    "geo_c20_validity_fix",
    oracle=f"""WITH {_POLY_CTE.strip()}
SELECT poly_id, name,
       false AS was_closed,
       5 AS n_before,
       5 AS n_after,
       round(-2.0 * (x1 - x0) * (y1 - y0), 6) AS area2,
       true AS is_valid,
       {_wkt_ring(" " * 7, "x0, y0", "x1, y0", "x1, y1", "x0, y1")} AS wkt
FROM polys
""",
    tags=("C20", "geo", "validity"),
    doc="C20 end-to-end: defective rings (duplicate vertex, unclosed) "
    "repaired by close+dedupe array HOFs, with shoelace-area validity "
    "flags; closed-form oracle over the same synthetic rectangles "
    "(batch_processor.py:285-291 buffer(0) repair, deterministic "
    "share).",
)
def geo_c20_validity_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    polys = geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))

    pt = geo.point
    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    # defect fixture: first vertex duplicated, closing vertex missing
    bad = F.array(
        pt(x0, y0), pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1)
    )
    fixed = geo.fix_ring(bad)
    return polys.select(
        "poly_id",
        "name",
        geo.ring_is_closed(bad).alias("was_closed"),
        F.size(bad).alias("n_before"),
        F.size(fixed).alias("n_after"),
        fround(geo.ring_area2(fixed), 6).alias("area2"),
        geo.ring_is_valid(fixed).alias("is_valid"),
        geo.ring_wkt(fixed).alias("wkt"),
    )


@register(
    "geo_c21_quantize_histogram",
    oracle="""WITH pixels AS (
    SELECT CAST((i.g * 31 + j.g * 17) % 97 AS DOUBLE) / 3.0 AS pixel_value
    FROM generate_series(0, 99) i(g) CROSS JOIN generate_series(0, 49) j(g)
)
SELECT floor(pixel_value / 5.0 + 0.5) * 5.0 AS quantized_value,
       count(*) AS n_pixels,
       round(min(pixel_value), 4) AS min_raw,
       round(max(pixel_value), 4) AS max_raw
FROM pixels
GROUP BY quantized_value
""",
    tags=("C21", "geo", "quantize"),
    doc="C21 raster quantize (SlopeGeoJsonUploadView.py:232-234, "
    "round(data/step)*step) over the deterministic pixel grid, as a "
    "pure Column expression with a histogram readback.",
)
def geo_c21_quantize_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = catalog.load_table(spark, sf_dir, "nation")
    one = nation.limit(1).select(F.lit(1).alias("one"))
    px = geo.pixel_grid(one)
    return (
        px.select(geo.quantize_value(F.col("pixel_value"), 5.0).alias("quantized_value"),
                  "pixel_value")
        .groupBy("quantized_value")
        .agg(
            F.count("*").alias("n_pixels"),
            fround(F.min("pixel_value"), 4).alias("min_raw"),
            fround(F.max("pixel_value"), 4).alias("max_raw"),
        )
    )


@register(
    "geo_c21_simplify_dp",
    oracle=f"""WITH {_POLY_CTE.strip()}
SELECT poly_id, name,
       9 AS n_before,
       5 AS n_after,
       {_wkt_ring(" " * 7, "x0, y0", "x1, y0", "x1, y1", "x0, y1")} AS wkt
FROM polys
""",
    tags=("C21", "geo", "simplify", "mapInPandas"),
    doc="C21 Douglas-Peucker simplify "
    "(SlopeGeoJsonUploadView.py:263-266) as an Arrow-batched "
    "mapInPandas stage: rectangle rings densified with collinear "
    "edge midpoints (9 vertices) must simplify back to the 5-vertex "
    "rectangle; closed-form oracle. Python is in the plan by design "
    "(batch, not row-at-a-time) — same stance as mm_feature_extract.",
)
def geo_c21_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    polys = geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))

    pt = geo.point
    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    mx, my = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    dense = F.array(
        pt(x0, y0), pt(mx, y0), pt(x1, y0), pt(x1, my), pt(x1, y1),
        pt(mx, y1), pt(x0, y1), pt(x0, my), pt(x0, y0),
    )
    densified = polys.select("poly_id", "name", dense.alias("ring"))
    simplified = geo.simplify_rings_dp(densified, tolerance=0.1)
    return simplified.select(
        "poly_id", "name", "n_before", "n_after", geo.ring_wkt(F.col("ring")).alias("wkt")
    )


@register(
    "geo_c20_untangle_bowtie",
    oracle=f"""WITH {_POLY_CTE.strip()},
fx AS (
    SELECT poly_id, name, 'bowtie' AS fixture, 0 AS lobe, 2 AS n_lobes,
           1.0 AS area,
           {_wkt_ring(" " * 11, "x0 + 1, y0 + 1", "x0 + 2, y0 + 2", "x0 + 2, y0")} AS wkt
    FROM polys
    UNION ALL
    SELECT poly_id, name, 'bowtie' AS fixture, 1 AS lobe, 2 AS n_lobes,
           1.0 AS area,
           {_wkt_ring(" " * 11, "x0, y0", "x0 + 1, y0 + 1", "x0, y0 + 2")} AS wkt
    FROM polys
    UNION ALL
    SELECT poly_id, name, 'simple' AS fixture, 0 AS lobe, 1 AS n_lobes,
           1.0 AS area,
           {_wkt_ring(" " * 11, "x0, y0", "x0 + 1, y0", "x0 + 1, y0 + 1", "x0, y0 + 1")} AS wkt
    FROM polys
)
SELECT poly_id, name, fixture, lobe, n_lobes, area, wkt FROM fx
""",
    tags=("C20", "geo", "validity", "untangle", "mapInPandas"),
    doc="C20 SELF-INTERSECTION UNTANGLING — the bow-tie half of the "
    "reference's buffer(0) repair (batch_processor.py:285-291; "
    "geoJson_slope_etl_view.py:410-411) and the LAST reference-"
    "parity sliver (VERDICT r7 'What's missing' #3): node every "
    "proper non-adjacent edge intersection into the ring, then "
    "split the noded cycle into SIMPLE lobes by repeated-node stack "
    "walk (GEOS's polygonizer shape) — operators/geo_fix.py, "
    "Arrow-batched mapInPandas like the other per-geometry kernels. "
    "One output row per lobe with pop-order index, lobe count, and "
    "shoelace area; a SIMPLE input ring passes through byte-"
    "identical as its own single lobe (pinned by the 'simple' "
    "fixture and by test). Fixtures per nation polygon: the "
    "canonical one-crossing bow-tie (0,0)->(2,2)->(2,0)->(0,2), "
    "which must split at the (1,1) crossing into two unit-area "
    "triangles in deterministic pop order, and a unit square. Both "
    "translation-invariant, so the oracle is exact closed-form SQL.",
)
def geo_c20_untangle_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geo_fix import untangle_rings

    polys = geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))

    pt = geo.point
    x0, y0 = F.col("x0"), F.col("y0")
    bowtie = polys.select(
        "poly_id",
        "name",
        F.lit("bowtie").alias("fixture"),
        F.array(
            pt(x0, y0), pt(x0 + 2.0, y0 + 2.0), pt(x0 + 2.0, y0),
            pt(x0, y0 + 2.0), pt(x0, y0),
        ).alias("ring"),
    )
    simple = polys.select(
        "poly_id",
        "name",
        F.lit("simple").alias("fixture"),
        F.array(
            pt(x0, y0), pt(x0 + 1.0, y0), pt(x0 + 1.0, y0 + 1.0),
            pt(x0, y0 + 1.0), pt(x0, y0),
        ).alias("ring"),
    )
    out = untangle_rings(bowtie.unionByName(simple))
    return out.select(
        "poly_id", "name", "fixture", "lobe", "n_lobes",
        F.col("area").cast("double").alias("area"),
        geo.ring_wkt(F.col("ring")).alias("wkt"),
    )


_C21_BOWTIE = (
    "x0, y0", "x0 + 10, y0", "x0 + 10, y0 + 12", "x0 + 2, y0 + 12",
    "x0 + 7, y0 + 10.5", "x0 + 8, y0 + 3", "x0 + 4, y0 + 10",
)


@register(
    "geo_c21_simplify_topo",
    oracle=f"""WITH {_POLY_CTE.strip()},
fx AS (
    SELECT poly_id, name, 'collapse' AS fixture,
           5 AS n_before, 4 AS n_after, 2 AS repaired,
           {_wkt_ring(" " * 11, "x0, y0", "x0 + 1, y0", "x0 + 1, y0 + 1")} AS wkt
    FROM polys
    UNION ALL
    SELECT poly_id, name, 'bowtie' AS fixture,
           8 AS n_before, 8 AS n_after, 1 AS repaired,
           {_wkt_ring(" " * 11, *_C21_BOWTIE)} AS wkt
    FROM polys
)
SELECT poly_id, name, fixture, n_before, n_after, repaired, wkt FROM fx
""",
    tags=("C21", "geo", "simplify", "topology", "mapInPandas"),
    doc="C21 TOPOLOGY-PRESERVING simplify — the reference's "
    "simplify(preserve_topology=True) sliver "
    "(SlopeGeoJsonUploadView.py:232-234, shapely -> JTS "
    "TopologyPreservingSimplifier; an r7 'What's missing' "
    "reference-parity sliver — the buffer(0) bow-tie half is closed "
    "by geo_c20_untangle_bowtie the same round): "
    "plain DP, then a deterministic repair that re-adds excluded "
    "ORIGINAL vertices by DP-tree error (the canonical next-DP-"
    "vertex order) until the ring has >= 3 distinct vertices and is "
    "SIMPLE (operators/geo_topo.py; when no guarantee is violated "
    "the output is byte-identical to plain DP, pinned by test). Two "
    "closed-form fixtures per nation polygon at tolerance 4: a unit "
    "square plain DP COLLAPSES to a degenerate 2-point ring (guard "
    "restores the canonical triangle: far corner err 2, then index-"
    "tiebreak side vertex — n 5->4, repaired 2) and a notched ring "
    "where DP drops exactly the one vertex (tree err 11.08 < 16) "
    "whose absence routes the D-E chord across the F-A edge (a "
    "bow-tie; crossing at x = x0+3.75 — hand-derived in the "
    "docstring) so the guard re-adds it (n 8->8, repaired 1). Both "
    "fixtures are translation-invariant, so the oracle is exact "
    "closed-form SQL over the polygon frame — same stance as "
    "geo_c21_simplify_dp.",
)
def geo_c21_simplify_topo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geo_topo import simplify_rings_topo

    polys = geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))

    pt = geo.point
    x0, y0 = F.col("x0"), F.col("y0")
    collapse = polys.select(
        "poly_id",
        "name",
        F.lit("collapse").alias("fixture"),
        F.array(
            pt(x0, y0), pt(x0 + 1.0, y0), pt(x0 + 1.0, y0 + 1.0),
            pt(x0, y0 + 1.0), pt(x0, y0),
        ).alias("ring"),
    )
    bowtie = polys.select(
        "poly_id",
        "name",
        F.lit("bowtie").alias("fixture"),
        F.array(
            pt(x0, y0), pt(x0 + 10.0, y0), pt(x0 + 10.0, y0 + 12.0),
            pt(x0 + 2.0, y0 + 12.0), pt(x0 + 7.0, y0 + 10.5),
            pt(x0 + 8.0, y0 + 3.0), pt(x0 + 4.0, y0 + 10.0), pt(x0, y0),
        ).alias("ring"),
    )
    simplified = simplify_rings_topo(
        collapse.unionByName(bowtie), tolerance=4.0
    )
    return simplified.select(
        "poly_id", "name", "fixture", "n_before", "n_after", "repaired",
        geo.ring_wkt(F.col("ring")).alias("wkt"),
    )


def _ivf_assign_ctes(cent_where: str) -> str:
    """IVF inverted lists: unit vectors ``b`` (vec_id, label, nv), the
    seed centroids ``cent`` = the vectors of ``b`` passing
    ``cent_where``, and each vector's nearest centroid ``assign``
    (vec_id, label, nv, cid)."""
    return f"""b AS MATERIALIZED (
    SELECT vec_id, label,
           list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv
    FROM emb
),
cent AS MATERIALIZED (SELECT vec_id AS cid, nv AS cv FROM b{cent_where}),
assign AS MATERIALIZED (
    SELECT vec_id, label, nv, cid FROM (
        SELECT b.vec_id, b.label, b.nv, cent.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY round(list_inner_product(b.nv, cent.cv), 6) DESC,
                            cent.cid ASC) AS rn
        FROM b CROSS JOIN cent
    ) t WHERE rn = 1
)"""


def _ivf_members_ctes(nprobe: int) -> str:
    """The query vector (vec_id 0) as ``q``, its ``nprobe`` nearest
    centroids and the members of their lists."""
    return f"""q AS MATERIALIZED (SELECT nv AS qv FROM b WHERE vec_id = 0),
probed AS (
    SELECT cid FROM (
        SELECT cent.cid, round(list_inner_product(cent.cv, q.qv), 6) AS c_sim
        FROM cent, q
    ) s ORDER BY c_sim DESC, cid ASC LIMIT {nprobe}
),
members AS MATERIALIZED (
    SELECT a.vec_id, a.label, a.nv FROM assign a JOIN probed USING (cid)
)"""


def _pq_encode_ctes(sub: str, final: str) -> str:
    """PQ codes of the subvectors ``sub`` (vec_id, s, sv) against the
    codebook table ``final`` (s, cid, cv) as ``enc``, and the query's
    integer micro-unit inner-product lookup table ``lut``."""
    return f"""enc AS (
    SELECT vec_id, s, cid AS code FROM (
        SELECT {sub}.vec_id, {sub}.s, c.cid,
               row_number() OVER (
                   PARTITION BY {sub}.vec_id, {sub}.s
                   ORDER BY round(list_inner_product({sub}.sv, {sub}.sv)
                                  - 2 * list_inner_product({sub}.sv, c.cv)
                                  + list_inner_product(c.cv, c.cv), 6) ASC,
                            c.cid ASC) AS rn
        FROM {sub} JOIN {final} c USING (s)
    ) t WHERE rn = 1
),
qs AS (SELECT s, sv AS qsv FROM {sub} WHERE vec_id = 0),
lut AS (
    SELECT c.s, c.cid,
           CAST(sign(list_inner_product(qs.qsv, c.cv))
                * floor(abs(list_inner_product(qs.qsv, c.cv)) * 1000000 + 0.5)
                AS BIGINT) AS ip_u
    FROM {final} c JOIN qs USING (s)
)"""


def _ivfpq_rerank(rerank: int, k: int) -> str:
    """ADC-score the probed members' codes, shortlist ``rerank`` and
    exact-cosine rerank to the top ``k`` (the query's tail SELECT)."""
    return f"""approx AS (
    SELECT e.vec_id,
           round(CAST(sum(l.ip_u) AS DOUBLE) / 1000000.0, 6) AS approx_score
    FROM enc e
    JOIN (SELECT vec_id FROM members) mm USING (vec_id)
    JOIN lut l ON l.s = e.s AND l.cid = e.code
    WHERE e.vec_id <> 0 GROUP BY e.vec_id
),
short AS (
    SELECT vec_id, approx_score FROM approx
    ORDER BY approx_score DESC, vec_id ASC LIMIT {rerank}
)
SELECT s.vec_id, m.label, s.approx_score,
       round(list_inner_product(m.nv, q.qv), 6) AS cosine_sim
FROM short s JOIN members m USING (vec_id), q
ORDER BY cosine_sim DESC, s.vec_id ASC
LIMIT {k}
"""


@register(
    "sim_ivf_topk",
    oracle=f"""WITH {_EMB_CTE.strip()},
{_ivf_assign_ctes(" WHERE vec_id < 8")},
q AS (SELECT nv AS qv FROM assign WHERE vec_id = 0),
probed AS (
    SELECT cid FROM (
        SELECT a.cid, round(list_inner_product(a.nv, q.qv), 6) AS c_sim
        FROM assign a, q WHERE a.vec_id < 8
    ) s ORDER BY c_sim DESC, cid ASC LIMIT 2
)
SELECT assign.vec_id, assign.label, assign.cid,
       round(list_inner_product(assign.nv, q.qv), 6) AS cosine_sim
FROM assign JOIN probed USING (cid), q
WHERE assign.vec_id <> 0
ORDER BY cosine_sim DESC, assign.vec_id ASC
LIMIT 10
""",
    tags=("similarity", "ann", "ivf", "topk"),
    bench=True,
    doc="IVF ANN probe: deterministic coarse quantization (nearest of "
    "8 seed centroids) builds inverted lists; the query searches only "
    "the nprobe=2 nearest lists and exact-scores survivors. The "
    "second scale path next to sign-bucket LSH — lists are partition "
    "keys on disk, a probe reads nprobe partitions of the corpus.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_topk(catalog.load_table(spark, sf_dir, "embeddings"))


@register(
    "text_bpe_token_stats",
    oracle=r"""WITH t AS (
    SELECT doc_id, lang,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
               AS bpe_tokens,
           length(text) AS chars
    FROM documents
)
SELECT doc_id, lang, ws_tokens, bpe_tokens,
       CASE WHEN bpe_tokens > 0
            THEN floor(CAST(chars AS DOUBLE) / bpe_tokens * 10000 + 0.5) / 10000
            ELSE 0.0 END AS chars_per_bpe_token
FROM t
""",
    tags=("text", "tokenization", "llm-pipeline"),
    bench=True,  # full-corpus regex scan — a real per-doc hot path
    doc="Token counting for corpus budgeting: whitespace tokens next "
    "to a BPE-style pre-tokenization count (GPT-2-shape regex, "
    "lookahead-free so both engines extract identical tokens) and "
    "chars-per-token — the standard 'how many LLM tokens is this "
    "corpus' estimator.",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import text as T
    from .functions.exact import fround as _fr

    docs = catalog.load_table(spark, sf_dir, "documents")
    bpe = T.bpe_token_count(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        T.token_count(F.col("text")).alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.when(
            bpe > 0,
            _fr(T.char_count(F.col("text")).cast("double") / bpe, 4),
        )
        .otherwise(F.lit(0.0))
        .alias("chars_per_bpe_token"),
    )


from .functions import bpe  # noqa: E402


def _bpe_ctes() -> list[str]:
    """The shared CTE chain of the BPE oracles — ``bpe.N_MERGES``
    training rounds of ``bpe.MERGE_PASSES`` replaces each, plus
    the per-doc ``agg`` join; callers append their own final SELECT
    (``_bpe_sql`` replays bpe_doc_stats; the vocab32k oracle adds the
    word-count CTE and bound pins)."""
    pat = (
        "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'"
    )
    ctes = [
        f"""wd AS MATERIALIZED (
    SELECT doc_id, unnest(regexp_extract_all(
               replace(text, chr(31), ''), {pat})) AS w
    FROM documents
)""",
        """v0 AS MATERIALIZED (
    SELECT w, count(*) AS freq,
           chr(31) || array_to_string(
               list_filter(string_split(w, ''), x -> x <> ''), chr(31))
               || chr(31) AS s
    FROM wd GROUP BY w
)""",
    ]
    for r in range(bpe.N_MERGES):
        ctes.append(f"""p{r} AS MATERIALIZED (
    SELECT u.a AS a, u.b AS b, sum(freq) AS total FROM (
        SELECT freq,
               unnest(list_transform(
                   generate_series(1, len(arr) - 1),
                   i -> {{'a': arr[i], 'b': arr[i + 1]}})) AS u
        FROM (
            SELECT freq,
                   list_filter(string_split(s, chr(31)), x -> x <> '') AS arr
            FROM v{r}
        )
    ) GROUP BY u.a, u.b
)""")
        ctes.append(f"""t{r} AS MATERIALIZED (
    SELECT a, b FROM p{r} ORDER BY total DESC, a ASC, b ASC LIMIT 1
)""")
        rep_expr = "s"
        for _ in range(bpe.MERGE_PASSES):
            rep_expr = (
                f"replace({rep_expr}, chr(31)||a||chr(31)||b||chr(31), "
                "chr(31)||a||b||chr(31))"
            )
        ctes.append(f"""v{r + 1} AS MATERIALIZED (
    SELECT w, freq, {rep_expr} AS s FROM v{r}, t{r}
)""")
    ctes.append(f"""pw AS MATERIALIZED (
    SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> ''))
               AS n_tok
    FROM v{bpe.N_MERGES}
)""")
    ctes.append("""agg AS (
    SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
           CAST(sum(length(w)) AS BIGINT) AS chars
    FROM wd JOIN pw USING (w) GROUP BY doc_id
)""")
    return ctes


def _bpe_sql() -> str:
    """DuckDB replay of functions/bpe.py::bpe_doc_stats — the BPE
    TRAINING loop (Sennrich et al. 2016) as chained CTEs: per merge
    round, frequency-weighted adjacent-pair counts over the vocab,
    the (total DESC, a, b) argmax as a one-row CTE, and the identical
    bounded replace sequence. MATERIALIZED throughout — the rounds
    chain, so inlining would re-expand the whole prefix per reference
    (the probe-chain lesson)."""
    ctes = _bpe_ctes()
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT doc_id, bpe_tokens, chars,
       CASE WHEN bpe_tokens > 0
            THEN floor(CAST(chars AS DOUBLE) / bpe_tokens * 10000 + 0.5)
                 / 10000
            ELSE 0.0 END AS chars_per_token
FROM agg
"""
    )


def _bpe_vocab32k_sql() -> str:
    """Oracle for text_bpe_apply_vocab32k: exact replay of chars,
    per-doc word counts and the 8-merge reference token counts (the
    full training-loop CTE chain), with the two 32k-vocab bound pins
    as TRUE — the Python apply under the big table is engine-specific
    and deliberately outside the replay, like the Bloom/CMS stages;
    its invariants (prefix monotonicity, >= one token per word) are
    theorems of the sequential merge semantics, so a violation means
    the apply tier is broken, not the corpus."""
    ctes = _bpe_ctes()
    ctes.append("""wc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words
    FROM wd GROUP BY doc_id
)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT agg.doc_id, agg.chars, wc.n_words,
       agg.bpe_tokens AS tokens_ref8,
       TRUE AS vocab32k_leq_ref8,
       TRUE AS vocab32k_geq_words
FROM agg JOIN wc ON agg.doc_id = wc.doc_id
"""
    )


@register(
    "text_bpe_tokenize",
    oracle=_bpe_sql(),
    tags=("text", "tokenization", "bpe", "iterative", "llm-pipeline"),
    bench=True,
    doc="REAL BPE tokenization (Sennrich et al. 2016, arXiv:1508.07909) "
    "— the operator a token-budget pipeline actually runs, past "
    "text_bpe_token_stats' pre-tokenization estimate: 8 merges are "
    "LEARNED from the corpus (frequency-weighted adjacent-pair "
    "counts over the word VOCABULARY — the subword-nmt training "
    "reduction: all rounds run on the vocab, not the corpus) and "
    "applied as chained JVM replace() passes; the winning pair per "
    "round is collected (one row) by the same loop that yields the "
    "pretrained merge table (functions/bpe.py::learn_merges). "
    "Iterative shape of sim_ivf_lloyd: each round is one single-"
    "partition pair-count + apply over the vocab, localCheckpointed "
    "per round, never shuffle width; per-doc stats join corpus words "
    "back to the tokenized vocab (AQE broadcasts the small side). "
    "Merge semantics pinned cross-engine: 3 non-overlapping "
    "left-to-right replace passes per merge — both engines run the "
    "IDENTICAL bounded sequence (functions/bpe.py MERGE SEMANTICS). "
    "Oracle replays the full training loop: vocab CTE, per-round "
    "pair-count/argmax/apply chain, final per-doc join — a "
    "cross-engine VALUE oracle over learned state, like the Lloyd "
    "chains. Zero per-row Python anywhere.",
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.bpe import bpe_doc_stats

    docs = catalog.load_table(spark, sf_dir, "documents")
    return bpe_doc_stats(docs)


@register(
    "text_bpe_apply_vocab32k",
    oracle=_bpe_vocab32k_sql(),
    tags=(
        "text",
        "tokenization",
        "bpe",
        "pretrained",
        "gate-check",
        "llm-pipeline",
    ),
    bench=True,
    doc="BPE apply at PRODUCTION vocabulary scale: the 8 corpus-"
    "learned merges plus 32,768 deterministically generated letter-"
    "n-gram merges (functions/bpe.py::generate_pretrained_merges — "
    "every generated merge genuinely fires on English-like text; a "
    "real deployment loads merges.txt) applied through the same "
    "vocab-level mapInPandas tier (functions/bpe.py::"
    "bpe_apply_doc_stats) under the 8-merge table too. "
    "The 32k-table token counts are engine-specific (outside the "
    "SQL replay, the Bloom/CMS precedent); what the oracle pins "
    "exactly: per-doc chars, word counts and the 8-merge reference "
    "token counts (full training-loop replay), plus two THEOREMS of "
    "the sequential merge semantics as live booleans — the learned "
    "8 merges are a rank-prefix of the big table, so extra merges "
    "only fuse further (vocab32k_leq_ref8), and every word is >= 1 "
    "token (vocab32k_geq_words). A violation of either means the "
    "apply tier is broken. The bench row doubles as the vocab-size-"
    "independence measurement: this query applies BOTH the 8-merge "
    "and 32,776-merge tables to the same corpus, and its cost "
    "does not track the 4096x table ratio.",
)
def text_bpe_apply_vocab32k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import bpe

    docs = catalog.load_table(spark, sf_dir, "documents")
    merges8 = bpe.learn_merges(docs)
    table = merges8 + bpe.generate_pretrained_merges(32768)
    big = bpe.bpe_apply_doc_stats(docs, table).select(
        "doc_id", F.col("bpe_tokens").alias("tokens_32k")
    )
    ref = bpe.bpe_apply_doc_stats(docs, merges8).select(
        "doc_id", F.col("bpe_tokens").alias("tokens_ref8"), "chars"
    )
    n_words = (
        bpe._corpus_words(docs)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"))
    )
    return (
        ref.join(big, "doc_id")
        .join(n_words, "doc_id")
        .select(
            "doc_id",
            "chars",
            "n_words",
            "tokens_ref8",
            (F.col("tokens_32k") <= F.col("tokens_ref8")).alias(
                "vocab32k_leq_ref8"
            ),
            (F.col("tokens_32k") >= F.col("n_words")).alias(
                "vocab32k_geq_words"
            ),
        )
    )


def _signups(ev: DataFrame) -> DataFrame:
    """Signup events as the as-of right side: (user_id, ts, signup_ts,
    signup_value)."""
    return ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("ts").alias("signup_ts"),
        F.col("value").alias("signup_value"),
    )


def _attribute_purchases(ev: DataFrame, signups: DataFrame, asof_join, **kw) -> DataFrame:
    """Each purchase in ``ev`` attributed to its user's most recent
    signup in ``signups`` by the backward as-of tier ``asof_join``
    (``kw`` are its partitioning arguments), plus ms_since_signup."""
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        p,
        signups,
        time_col="ts",
        by_cols=["user_id"],
        carry_cols=["signup_ts", "signup_value"],
        suffix="",
        **kw,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "signup_ts",
        "signup_value",
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            - F.unix_millis(F.col("signup_ts").cast("timestamp"))
        ).alias("ms_since_signup"),
    )


@register(
    "asof_purchase_attribution",
    oracle="""WITH p AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
s AS (
    SELECT user_id, ts AS signup_ts, value AS signup_value
    FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       s.signup_ts, s.signup_value,
       CAST(epoch_ms(p.ts) - epoch_ms(s.signup_ts) AS BIGINT) AS ms_since_signup
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
""",
    tags=("asof-join", "events", "custom-operator"),
    bench=True,
    doc="Backward as-of join (an operator Spark lacks natively): each "
    "purchase event attributed to the user's most recent signup at or "
    "before it, via the union + last(ignoreNulls) window formulation "
    "(one key shuffle, no join, no Python). Oracle = DuckDB's NATIVE "
    "ASOF LEFT JOIN — an independent implementation of the same "
    "semantics, not a replay of ours.",
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = catalog.load_table(spark, sf_dir, "events")
    return _attribute_purchases(ev, _signups(ev), oj.asof_join_backward)


@register(
    "geo_j6_raster_bench",
    oracle="""WITH px AS (
  SELECT (i.i + 0.5) AS px, (j.j + 0.5) AS py,
         (i.i * 31 + j.j * 17) % 97 AS vn
  FROM range(0, 1000) AS i(i), range(0, 600) AS j(j)
),
poly AS (
  SELECT n_nationkey * 10 + s.s AS poly_id,
         concat(n_name, '_', s.s) AS name,
         CAST((n_nationkey * 10 + s.s) * 37 % 960 AS DOUBLE) AS x0,
         CAST((n_nationkey * 10 + s.s) * 53 % 560 AS DOUBLE) AS y0,
         CAST((n_nationkey * 10 + s.s) * 37 % 960
              + 8 + (n_nationkey * 10 + s.s) % 25 AS DOUBLE) AS x1,
         CAST((n_nationkey * 10 + s.s) * 53 % 560
              + 6 + (n_nationkey * 10 + s.s) % 19 AS DOUBLE) AS y1
  FROM nation, range(0, 10) AS s(s)
)
SELECT poly_id, name,
       round(CAST(sum(vn) AS DOUBLE) / 3.0 / count(*), 4) AS mean_value,
       max(vn) / 3.0 AS max_value,
       min(vn) / 3.0 AS min_value,
       count(*) AS pixel_count
FROM px JOIN poly
  ON px.px >= poly.x0 AND px.px < poly.x1
 AND px.py >= poly.y0 AND px.py < poly.y1
GROUP BY poly_id, name
""",
    tags=("J6", "range-join", "geo", "scale-shape"),
    bench=True,
    doc="J6 at measured raster scale: 600k synthetic pixels x 250 "
    "polygons through the grid-binned equi-join (the plan that "
    "survives when the polygon side is too large to broadcast-"
    "nested-loop). The mean aggregates the exact integer pixel "
    "numerator (BIGINT sum, one division at the end) so the oracle "
    "hash cannot drift with float summation order at any volume.",
)
def geo_j6_raster_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = catalog.load_table(spark, sf_dir, "nation")
    joined = geo.binned_zonal_join(
        geo.synth_polygons_many(nation),
        geo.pixel_grid_par(spark, nx=1000, ny=600),
    )
    from .functions.exact import fround

    return joined.groupBy("poly_id", "name").agg(
        fround(
            F.sum("pixel_value_n").cast("double") / 3.0 / F.count("*"), 4
        ).alias("mean_value"),
        (F.max("pixel_value_n") / 3.0).alias("max_value"),
        (F.min("pixel_value_n") / 3.0).alias("min_value"),
        F.count("*").alias("pixel_count"),
    )


@register(
    "bucketed_revenue_by_segment",
    oracle="""SELECT c_mktsegment AS segment,
       count(*) AS n_orders,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2)
            AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
    tags=("bucketing", "co-located-join", "scale-shape"),
    doc="Shuffle-free co-located join inside the hard gate: customer "
    "and orders are written bucketed+sorted by custkey, and the join "
    "runs as a zero-exchange sort-merge join (plan asserted in "
    "tests/test_bucketing.py). The oracle is the plain SQL join — "
    "bucketing must never change results, only the plan.",
)
def bucketed_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import exact_sum
    from .sources import bucketing as bk

    cust = catalog.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = catalog.load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    bk.write_bucketed(cust, "bq_gate_cust", "c_custkey", 16)
    bk.write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "bq_gate_ord",
        "c_custkey",
        16,
    )
    joined = bk.cobucketed_join(spark, "bq_gate_cust", "bq_gate_ord", "c_custkey")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice"), 2).alias("revenue"),
    )


# ===========================================================================
# Curation extensions (round 4): PII scan, repetition signals, context
# packing, stratified quota sampling — training-data pipeline staples
# beyond the reference's surface, all pure Column expressions.
# ===========================================================================

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9() -]{7,}[0-9]"
_PII_IP = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"

# deterministic PII injection replayed identically by the oracle — the
# synthetic corpus contains no organic PII, so the patterns must be
# exercised by construction (both engines augment the same docs)
_PII_AUG_SQL = """text
  || CASE WHEN doc_id % 7 = 0
     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
     ELSE '' END
  || CASE WHEN doc_id % 11 = 0
     THEN ' call +1 (555) 01' || CAST(doc_id AS VARCHAR) || ' now' ELSE '' END
  || CASE WHEN doc_id % 13 = 0
     THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25 net'
     ELSE '' END"""


@register(
    "text_pii_scan",
    oracle=rf"""WITH aug AS (
    SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INTEGER) AS n_ips,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
            '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_PHONE}', '<PHONE>', 'g'),
            '{_PII_IP}', '<IP>', 'g')) AS INTEGER) AS redacted_len
FROM aug
""",
    tags=("text", "pii", "curation"),
    doc="PII scan + redaction accounting over the documents corpus "
    "(emails / phone numbers / IPv4 via lookaround-free regexes that "
    "behave identically in Java regex and RE2): per-doc match counts "
    "and the post-redaction length. PII is injected deterministically "
    "by doc_id in BOTH engines since the synthetic corpus carries "
    "none organically. Single scan, pure Column expressions.",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" call +1 (555) 01"), sid, F.lit(" now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".25 net"),
            ),
        ).otherwise(F.lit("")),
    )
    t = docs.select("doc_id", aug.alias("t"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_EMAIL), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_PHONE), F.lit(0))).alias(
            "n_phones"
        ),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_IP), F.lit(0))).alias(
            "n_ips"
        ),
        F.length(red).alias("redacted_len"),
    )


# lowered whitespace tokens per doc: d (doc_id, lt)
_LT_CTE = r"""d AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS lt
    FROM documents
)"""


@register(
    "text_repetition_profile",
    oracle=rf"""WITH {_LT_CTE},
grams AS (
    SELECT doc_id,
           CASE WHEN len(lt) >= 3 THEN
             list_transform(range(1, len(lt) - 1),
                            i -> concat_ws(' ', lt[i], lt[i+1], lt[i+2]))
           ELSE [] END AS g3
    FROM d
),
g AS (SELECT doc_id, unnest(g3) AS gram FROM grams),
per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
agg AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
    FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_grams, 0) AS n_grams,
       round(COALESCE((n_grams - n_distinct) * 1.0 / n_grams, 0.0), 6)
           AS dup_frac,
       round(COALESCE(top_c * 1.0 / n_grams, 0.0), 6) AS top_share
FROM d LEFT JOIN agg USING (doc_id)
""",
    tags=("text", "quality", "repetition", "curation"),
    doc="Repetition quality signals (the Gopher-rule family): per-doc "
    "duplicate-trigram fraction and most-frequent-trigram share over "
    "ALL overlapping word 3-grams (duplicates kept — word_ngrams, "
    "not the distinct shingle set). Docs under 3 tokens report zero "
    "repetition via the left-join coalesce.",
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround
    from .functions.text import word_ngrams

    docs = catalog.load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 3)).alias("gram")
    )
    per = g.groupBy("doc_id", "gram").count()
    agg = per.groupBy("doc_id").agg(
        F.sum("count").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("count").alias("top_c"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        fround(
            F.coalesce(
                (F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams"),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_frac"),
        fround(
            F.coalesce(F.col("top_c") / F.col("n_grams"), F.lit(0.0)), 6
        ).alias("top_share"),
    )


@register(
    "curation_pack_contexts",
    oracle=r"""WITH d AS (
    SELECT doc_id, source,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')) AS tc
    FROM documents
),
packed AS (
    SELECT source, doc_id, tc,
           CAST(floor(COALESCE(sum(tc) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 256.0) AS BIGINT) AS bin_id
    FROM d
)
SELECT source, bin_id,
       count(*) AS n_docs,
       CAST(sum(tc) AS BIGINT) AS token_sum,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed GROUP BY source, bin_id
""",
    tags=("curation", "packing", "window"),
    doc="Greedy contiguous context packing — the training-data step "
    "that concatenates documents into fixed token-budget sequences: "
    "per source, docs in deterministic id order enter bin "
    "floor(prev_cumulative_tokens / 256). One window over the "
    "(source, doc_id) sort — the same single-shuffle shape at any "
    "corpus size; bins that straddle the budget boundary overflow by "
    "at most one doc (the standard greedy packer's contract).",
)
def curation_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .functions.text import token_count

    docs = catalog.load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("tc"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = d.select(
        "source",
        "doc_id",
        "tc",
        F.floor(F.coalesce(F.sum("tc").over(w), F.lit(0)) / 256.0).alias(
            "bin_id"
        ),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tc").cast("long").alias("token_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "sample_stratified_quota",
    oracle="""SELECT doc_id, source, CAST(rn AS INTEGER) AS rn FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM documents
) WHERE rn <= 25
""",
    tags=("curation", "sampling", "window"),
    doc="Stratified downsampling with exact per-source quotas — the "
    "training-mix construction step: a deterministic pseudo-random "
    "order (md5 of the id, reproducible in any engine, no RNG state) "
    "ranked per source, keep the first 25. WindowGroupLimit pushes "
    "the rank cutoff map-side, so the shuffle carries candidates, "
    "not the corpus.",
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = catalog.load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 25)
    )


def _resize_stats_oracle(w_mod: int, h_mod: int, r: str, g: str, b: str) -> str:
    """Nearest-neighbour resize to max side 8, channel means and the
    position-weighted fingerprint of the synthetic media whose source
    pixel (sx, sy) has channels ``r``, ``g``, ``b`` (SQL over sx, sy,
    media_id); image sides are doc_id % ``w_mod``/``h_mod`` + 2."""
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
         doc_id % {w_mod} + 2 AS w, doc_id % {h_mod} + 2 AS h,
         least(doc_id % {w_mod} + 2, 8) AS ow, least(doc_id % {h_mod} + 2, 8) AS oh
  FROM documents
),
px AS (
  SELECT media_id, w, h, ow, oh, i.i AS i, j.j AS j,
         (i.i * w // ow) AS sx, (j.j * h // oh) AS sy
  FROM m, range(0, 8) i(i), range(0, 8) j(j)
  WHERE i.i < ow AND j.j < oh
),
v AS (
  SELECT media_id, w, h, ow, oh, i, j,
         {r} AS r,
         {g} AS g,
         {b} AS b
  FROM px
)
SELECT media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
       round(sum(r) * 1.0 / (ow * oh), 6) AS mean_r,
       round(sum(g) * 1.0 / (ow * oh), 6) AS mean_g,
       round(sum(b) * 1.0 / (ow * oh), 6) AS mean_b,
       CAST(sum((r + 2 * g + 3 * b) * (1 + i + 2 * j)) AS BIGINT)
           AS fingerprint
FROM v GROUP BY media_id, w, h, ow, oh
"""


@register(
    "mm_bmp_decode_stats",
    oracle=_resize_stats_oracle(
        13, 11,
        "(sx * 7 + sy * 3 + media_id) % 256",
        "(sx * 5 + sy * 11 + 2 * media_id) % 256",
        "(sx * 13 + sy + 3 * media_id) % 256",
    ),
    tags=("multimodal", "image", "decode", "mapInPandas"),
    bench=True,
    doc="REAL image decode end-to-end: per doc a genuine 24-bit BMP "
    "payload (pure-stdlib writer, sources/bmp.py) is decoded from "
    "actual pixel bytes, nearest-neighbor resized with numpy, and "
    "reduced to channel means + a position-weighted fingerprint — "
    "all inside Arrow-batched mapInPandas. The oracle recomputes the "
    "stats INDEPENDENTLY from the synthetic pixel function (it never "
    "parses BMP), so a row-flip, BGR swap or padding slip in the "
    "decoder breaks the hash — the GeoTIFF writer-vs-oracle proof "
    "pattern applied to the multimodal path.",
)
def mm_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    docs = catalog.load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("media_id"))
    media = mm.media_bmp_corpus(ids)
    return mm.bmp_decode_resize_stats(media)


@register(
    "mm_png_decode_stats",
    oracle=_resize_stats_oracle(
        12, 9,
        "(sx * 11 + sy * 5 + media_id) % 256",
        "(sx * 3 + sy * 13 + 2 * media_id) % 256",
        "(sx * 7 + sy * 17 + 3 * media_id) % 256",
    ),
    tags=("multimodal", "image", "decode", "png", "mapInPandas"),
    bench=True,
    doc="REAL PNG decode end-to-end (pure-stdlib codec sources/png.py "
    "— zlib inflate, chunk CRC verify, and the five scanline "
    "predictors; the writer stores row y under filter y%%5 so every "
    "payload taller than 4 rows exercises Sub/Up/Average/Paeth, and "
    "a predictor slip — especially Paeth tie order — breaks the "
    "hash): decode from actual compressed bytes, numpy nearest-"
    "neighbor resize, channel means + position-weighted fingerprint "
    "inside Arrow-batched mapInPandas.  The oracle recomputes stats "
    "INDEPENDENTLY from the synthetic pixel function (never parses "
    "PNG) — the BMP/GeoTIFF writer-vs-oracle proof pattern; the "
    "parser is additionally pinned to hand-computed RFC 2083 filter "
    "vectors in tests/test_multimodal.py.  Same production note as "
    "the JPEG path: per-pixel Python is the bounded exception, a "
    "native decode UDF slots behind the same mapInPandas signature.",
)
def mm_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    docs = catalog.load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("media_id"))
    media = mm.media_png_corpus(ids)
    return mm.png_decode_resize_stats(media)


@register(
    "mm_wav_decode_stats",
    oracle="""WITH m AS (
  SELECT doc_id AS media_id, doc_id % 50 + 20 AS n FROM documents
),
v AS (
  SELECT media_id, n, t.t AS t,
         (t.t * t.t * media_id + 7 * t.t) % 2003 - 1001 AS s
  FROM m, range(0, 70) t(t) WHERE t.t < n
),
nz AS (
  SELECT media_id, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY t) AS prev
  FROM v WHERE s <> 0
),
zc AS (
  SELECT media_id,
         count(*) FILTER (
             WHERE prev IS NOT NULL AND (s < 0) <> (prev < 0)
         ) AS zero_crossings
  FROM nz GROUP BY media_id
),
agg AS (
  SELECT media_id, any_value(n) AS n,
         round(sqrt(sum(s * s) * 1.0 / any_value(n)), 6) AS rms,
         max(abs(s)) AS peak
  FROM v GROUP BY media_id
)
SELECT agg.media_id,
       16000 AS sample_rate,
       CAST(n AS INTEGER) AS n_samples,
       rms,
       CAST(peak AS INTEGER) AS peak,
       CAST(COALESCE(zero_crossings, 0) AS INTEGER) AS zero_crossings
FROM agg LEFT JOIN zc USING (media_id)
""",
    tags=("multimodal", "audio", "decode", "mapInPandas"),
    bench=True,
    doc="REAL audio decode end-to-end: per doc a genuine mono 16-bit "
    "PCM WAV payload (pure-stdlib RIFF writer, sources/wav.py) is "
    "parsed from actual sample bytes inside Arrow-batched mapInPandas "
    "and reduced to RMS / peak / sign-change zero-crossings. The "
    "oracle recomputes the stats independently from the synthetic "
    "sample function without parsing WAV — a chunk-offset or "
    "endianness slip in the parser breaks the hash. Audio twin of "
    "mm_bmp_decode_stats.",
)
def mm_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    docs = catalog.load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("media_id"))
    return mm.wav_decode_stats(mm.media_wav_corpus(ids))


from .functions.layout import z_value_sql as _z_sql  # noqa: E402

_ZORDER_ORACLE = f"""WITH px AS (
  SELECT (t.id // 600) AS i, (t.id % 600) AS j FROM range(0, 600000) t(id)
),
z AS (SELECT ({_z_sql('i', 'j', 10)}) AS zv FROM px)
SELECT (zv >> 12) AS z_tile, count(*) AS n_pixels
FROM z GROUP BY z_tile
"""


@register(
    "layout_zorder_histogram",
    oracle=_ZORDER_ORACLE,
    tags=("layout", "zorder", "geo", "scale-shape"),
    doc="Z-order (Morton) locality layout over the 1000x600 raster "
    "grid: interleave (i, j) bits into a z-value (the Delta/Iceberg "
    "OPTIMIZE ZORDER technique), bucket by z >> 12 (4096-cell tiles) "
    "and count — the histogram a layout optimizer uses to pick file "
    "boundaries. The oracle replays the identical bit arithmetic "
    "generated from the same Python loop, so the two engines cannot "
    "drift; locality itself (aligned 2^k boxes span exactly one "
    "contiguous z-range) is pinned in tests/test_layout.py.",
)
def layout_zorder_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.layout import z_value

    px = geo.pixel_grid_par(spark, nx=1000, ny=600)
    z = z_value(F.col("i"), F.col("j"), bits=10)
    return (
        px.select(F.shiftright(z, 12).alias("z_tile"))
        .groupBy("z_tile")
        .agg(F.count("*").alias("n_pixels"))
    )


@register(
    "layout_export_shuffle",
    oracle="""WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT doc_id, h, h % 16 AS shard,
       row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS pos
FROM h
""",
    tags=("layout", "export", "llm-pipeline", "scale-shape"),
    doc="Deterministic global shuffle for training-data export: every "
    "doc gets (shard, pos) under the md5 permutation h = "
    "md5_int60('epoch0:' || doc_id), shard = h % 16, pos = rank "
    "within shard ordered by (h, doc_id). Reading shards "
    "sequentially replays a uniform pseudo-random permutation of the "
    "corpus — the property a sequence-training export needs — with "
    "ONE hash exchange and a per-shard local sort, no global sort, "
    "at any corpus size (functions/layout.py::"
    "export_shuffle_assignment; the sharded parquet writer "
    "write_shuffled_shards is pinned by tests/test_layout.py). A new "
    "epoch is a new seed string with the identical plan. The oracle "
    "replays the identical md5 arithmetic, shard modulus, and "
    "tie-broken rank.",
)
def layout_export_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.layout import export_shuffle_assignment

    docs = catalog.load_table(spark, sf_dir, "documents")
    return export_shuffle_assignment(docs)




@register(
    "ts_resample_interpolate",
    oracle="""WITH obs AS (
  SELECT user_id, epoch_ms(ts) // 3600000 AS b,
         round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE)
               / count(*), 6) AS v_obs
  FROM events GROUP BY user_id, b
),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx)) AS b
  FROM (SELECT user_id, min(b) AS mn, max(b) AS mx
        FROM obs GROUP BY user_id)
),
j AS (SELECT grid.user_id, grid.b, v_obs
      FROM grid LEFT JOIN obs USING (user_id, b)),
f AS (
  SELECT user_id, b, v_obs,
    last_value(v_obs IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
    last_value(CASE WHEN v_obs IS NOT NULL THEN b END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_prev,
    first_value(v_obs IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY b
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
    first_value(CASE WHEN v_obs IS NOT NULL THEN b END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY b
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS b_next
  FROM j
)
SELECT user_id, b,
       round(COALESCE(v_obs,
             v_prev + (v_next - v_prev) * ((b - b_prev) / (b_next - b_prev))),
             6) AS v,
       v_obs IS NOT NULL AS observed
FROM f
""",
    tags=("timeseries", "resample", "interpolate", "window"),
    doc="Hourly resample of per-user event values with linear "
    "interpolation of empty buckets (the generalized J2 fill ladder): "
    "decimal-exact bucket means rounded before interpolation, carry "
    "windows for nearest observed neighbors both directions, the "
    "interpolation expression associated identically in both engines "
    "so the value hash holds. Grid = sequence-explode bounded by each "
    "key's own span; one key shuffle.",
)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import resample_interpolate

    ev = catalog.load_table(spark, sf_dir, "events")
    return resample_interpolate(
        ev, time_col="ts", value_col="value", by_cols=["user_id"]
    )


def _ewma_oracle() -> str:
    """Oracle generated from the SAME weight table as the operator so
    the fixed-order weighted sums match term for term."""
    from .operators.ewma import EWMA_WINDOW, ewma_weights

    ws = ewma_weights()
    lag_cols = ",\n         ".join(
        f"lag(x, {i}) OVER w AS l{i}" for i in range(1, EWMA_WINDOW + 1)
    )
    num = " + ".join(
        f"{w!r} * coalesce(l{i}, 0.0)" for i, w in enumerate(ws, start=1)
    )
    den = " + ".join(
        f"CASE WHEN l{i} IS NOT NULL THEN {w!r} ELSE 0.0 END"
        for i, w in enumerate(ws, start=1)
    )
    return f"""WITH x AS (
  SELECT event_type AS key, epoch_ms(ts) // 3600000 AS b,
         round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 6) AS x
  FROM events GROUP BY event_type, b
),
l AS (
  SELECT key, b, x,
         {lag_cols}
  FROM x WINDOW w AS (PARTITION BY key ORDER BY b)
),
e AS (
  SELECT key, b, x,
         round(({num}) / nullif({den}, 0.0), 6) AS ewma_prev
  FROM l
),
r AS (
  SELECT key, b, x, ewma_prev,
         CASE WHEN ewma_prev > 0 THEN round(x / ewma_prev, 4) END AS ratio
  FROM e
)
SELECT key, b, x, ewma_prev, ratio,
       coalesce(ratio > 2.0 OR ratio < 0.5, FALSE) AS is_anomaly
FROM r
"""


@register(
    "ts_ewma_anomaly",
    oracle=_ewma_oracle(),
    tags=("timeseries", "ewma", "anomaly", "window"),
    bench=True,
    doc="Time-decayed rolling baseline + anomaly flag "
    "(operators/ewma.py::ewma_baseline_anomaly): per "
    "(event_type, hour) decimal-exact volume, EWMA of the previous 8 "
    "observed buckets with alpha=0.5 (power-of-two weights — exact "
    "doubles, fixed-order sums, renormalized over existing lags so "
    "the series start needs no extrapolation branch), flag at 2x "
    "above / half below baseline.  The bounded window makes the "
    "recurrence pure lag algebra (the unbounded EWMA is sequential "
    "and unshuffleable; 8 terms bound the truncation at <0.4% of "
    "weight mass).  Scale: events pre-aggregate to (key, bucket) "
    "before any window — partitions hold #hours rows, not #events.",
)
def ts_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ewma import ewma_baseline_anomaly

    ev = catalog.load_table(spark, sf_dir, "events")
    return ewma_baseline_anomaly(
        ev, time_col="ts", value_col="value", key_col="event_type"
    )


def _unigram_mean_logprob(spark: SparkSession, sf_dir: str, *extra) -> DataFrame:
    """Per-doc unigram-LM ``mean_logprob`` of the documents: corpus
    token frequencies -> per-token ln(count/N) quantized to
    DECIMAL(30,8) -> exact per-doc mean; ``extra`` per-doc aggregates
    ride along."""
    from .functions.exact import DECIMAL_TYPE, fround
    from .functions.text import tokens

    docs = catalog.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("c"))
    n = tok.agg(F.count("*").alias("nn"))
    scored = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.log(F.col("c") * 1.0 / F.col("nn"))
            .cast(DECIMAL_TYPE)
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        fround(F.sum("lp").cast("double") / F.count("*"), 6).alias(
            "mean_logprob"
        ),
        *extra,
    )


@register(
    "text_unigram_logprob",
    oracle=r"""WITH tok AS (
  SELECT doc_id, unnest(
    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                x -> x <> '')) AS token
  FROM documents
),
freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
n AS (SELECT count(*) AS nn FROM tok),
scored AS (
  SELECT doc_id,
         CAST(ln(c * 1.0 / nn) AS DECIMAL(30,8)) AS lp
  FROM tok JOIN freq USING (token) CROSS JOIN n
)
SELECT doc_id,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob,
       count(*) AS n_tokens
FROM scored GROUP BY doc_id
""",
    tags=("text", "quality", "language-model", "curation"),
    doc="Unigram LM quality score (the CCNet/fastText-filter shape): "
    "corpus token frequencies -> per-token ln(count/N) -> per-doc "
    "mean log-probability. Two aggregations + one token-keyed join "
    "(broadcastable when the vocab is small, shuffle join at corpus "
    "scale); per-token logs are quantized to DECIMAL(30,8) before the "
    "exact sum so the cross-engine hash is immune to float summation "
    "order — same discipline as exact_sum. Zero-token docs drop out "
    "in both engines.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_mean_logprob(spark, sf_dir, F.count("*").alias("n_tokens"))


@register(
    "dedup_cc_distributed",
    oracle=REGISTRY["dedup_connected_components"].oracle,
    tags=("dedup", "clustering", "iterative", "scale-shape"),
    doc="The DISTRIBUTED level of the two-level connected components, "
    "forced by local_threshold=0: the same LSH edge feed runs the "
    "full large-star/small-star contraction loop instead of the "
    "driver union-find finish, against the same recursive-CTE oracle "
    "— so the hard gate checks BOTH execution levels, not just the "
    "path the small gate corpus naturally takes.",
)
def dedup_cc_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    edges = dd.minhash_lsh_pairs(docs, threshold=0.8)
    return dd.connected_components(edges, local_threshold=0)


def _decile_stats(dec: DataFrame) -> DataFrame:
    """Per-decile count, exact mean, min and max of o_totalprice."""
    from .functions.exact import exact_sum, fround

    return dec.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        fround(
            exact_sum(F.col("o_totalprice"), 8) / F.count("*"), 2
        ).alias("avg_price"),
        fround(F.min("o_totalprice"), 2).alias("lo"),
        fround(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "pricing_decile_profile",
    oracle="""WITH t AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE)
             / count(*), 2) AS avg_price,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM t GROUP BY decile
""",
    tags=("analytics", "window", "distribution"),
    doc="Decile profile of order prices: NTILE(10) over a total order "
    "(price, key) so bucket boundaries are deterministic across "
    "engines, then per-decile count/exact-mean/min/max. SCALE BOUND, "
    "stated: an unpartitioned window is a single-reducer sort — exact "
    "global deciles cost that by definition. This is the exact tier "
    "for dimension-sized inputs; at corpus scale use the sketch tier "
    "(a13_approx_quantiles_scale, approx_percentile) for boundaries "
    "and broadcast-join them back as range predicates.",
)
def pricing_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = catalog.load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    t = orders.select(
        "o_totalprice", F.ntile(10).over(w).alias("decile")
    )
    return _decile_stats(t)


@register(
    "sample_weighted_exp_key",
    oracle="""WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             + 1.0) / 4294967297.0) / (n_chars + 1) AS DECIMAL(30,12)) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (ORDER BY k DESC, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, source, n_chars, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 100
""",
    tags=("curation", "sampling", "weighted"),
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "exponential-key method): key_i = ln(u_i)/w_i with u_i a "
    "deterministic md5-derived uniform in (0,1) and w_i = n_chars+1, "
    "take the top-k keys — each doc's inclusion probability is "
    "proportional to its weight, with NO RNG state and bit-identical "
    "replay in any engine. The curation move for quality- or "
    "length-weighted corpus subsampling; one scan + one top-k, and "
    "Catalyst plans the limited global sort as TakeOrderedAndProject "
    "(per-partition top-k, single merge of k-row heads — asserted in "
    "tests/test_plans.py), NOT a full-corpus sort.",
)
def sample_weighted_exp_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .functions.hashing import md5_int32

    docs = catalog.load_table(spark, sf_dir, "documents")
    u = (md5_int32(F.col("doc_id").cast("string")) + 1.0) / 4294967297.0
    # quantize the key before ranking (ADVICE r4 #2): java.lang.Math.log
    # and libm ln() may differ by 1 ulp (~1e-19 at |k|~1e-3), which could
    # flip the rank-100 cutoff; a 1e-12 grid is ~1e7 ulps wide, so both
    # engines land on the same decimal, and doc_id breaks grid ties.
    k = (F.log(u) / (F.col("n_chars") + 1)).cast("decimal(30,12)")
    keyed = docs.select("doc_id", "source", "n_chars", k.alias("k"))
    w = Window.orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.select(
            "doc_id", "source", "n_chars", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 100)
    )

def _histogram_buckets(base: DataFrame, key: str, buckets: int):
    """Exact ``buckets``-quantile bucketing of the integer column
    ``key`` without a corpus-wide sort: a key histogram, a running
    count over it, the minimal key reaching each rank target
    ceil(i*N/buckets), the sorted bounds broadcast back as array
    ``bs``.  Returns ``base`` joined with ``bs`` and the 1-based
    bucket Column ``1 + |{b in bs : key > b}|``."""
    hist = base.groupBy(key).agg(F.count("*").alias("c"))
    wcum = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(key, F.sum("c").over(wcum).alias("cum"))
    n = hist.agg(F.sum("c").alias("n"))
    ranks = (
        base.sparkSession.range(1, buckets)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(n))
        .select(
            "i", F.ceil(F.col("i") * F.col("n") / float(buckets)).alias("target")
        )
    )
    bounds = (
        cum.join(F.broadcast(ranks), F.col("cum") >= F.col("target"))
        .groupBy("i")
        .agg(F.min(key).alias("bound"))
    )
    barr = bounds.agg(F.sort_array(F.collect_list("bound")).alias("bs"))
    bucket = F.lit(1) + F.size(F.filter(F.col("bs"), lambda b: F.col(key) > b))
    return base.crossJoin(F.broadcast(barr)), bucket


@register(
    "pricing_decile_sketch",
    oracle="""WITH base AS (
  SELECT o_orderkey, o_totalprice, floor(o_totalprice) AS pq FROM orders
),
h AS (SELECT pq, count(*) AS c FROM base GROUP BY pq),
cum AS (SELECT pq, sum(c) OVER (ORDER BY pq) AS cum FROM h),
nn AS (SELECT count(*) AS n FROM base),
ranks AS (
  SELECT gs.i AS i,
         CAST(ceil(gs.i * (SELECT n FROM nn) / 10.0) AS BIGINT) AS target
  FROM generate_series(1, 9) AS gs(i)
),
b AS (
  SELECT ranks.i, min(cum.pq) AS bound
  FROM cum JOIN ranks ON cum.cum >= ranks.target
  GROUP BY ranks.i
),
dec AS (
  SELECT base.o_orderkey, base.o_totalprice,
         CAST(1 + sum(CASE WHEN base.pq > b.bound THEN 1 ELSE 0 END)
              AS INTEGER) AS decile
  FROM base CROSS JOIN b
  GROUP BY base.o_orderkey, base.o_totalprice
)
SELECT decile,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE)
             / count(*), 2) AS avg_price,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM dec GROUP BY decile
""",
    tags=("analytics", "distribution", "scale-shape"),
    bench=True,
    doc="The SCALE TIER of the decile profile (VERDICT r4 'Next round' "
    "#4): exact decile boundaries WITHOUT a corpus-wide sort. Prices "
    "are quantized to whole units (floor) and reduced to a value "
    "HISTOGRAM (one map-side-combinable groupBy: D distinct values, "
    "bounded by the price domain, NOT by corpus row count); a running "
    "count over the histogram — a window over D rows, the only "
    "single-partition step and bounded by the domain, never the corpus "
    "— yields the minimal value reaching each rank target "
    "ceil(i*N/10). The 9 boundaries broadcast back and each row's "
    "decile is 1 + |{b : pq > b}| via a JVM-side array filter; "
    "per-decile aggregates are an ordinary partial-aggregated groupBy. "
    "Every corpus-sized shuffle is keyed (no global sort); ties share "
    "a decile (quantile_disc semantics). The DuckDB oracle replays the "
    "identical histogram/rank/boundary rule, so the hash pins both the "
    "boundary math and the assignment rule.",
)
def pricing_decile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = catalog.load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_totalprice", F.floor("o_totalprice").alias("pq")
    )
    joined, decile = _histogram_buckets(base, "pq", 10)
    dec = joined.select(
        "o_totalprice", decile.cast("integer").alias("decile")
    )
    return _decile_stats(dec)


@register(
    "asof_hotkey_attribution",
    oracle="""WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 5 < 2 THEN 0 ELSE user_id END AS user_id,
         ts, event_type, value
  FROM events
),
p AS (
  SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, ts AS signup_ts, max(value) AS signup_value
  FROM ev WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       s.signup_ts, s.signup_value,
       CAST(epoch_ms(p.ts) - epoch_ms(s.signup_ts) AS BIGINT) AS ms_since_signup
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
""",
    tags=("asof-join", "events", "skew", "scale-shape"),
    bench=True,
    doc="Hot-key corpus THROUGH the driver gate (VERDICT r4 'Next "
    "round' #6): a deterministic remap folds 40% of users onto one "
    "key (user_id % 5 < 2 -> 0 — DuckDB replays the same CASE, so "
    "the skew is in the oracle's input too), then the chunked as-of "
    "join attributes each purchase to the hot user's most recent "
    "signup. The hot key owns ~40% of both sides; the segmented "
    "(key, time-bucket) windows spread its timeline across buckets "
    "instead of sorting it in one task — the skew proof the local "
    "suite pins (tests/test_skew.py) now witnessed by the driver "
    "artifact. Signups are pre-deduped per (user, ts) with max(value) "
    "so as-of tie-breaking is engine-independent at any SF.",
)
def asof_hotkey_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = catalog.load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 5 < 2, F.lit(0).cast("bigint"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "ts",
        "event_type",
        "value",
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
        .select(
            "user_id", "ts", F.col("ts").alias("signup_ts"), "signup_value"
        )
    )
    return _attribute_purchases(
        ev, s, oj.asof_join_backward_chunked, bucket_span=7 * 86_400.0
    )


@register(
    "agg_hotkey_salted",
    oracle="""WITH t AS (
  SELECT CASE WHEN l_partkey % 2 = 0 THEN 0 ELSE l_partkey % 100 END AS hot_key,
         l_quantity, l_extendedprice, l_discount
  FROM lineitem
)
SELECT hot_key,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue
FROM t GROUP BY hot_key
""",
    tags=("skew", "aggregation", "scale-shape"),
    doc="Salted two-phase aggregation over a corpus where HALF the "
    "rows share one group key (l_partkey % 2 = 0 -> key 0, "
    "deterministic so the oracle's input carries the same skew): "
    "phase 1 groups by (key, xxhash64-row-salt) so the hot key's "
    "partials spread across 16 reducers, phase 2 re-folds the "
    "partials per key. Decimal partial sums keep the fold exact and "
    "partitioning-independent, so the salted result hash-matches "
    "DuckDB's PLAIN group-by — the semantic guarantee of salting, "
    "witnessed by the driver artifact (VERDICT r4 'Next round' #6).",
)
def agg_hotkey_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround
    from .functions.skew import salted_agg

    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 2 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("l_partkey") % 100)
        .alias("hot_key"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    out = salted_agg(
        li,
        ["hot_key"],
        {
            "n_items": (F.count("*"), F.sum),
            "sum_qty": (
                F.sum(F.col("l_quantity").cast("decimal(30,8)")),
                F.sum,
            ),
            "revenue": (
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,8)")
                ),
                F.sum,
            ),
        },
        n_salts=16,
    )
    return out.select(
        "hot_key",
        F.col("n_items").cast("bigint").alias("n_items"),
        fround(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        fround(F.col("revenue").cast("double"), 2).alias("revenue"),
    )


# ===========================================================================
# Benchmark decontamination + source mixing — LLM-pipeline curation ops
# ===========================================================================


# Exact decontamination semantics, shared by dedup_decontaminate and
# its semijoin and Bloom tiers: a tier changes only the physical plan,
# never the answer.
_DECON_EXACT_ORACLE = rf"""WITH {_LT_CTE},
g AS (
    SELECT doc_id,
           CASE WHEN len(lt) >= 8 THEN
             list_transform(range(1, len(lt) - 6),
                            i -> concat_ws(' ', lt[i], lt[i+1], lt[i+2],
                                           lt[i+3], lt[i+4], lt[i+5],
                                           lt[i+6], lt[i+7]))
           ELSE [] END AS g8
    FROM d
),
bg AS (
    SELECT DISTINCT gram FROM (
        SELECT unnest(g8) AS gram FROM g WHERE doc_id % 17 = 0)
),
tg AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(g8) AS gram FROM g WHERE doc_id % 17 <> 0)
),
m AS (
    SELECT tg.doc_id, count(*) AS n_matched
    FROM tg JOIN bg USING (gram) GROUP BY tg.doc_id
)
SELECT g.doc_id,
       CAST(len(g8) AS BIGINT) AS n_grams,
       CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(CASE WHEN COALESCE(m.n_matched, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS contaminated
FROM g LEFT JOIN m USING (doc_id)
WHERE g.doc_id % 17 <> 0
"""


def _eval_8grams(docs: DataFrame):
    """Decontamination prologue over ``docs`` (doc_id, text): the
    8-gram arrays (doc_id, g8), the eval-split predicate
    doc_id % 17 == 0, and the eval split's distinct grams (gram)."""
    from .functions.text import word_ngrams

    g = docs.select("doc_id", word_ngrams(F.col("text"), 8).alias("g8"))
    is_eval = F.col("doc_id") % 17 == 0
    grams = g.filter(is_eval).select(F.explode("g8").alias("gram")).distinct()
    return g, is_eval, grams


def _shuffled_contamination(
    train: DataFrame, n_grams, cand: DataFrame, bgrams: DataFrame
) -> DataFrame:
    """Per ``train`` doc: ``n_grams``, n_matched = its distinct
    (doc_id, gram) candidates ``cand`` found among the eval grams
    ``bgrams``, and the contaminated flag.  Both joins are pinned
    shuffle_hash, so no eval-sized side is ever broadcast."""
    matched = (
        cand.join(bgrams.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
    )
    return train.join(matched.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        n_grams.cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_matched"), F.lit(0))
        .cast("bigint")
        .alias("n_matched"),
        (F.coalesce(F.col("n_matched"), F.lit(0)) > 0)
        .cast("integer")
        .alias("contaminated"),
    )


@register(
    "dedup_decontaminate",
    oracle=_DECON_EXACT_ORACLE,
    tags=("dedup", "decontamination", "curation", "scale-shape"),
    bench=True,
    doc="Benchmark decontamination — the training-data hygiene step "
    "every LLM pipeline runs before training (the GPT-3/PaLM 13-gram "
    "rule, n=8 here because the corpus docs are 15-60 words): docs "
    "whose id is divisible by 17 play the held-out eval set; every "
    "other doc is flagged if it shares ANY word 8-gram with that set. "
    "Scale shape: the eval set is tiny by construction (real "
    "benchmark suites are KBs against a 100 TB corpus), so its "
    "distinct-gram set BROADCASTS and contamination is a broadcast "
    "semi-ish inner join + per-doc count — the corpus is scanned "
    "once, no corpus-sized shuffle keys on grams (the per-doc "
    "distinct is map-side combinable on (doc_id, gram)). Reference "
    "has no equivalent; this extends SURVEY.md's dedup family "
    "(operators/dedup.py) to eval-overlap semantics.",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, is_bench, bgrams = _eval_8grams(
        catalog.load_table(spark, sf_dir, "documents")
    )
    bgrams = bgrams.withColumn("__hit", F.lit(1))
    # r12 restructure (guide §2.4/§1.2), output identical under the
    # same oracle: the former shape computed the 8-gram arrays THREE
    # times (bench branch, train distinct-gram branch, final join-back
    # for size(g8)) and paid a (doc,gram) distinct exchange + a doc
    # groupBy exchange + the join-back.  One explode_outer pass (the
    # outer keeps <8-token docs as a NULL-gram row, so their
    # n_grams=0 rows survive without a join back), one broadcast left
    # probe against the eval grams, one aggregation: n_grams counts
    # non-null grams (duplicates included, = size(g8)); n_matched
    # counts DISTINCT matched grams, exactly the old distinct-then-
    # inner-join count.
    exploded = docs.filter(~is_bench).select(
        "doc_id", F.explode_outer("g8").alias("gram")
    )
    return (
        exploded.join(F.broadcast(bgrams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gram").cast("bigint").alias("n_grams"),
            F.count_distinct(
                F.when(F.col("__hit").isNotNull(), F.col("gram"))
            )
            .cast("bigint")
            .alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_matched",
            (F.col("n_matched") > 0).cast("integer").alias("contaminated"),
        )
    )


@register(
    "dedup_decontaminate_semijoin",
    oracle=_DECON_EXACT_ORACLE,
    tags=("dedup", "decontamination", "curation", "scale-shape"),
    doc="dedup_decontaminate's LARGE-EVAL-SET tier — byte-identical "
    "output (same oracle), different physical plan. The broadcast "
    "tier's honest bound is that the eval gram set must fit a "
    "broadcast (fine for real benchmark suites — KBs against a "
    "100 TB corpus — but the r6/r7 scale curve itself had to grow "
    "the eval set with the corpus, ~5M grams broadcast at x500, and "
    "corpus-vs-corpus decontamination breaks the assumption "
    "entirely). Here the gram match is a SHUFFLE hash join pinned "
    "with hint('shuffle_hash') on BOTH the gram join and the "
    "per-doc left join — the same AQE-broadcast-abort lesson as "
    "dedup_substring_spans' dup table (an output/eval-scale table "
    "must never be collected to the driver because AQE guessed "
    "small at gate SF). Plan-asserted: two ShuffledHashJoins, zero "
    "BroadcastExchange anywhere (tests/test_plans.py). Scale: both "
    "sides partition on gram (then doc_id); no driver collection "
    "at any eval-set size.",
)
def dedup_decontaminate_semijoin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs, is_bench, bgrams = _eval_8grams(
        catalog.load_table(spark, sf_dir, "documents")
    )
    train = docs.filter(~is_bench)
    tgrams = train.select(
        "doc_id", F.explode("g8").alias("gram")
    ).distinct()
    return _shuffled_contamination(train, F.size("g8"), tgrams, bgrams)


_DSIR_B, _DSIR_K = 512, 200


def _dsir_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, b): every unigram and bigram of ``docs.text`` hashed
    into one of _DSIR_B md5 buckets."""
    from .functions.hashing import md5_int60
    from .functions.text import tokens, word_ngrams

    return docs.select(
        "doc_id",
        F.explode(
            F.concat(
                tokens(F.lower(F.col("text"))),
                word_ngrams(F.col("text"), 2),
            )
        ).alias("g"),
    ).select("doc_id", F.pmod(md5_int60(F.col("g")), F.lit(_DSIR_B)).alias("b"))


def _dsir_top(dc: DataFrame, tgt: DataFrame) -> DataFrame:
    """DSIR importance scores of the source docs: ``dc`` holds their
    (doc_id, b, c) bucket counts, ``tgt`` the target's (b, cp).
    Smoothed per-bucket log-ratio ``lam``, DECIMAL-exact
    ``log_weight``, md5-Gumbel ``score``; the top _DSIR_K by score."""
    from .functions.exact import DECIMAL_TYPE, fround
    from .functions.hashing import md5_int60

    B = _DSIR_B
    src = dc.groupBy("b").agg(F.sum("c").alias("cq"))
    # both totals null-coalesced, mirroring the oracle's 0-total
    # arithmetic on an empty split (ADVICE r7 #4)
    tots = src.agg(F.coalesce(F.sum("cq"), F.lit(0)).alias("tq")).crossJoin(
        tgt.agg(F.coalesce(F.sum("cp"), F.lit(0)).alias("tp"))
    )
    lam = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            fround(
                F.log(
                    (F.coalesce(F.col("cp"), F.lit(0)) + 1)
                    * (F.col("tq") + B)
                )
                - F.log((F.col("cq") + 1) * (F.col("tp") + B)),
                6,
            ).alias("lam"),
        )
    )
    w = (
        dc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            fround(
                F.sum(
                    (F.col("c") * F.col("lam")).cast(DECIMAL_TYPE)
                ).cast("double"),
                6,
            ).alias("log_weight")
        )
    )
    u = (
        F.pmod(
            md5_int60(
                F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))
            ),
            F.lit(1000000),
        )
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    gumbel = fround(-F.log(-F.log(u)), 6)
    out = w.select(
        "doc_id",
        "log_weight",
        fround(F.col("log_weight") + gumbel, 6).alias("score"),
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(_DSIR_K)


@register(
    "curation_dsir_select",
    oracle=rf"""WITH {_LT_CTE},
uni AS (SELECT doc_id, unnest(lt) AS g FROM d),
bi AS (
    SELECT doc_id, unnest(
        CASE WHEN len(lt) >= 2 THEN
          list_transform(range(1, len(lt)),
                         i -> concat_ws(' ', lt[i], lt[i+1]))
        ELSE [] END) AS g
    FROM d
),
bk AS (
    SELECT doc_id,
           ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS b
    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
dc AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY doc_id, b),
tgt AS (SELECT b, sum(c) AS cp FROM dc WHERE doc_id % 17 = 0 GROUP BY b),
src AS (SELECT b, sum(c) AS cq FROM dc WHERE doc_id % 17 <> 0 GROUP BY b),
tot AS (
    SELECT (SELECT COALESCE(sum(cp), 0) FROM tgt) AS tp,
           (SELECT COALESCE(sum(cq), 0) FROM src) AS tq
),
lam AS (
    SELECT src.b,
           round(ln((COALESCE(tgt.cp, 0) + 1) * (tot.tq + 512))
                 - ln((src.cq + 1) * (tot.tp + 512)), 6) AS lam
    FROM src LEFT JOIN tgt USING (b), tot
),
w AS (
    SELECT dc.doc_id,
           round(CAST(sum(CAST(dc.c * lam.lam AS DECIMAL(30,8)))
                      AS DOUBLE), 6) AS log_weight
    FROM dc JOIN lam USING (b)
    WHERE dc.doc_id % 17 <> 0
    GROUP BY dc.doc_id
)
SELECT doc_id, log_weight,
       round(log_weight
             + round(-ln(-ln(
                 ((('0x' || substr(md5('dsir:' || doc_id), 1, 15))::BIGINT
                   % 1000000) + 0.5) / 1000000.0)), 6), 6) AS score
FROM w
ORDER BY score DESC, doc_id
LIMIT 200
""",
    tags=("curation", "llm-pipeline", "sampling", "scale-shape"),
    doc="DSIR — Data Selection via Importance Resampling (Xie et al. "
    "2023, arXiv:2302.03169): pick the source docs whose hashed "
    "n-gram profile looks most like a target domain. Features are "
    "unigrams+bigrams hashed into B=512 buckets (md5, cross-engine); "
    "two add-one-smoothed bag-of-hashed-ngram LMs are fit — target = "
    "docs with doc_id %% 17 == 0 (the same held-out-split convention "
    "as dedup_decontaminate), source = the rest; each source doc "
    "scores log w = sum_b c_b * (ln p_b - ln q_b) with the per-bucket "
    "log-ratio computed as ln of exact integer products (6-dp "
    "rounded, decimal-summed — the exact_sum discipline, so both "
    "engines agree bit-for-bit); selection is the paper's Gumbel "
    "top-k trick with deterministic md5-uniform Gumbel noise, k=200 "
    "(a production run selects a constant token budget; a "
    "fraction-of-corpus budget would threshold via the histogram "
    "sketch the CCNet terciles already use). Scale shape: one gram "
    "explode + map-side-combinable (doc_id, bucket) count; both LM "
    "tables are <= B rows (B is a CONSTANT, so their broadcast is "
    "corpus-size-independent — unlike the eval-gram broadcast "
    "dedup_decontaminate_semijoin exists to avoid); the global "
    "constant-k selection is TakeOrderedAndProject (plan-asserted), "
    "never a full sort.",
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    dc = _dsir_buckets(docs).groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    is_target = F.col("doc_id") % 17 == 0
    tgt = dc.filter(is_target).groupBy("b").agg(F.sum("c").alias("cp"))
    return _dsir_top(dc.filter(~is_target), tgt)


def _span_island_ctes(win_mat: str = "") -> str:
    """Windows of 10 tokens over ``d`` (doc_id, lt) shared verbatim by
    >= 2 docs, merged per doc into islands: isl (doc_id, pos, g), where
    g numbers the doc's maximal spans.  ``win_mat`` " MATERIALIZED"
    pins the window table."""
    return f"""pw AS (
    SELECT doc_id,
           CASE WHEN len(lt) >= 10 THEN
             list_transform(range(1, len(lt) - 8),
                            i -> struct_pack(
                                pos := CAST(i AS INTEGER),
                                wh := md5(array_to_string(lt[i:i+9], ' '))))
           ELSE CAST([] AS STRUCT(pos INTEGER, wh VARCHAR)[]) END AS pws
    FROM d
),
win AS{win_mat} (
    SELECT doc_id, u.pos AS pos, u.wh AS wh
    FROM (SELECT doc_id, unnest(pws) AS u FROM pw)
),
dup AS (
    SELECT wh FROM win GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
),
dwin AS (
    SELECT w.doc_id, w.pos FROM win w JOIN dup USING (wh)
),
marks AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= 10
                THEN 0 ELSE 1 END AS brk
    FROM dwin
),
isl AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS g
    FROM marks
)"""


# a doc's spans as [s, e] token ranges: per_doc (doc_id, spans)
_SPAN_LIST_CTES = """spans AS (
    SELECT doc_id,
           CAST(min(pos) AS INTEGER) AS s,
           CAST(max(pos) + 9 AS INTEGER) AS e
    FROM isl GROUP BY doc_id, g
),
per_doc AS (
    SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
    FROM spans GROUP BY doc_id
)"""


@register(
    "dedup_substring_spans",
    oracle=rf"""WITH {_LT_CTE},
{_span_island_ctes()}
SELECT doc_id,
       CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + 9 AS INTEGER) AS span_end,
       count(*) AS dup_windows
FROM isl GROUP BY doc_id, g
""",
    tags=("dedup", "substring", "curation", "scale-shape"),
    bench=True,
    doc="Cross-document repeated-substring spans — the ExactSubstr "
    "half of training-data dedup (Lee et al. 2021, arXiv:2107.06499; "
    "their suffix array becomes a windowed-hash plan at w=10 for "
    "these 15-60-word docs): any 10-token window shared verbatim by "
    ">=2 distinct docs is duplicated text, and per doc the "
    "overlapping-or-touching duplicated windows merge into maximal "
    "spans (gaps-and-islands over a per-doc window). Scale shape: "
    "linear window explode, one map-side-combinable hash groupBy "
    "with a distinct-doc count, join back on the hash, one per-doc "
    "window — no quadratic stage; the joined duplicated-window "
    "table is output-sized. Complements dedup_minhash_lsh (whole-"
    "doc near-dup) and dedup_decontaminate (eval overlap): this "
    "finds PARTIAL verbatim overlap inside otherwise-distinct docs.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the scan before the windowed-md5 pass (r13, guide §2.5:
    # the one-task single-file scan serialized the per-window
    # concat+md5 — this query's whole CPU — on one core; measured
    # 1.47 -> 0.98 s, plans/r13/ab2_*.jsonl).  Builder-level so the
    # operator module stays byte-stable; doc_id keying feeds the
    # island window.  No-op once the scan arrives pre-split.
    return dd.repeated_substring_spans(
        catalog.ensure_parallelism(
            catalog.load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            ),
            key="doc_id",
        )
    )


@register(
    "dedup_apply_span_removal",
    oracle=rf"""WITH {_LT_CTE},
{_span_island_ctes()},
{_SPAN_LIST_CTES},
cut AS (
    SELECT d.doc_id,
           CAST(coalesce(len(p.spans), 0) AS INTEGER) AS n_spans,
           CAST(len(d.lt) AS INTEGER) AS n_tokens,
           list_filter(range(1, len(d.lt) + 1),
                       i -> p.spans IS NULL
                            OR len(list_filter(p.spans,
                                   sp -> i >= sp.s AND i <= sp.e)) = 0)
               AS keep,
           d.lt AS lt
    FROM d LEFT JOIN per_doc p USING (doc_id)
)
SELECT doc_id, n_spans, n_tokens,
       CAST(n_tokens - len(keep) AS INTEGER) AS removed_tokens,
       coalesce(array_to_string(list_transform(keep, i -> lt[i]), ' '), '')
           AS clean_text
FROM cut
""",
    tags=("dedup", "substring", "curation", "apply"),
    doc="APPLY stage of cross-document substring dedup (Lee et al. "
    "2021, arXiv:2107.06499 §4): every doc is rebuilt with its "
    "dedup_substring_spans token ranges cut out — duplicated spans "
    "deleted, unique remainder kept, full doc drop avoided. One "
    "output row per input doc with n_spans / n_tokens / "
    "removed_tokens / clean_text, so the value hash pins the exact "
    "reconstruction, not just counts. Scale shape: the span table "
    "is output-sized, per-doc span lists are bounded by doc length/w, "
    "the corpus join is a left join on doc_id, and the cut is a pure "
    "Column filter+exists over the token array (no Python, no second "
    "corpus scan). Complements dedup_apply_survivors (whole-doc "
    "drop) the way ExactSubstr complements NearDup in the paper.",
)
def dedup_apply_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.remove_repeated_spans(
        catalog.load_table(spark, sf_dir, "documents")
    )


_E2E_ORACLE = rf"""WITH {_DOC_CTE.strip()},
q0 AS MATERIALIZED (
    SELECT doc_id, text FROM (
        SELECT doc_id, text, cc,
               round((
                   (CASE WHEN tc >= 20 THEN 1.0
                         ELSE CAST(tc AS DOUBLE) / 20.0 END)
                   + least(round(CASE WHEN tc > 0
                                 THEN CAST(swc AS DOUBLE) / tc
                                 ELSE 0.0 END, 6) * 4.0, 1.0)
                   + (1.0 - round(CASE WHEN cc > 0
                                  THEN CAST(non_alpha_chars AS DOUBLE) / cc
                                  ELSE 0.0 END, 6))
               ) / 3.0, 6) AS q
        FROM doc_m
    ) t WHERE q >= 0.5 AND cc BETWEEN 50 AND 5000
),
d AS MATERIALIZED (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS lt
    FROM q0
),
{_span_island_ctes(" MATERIALIZED")},
{_SPAN_LIST_CTES},
ct AS MATERIALIZED (
    SELECT d.doc_id,
           coalesce(array_to_string(list_transform(
               list_filter(range(1, len(d.lt) + 1),
                           i -> p.spans IS NULL
                                OR len(list_filter(p.spans,
                                       sp -> i >= sp.s AND i <= sp.e)) = 0),
               i -> d.lt[i]), ' '), '') AS text
    FROM d LEFT JOIN per_doc p USING (doc_id)
),
c2 AS MATERIALIZED (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS lt2
    FROM ct
),
gg AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN len(lt2) >= 8 THEN
             list_transform(range(1, len(lt2) - 6),
                            i -> concat_ws(' ', lt2[i], lt2[i+1], lt2[i+2],
                                           lt2[i+3], lt2[i+4], lt2[i+5],
                                           lt2[i+6], lt2[i+7]))
           ELSE [] END AS g8
    FROM c2
),
bg AS (
    SELECT DISTINCT gram FROM (
        SELECT unnest(g8) AS gram FROM gg WHERE doc_id % 17 = 0)
),
contaminated AS (
    SELECT DISTINCT tg.doc_id FROM (
        SELECT doc_id, unnest(g8) AS gram FROM gg WHERE doc_id % 17 <> 0
    ) tg JOIN bg USING (gram)
),
surv AS MATERIALIZED (
    SELECT doc_id, lt2 FROM c2
    WHERE doc_id % 17 <> 0
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
tgt_lt AS (
    SELECT doc_id, lt2 FROM c2 WHERE doc_id % 17 = 0
),
tgt_bk AS MATERIALIZED (
    SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS b,
           count(*) AS cp
    FROM (
        SELECT unnest(lt2) AS g FROM tgt_lt
        UNION ALL
        SELECT unnest(CASE WHEN len(lt2) >= 2 THEN
                   list_transform(range(1, len(lt2)),
                                  i -> concat_ws(' ', lt2[i], lt2[i+1]))
               ELSE [] END) AS g
        FROM tgt_lt
    ) GROUP BY b
),
src_dc AS MATERIALIZED (
    SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS b,
           count(*) AS c
    FROM (
        SELECT doc_id, unnest(lt2) AS g FROM surv
        UNION ALL
        SELECT doc_id, unnest(CASE WHEN len(lt2) >= 2 THEN
                   list_transform(range(1, len(lt2)),
                                  i -> concat_ws(' ', lt2[i], lt2[i+1]))
               ELSE [] END) AS g
        FROM surv
    ) GROUP BY doc_id, b
),
src_bk AS (SELECT b, sum(c) AS cq FROM src_dc GROUP BY b),
tot AS (
    SELECT (SELECT COALESCE(sum(cp), 0) FROM tgt_bk) AS tp,
           (SELECT COALESCE(sum(cq), 0) FROM src_bk) AS tq
),
lam AS (
    SELECT src_bk.b,
           round(ln((COALESCE(tgt_bk.cp, 0) + 1) * (tot.tq + 512))
                 - ln((src_bk.cq + 1) * (tot.tp + 512)), 6) AS lam
    FROM src_bk LEFT JOIN tgt_bk USING (b), tot
),
wt AS (
    SELECT src_dc.doc_id,
           round(CAST(sum(CAST(src_dc.c * lam.lam AS DECIMAL(30,8)))
                      AS DOUBLE), 6) AS log_weight
    FROM src_dc JOIN lam USING (b)
    GROUP BY src_dc.doc_id
),
sel AS MATERIALIZED (
    SELECT doc_id, log_weight,
           round(log_weight
                 + round(-ln(-ln(
                     ((('0x' || substr(md5('dsir:' || doc_id), 1, 15))::BIGINT
                       % 1000000) + 0.5) / 1000000.0)), 6), 6) AS score
    FROM wt
    ORDER BY score DESC, doc_id
    LIMIT 200
),
sh AS (
    SELECT doc_id, log_weight, score,
           ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT AS h
    FROM sel
)
SELECT doc_id, log_weight, score, h % 4 AS shard,
       row_number() OVER (PARTITION BY h % 4 ORDER BY h, doc_id) AS pos
FROM sh
"""


def _classifier_oracle() -> str:
    """Chained-CTE replay of the WHOLE classifier training loop
    (operators/classifier.py): w0 -> (score, gradient, update) x
    ITERS -> final evaluation — the Lloyd/BPE replay precedent
    applied to gradient descent.  Generated, so ITERS/LR stay in one
    place (the operator module)."""
    from .operators import classifier as cls

    def gsum(x: str) -> str:
        return (
            "CAST(sum(CAST(2.0 * (greatest(0.0, least(1.0, raw)) - y)"
            " * (CASE WHEN raw > 0 AND raw < 1 THEN 0.25 ELSE 0.0 END)"
            f" * {x} AS DECIMAL(30,8))) AS DOUBLE) / count(*)"
        )

    z = "(w.w0 + w.w1*x1 + w.w2*x2 + w.w3*x3)"
    ctes = [
        _DOC_CTE.strip(),
        """f AS (
    SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           round(least(tc / 20.0, 1.0), 6) AS x1,
           least(round(CASE WHEN tc > 0 THEN CAST(swc AS DOUBLE) / tc
                       ELSE 0.0 END, 6) * 4.0, 1.0) AS x2,
           1.0 - round(CASE WHEN cc > 0
                       THEN CAST(non_alpha_chars AS DOUBLE) / cc
                       ELSE 0.0 END, 6) AS x3
    FROM doc_m
)""",
        "w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)",
    ]
    for k in range(1, cls.ITERS + 1):
        ctes.append(
            f"""s{k} AS (
    SELECT y, x1, x2, x3, 0.25 * {z} + 0.5 AS raw
    FROM f CROSS JOIN w{k - 1}_ w
)"""
        )
        ctes.append(
            f"""g{k} AS (
    SELECT {gsum('1.0')} AS g0,
           {gsum('x1')} AS g1,
           {gsum('x2')} AS g2,
           {gsum('x3')} AS g3
    FROM s{k}
)"""
        )
        ctes.append(
            f"""w{k}_ AS (
    SELECT round(w.w0 - {cls.LR!r} * g.g0, 6) AS w0,
           round(w.w1 - {cls.LR!r} * g.g1, 6) AS w1,
           round(w.w2 - {cls.LR!r} * g.g2, 6) AS w2,
           round(w.w3 - {cls.LR!r} * g.g3, 6) AS w3
    FROM w{k - 1}_ w CROSS JOIN g{k} g
)"""
        )
    ctes.append(
        f"""e AS (
    SELECT y, w.w0 AS w0, w.w1 AS w1, w.w2 AS w2, w.w3 AS w3,
           greatest(0.0, least(1.0, 0.25 * {z} + 0.5)) AS yhat
    FROM f CROSS JOIN w{cls.ITERS}_ w
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT max(w0) AS w0, max(w1) AS w1, max(w2) AS w2, max(w3) AS w3,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_positive,
       CAST(sum(CASE WHEN yhat >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected,
       round(CAST(sum(CASE WHEN (yhat >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS train_accuracy,
       round(CAST(sum(CAST(CASE WHEN y = 1.0 THEN yhat ELSE 0.0 END
                  AS DECIMAL(30,8))) AS DOUBLE)
             / sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END), 6)
           AS mean_score_pos,
       round(CAST(sum(CAST(CASE WHEN y <> 1.0 THEN yhat ELSE 0.0 END
                  AS DECIMAL(30,8))) AS DOUBLE)
             / sum(CASE WHEN y <> 1.0 THEN 1 ELSE 0 END), 6)
           AS mean_score_neg
FROM e
"""
    )


@register(
    "curation_quality_classifier",
    oracle=_classifier_oracle(),
    tags=("curation", "classifier", "quality", "training-loop",
          "llm-pipeline"),
    bench=True,
    doc="In-Spark TRAINED quality classifier "
    "(operators/classifier.py) — the fastText/GPT-3-style curation "
    "gate: hard-sigmoid logistic regression (clamp(0.25z+0.5,0,1) — "
    "piecewise-linear, so unlike exp-sigmoid every training step is "
    "exact IEEE arithmetic both engines reproduce) fit by 3 rounds "
    "of full-batch GD on MSE against the weak label lang='en', "
    "features = the quality-score ingredients (length / stopword / "
    "alpha terms, 6-decimal quantized).  Gradients quantize to "
    "DECIMAL(30,8) before the sum, weights round to 6dp per step — "
    "the whole weight TRAJECTORY is partitioning- and engine-"
    "independent, and the oracle replays every iteration as chained "
    "CTEs (the Lloyd-codebook precedent for GD).  Per iteration: ONE "
    "map-side-combinable aggregation (4 decimal sums), driver state "
    "= 4 floats.  Output pins learned weights, selection counts, "
    "accuracy and per-class mean scores.",
)
def curation_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import classifier as cls

    # spread the scan before the feature regexes (r13, guide §2.5 —
    # the one-task single-file scan serialized the tokenize/stopword/
    # alpha passes feeding the checkpointed feature table; measured
    # 1.20 -> 0.96 s, plans/r13/ab2_*.jsonl); builder-level so the
    # operator module stays byte-stable.  Result-neutral: the
    # gradient/eval sums quantize to DECIMAL before aggregation.
    docs = catalog.ensure_parallelism(
        catalog.load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        ),
        key="doc_id",
    )
    return cls.classifier_summary(docs, F.col("lang") == "en")


@register(
    "curation_end_to_end",
    oracle=_E2E_ORACLE,
    tags=("curation", "pipeline", "llm-pipeline", "composition",
          "scale-shape"),
    doc="The END-TO-END curation pipeline a real training-data run "
    "executes, composed as ONE chained lazy plan over documents "
    "(VERDICT r7 'Next round' #6): quality+length gate "
    "(curation_pipeline's rule) -> cross-doc substring span REMOVAL "
    "on the survivors (dedup_apply_span_removal semantics; spans "
    "recomputed on the gated corpus — composition, not side-by-side) "
    "-> benchmark decontamination of the cleaned text (8-gram "
    "overlap with the doc_id%%17==0 eval split; contaminated docs "
    "dropped via left_anti) -> DSIR importance resampling of the "
    "survivors against the eval-split target LM (hashed unigram+"
    "bigram B=512 LMs, Gumbel top-200) -> deterministic export-"
    "shuffle assignment (md5 permutation, 4 shards, epoch0 seed). "
    "Every stage is the already-verified component operator re-run "
    "on the PREVIOUS stage's output; the oracle composes the "
    "component CTEs over the same lineage, so the value hash pins "
    "the whole composition. Scale shape: one documents scan feeds "
    "the gate; spans/decontam/DSIR add their component exchanges "
    "and nothing else (no re-materialization between stages — "
    "plan-asserted in tests/test_plans.py); the final assignment "
    "sorts 200 rows.",
)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .functions import text as T
    from .functions.layout import export_shuffle_hash
    from .operators.dedup import remove_repeated_spans

    SHARDS = 4
    docs = catalog.load_table(spark, sf_dir, "documents")
    t = F.col("text")
    filtered = (
        docs.select(
            "doc_id",
            "text",
            T.quality_score(t, 6).alias("q"),
            T.char_count(t).alias("cc"),
        )
        .filter((F.col("q") >= 0.5) & F.col("cc").between(50, 5000))
        .select("doc_id", "text")
    )
    cleaned = remove_repeated_spans(filtered).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    g, is_eval, bgrams = _eval_8grams(cleaned)
    # r12 (guide §2.4): membership only — a doc is contaminated iff ANY
    # of its grams hits the eval set, so the (doc,gram) distinct the
    # counting tier needs is a wasted corpus-gram exchange here; the
    # broadcast LEFT-SEMI on the raw exploded grams yields the
    # identical doc-id set one exchange cheaper.
    contaminated = (
        g.filter(~is_eval)
        .select("doc_id", F.explode("g8").alias("gram"))
        .join(F.broadcast(bgrams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    survivors = cleaned.filter(~is_eval).join(
        contaminated, "doc_id", "left_anti"
    )

    tgt = (
        _dsir_buckets(cleaned.filter(is_eval))
        .groupBy("b")
        .agg(F.count("*").alias("cp"))
    )
    dc = _dsir_buckets(survivors).groupBy("doc_id", "b").agg(
        F.count("*").alias("c")
    )
    sel = _dsir_top(dc, tgt)
    h = export_shuffle_hash(F.col("doc_id"), "epoch0")
    win = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        sel.withColumn("h", h)
        .withColumn("shard", F.col("h") % SHARDS)
        .withColumn("pos", F.row_number().over(win).cast("long"))
        .select("doc_id", "log_weight", "score", "shard", "pos")
    )


@register(
    "curation_source_mix",
    oracle=r"""WITH d AS (
    SELECT source,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')) AS n_tok
    FROM documents
),
per AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM d GROUP BY source
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
q AS (
    SELECT source, n_docs, n_tokens,
           n_tokens * 1.0 / total AS share,
           CAST(round(pow(n_tokens * 1.0 / total, 0.7), 8)
                AS DECIMAL(30,8)) AS pw
    FROM per CROSS JOIN t
),
n AS (SELECT CAST(sum(pw) AS DECIMAL(38,8)) AS norm FROM q)
SELECT source, n_docs, n_tokens,
       round(share, 6) AS raw_share,
       round(CAST(pw AS DOUBLE) / CAST(norm AS DOUBLE), 6) AS mix_weight
FROM q CROSS JOIN n
""",
    tags=("curation", "sampling", "mixture"),
    doc="Source-mixture reweighting — the domain-balancing step of "
    "multi-source training pipelines (the temperature-scaled mixture "
    "rule of multilingual/multi-domain LMs, T=0.7): per-source token "
    "mass -> share^0.7, normalized into sampling weights that "
    "up-weight small sources. Cross-engine exactness follows the "
    "text_unigram_logprob precedent: the one libm-dependent value "
    "(pow) is quantized to 8 decimals via the engine-independent "
    "floor(x*1e8+0.5)/1e8 formula and cast to DECIMAL before the "
    "normalizing sum, so the sum is exact and order-independent; the "
    "final weights are fround-ed doubles of identical inputs. Scale "
    "shape: one corpus scan -> per-source partial-aggregated groupBy "
    "(source cardinality is tiny), two broadcast single-row joins.",
)
def curation_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround
    from .functions.text import token_count

    docs = catalog.load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    q = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("total")).alias("share"),
        fround(F.pow(F.col("n_tokens") / F.col("total"), 0.7), 8)
        .cast("decimal(30,8)")
        .alias("pw"),
    )
    norm = q.agg(F.sum("pw").cast("decimal(38,8)").alias("norm"))
    return q.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        "n_tokens",
        fround(F.col("share"), 6).alias("raw_share"),
        fround(
            F.col("pw").cast("double") / F.col("norm").cast("double"), 6
        ).alias("mix_weight"),
    )


@register(
    "text_ccnet_buckets",
    oracle=r"""WITH tok AS (
  SELECT doc_id, unnest(
    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                x -> x <> '')) AS token
  FROM documents
),
freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
n AS (SELECT count(*) AS nn FROM tok),
scored AS (
  SELECT doc_id,
         CAST(ln(c * 1.0 / nn) AS DECIMAL(30,8)) AS lp
  FROM tok JOIN freq USING (token) CROSS JOIN n
),
docsc AS (
  SELECT doc_id,
         round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob
  FROM scored GROUP BY doc_id
),
q AS (
  SELECT doc_id, mean_logprob,
         CAST(floor(mean_logprob * 10000) AS BIGINT) AS sq
  FROM docsc
),
h AS (SELECT sq, count(*) AS c FROM q GROUP BY sq),
cum AS (SELECT sq, sum(c) OVER (ORDER BY sq) AS cum FROM h),
nn2 AS (SELECT count(*) AS n FROM q),
ranks AS (
  SELECT gs.i AS i,
         CAST(ceil(gs.i * (SELECT n FROM nn2) / 3.0) AS BIGINT) AS target
  FROM generate_series(1, 2) AS gs(i)
),
b AS (
  SELECT ranks.i, min(cum.sq) AS bound
  FROM cum JOIN ranks ON cum.cum >= ranks.target
  GROUP BY ranks.i
)
SELECT q.doc_id, q.mean_logprob,
       CASE 1 + (SELECT count(*) FROM b WHERE q.sq > b.bound)
         WHEN 1 THEN 'tail' WHEN 2 THEN 'middle' ELSE 'head'
       END AS ccnet_bucket
FROM q
""",
    tags=("text", "quality", "curation", "scale-shape"),
    doc="CCNet-style quality bucketing: every doc lands in the head / "
    "middle / tail THIRD of the corpus by unigram-LM mean "
    "log-probability (head = most in-distribution = the slice CCNet "
    "keeps for LM training). Composes two existing techniques: the "
    "text_unigram_logprob score and the pricing_decile_sketch "
    "boundary recipe — scores quantized to 1e-4 (a DOMAIN-bounded "
    "histogram, tens of thousands of cells regardless of corpus size), "
    "running count over the histogram, tercile boundaries at ranks "
    "ceil(i*N/3), broadcast back as a 2-element array filter. No "
    "corpus-wide sort anywhere; ties share a bucket on both engines "
    "because the boundary rule is integer-exact.",
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docsc = _unigram_mean_logprob(spark, sf_dir)
    q = docsc.select(
        "doc_id",
        "mean_logprob",
        F.floor(F.col("mean_logprob") * 10000).cast("bigint").alias("sq"),
    )
    joined, bucket = _histogram_buckets(q, "sq", 3)
    lab = F.array(F.lit("tail"), F.lit("middle"), F.lit("head"))
    return joined.select(
        "doc_id",
        "mean_logprob",
        F.element_at(lab, bucket).alias("ccnet_bucket"),
    )


# ===========================================================================
# Columnar / JSON sink roundtrips — S11 (JSON export) through the hard
# gate, plus an ORC twin proving a second Spark-native columnar format
# ===========================================================================

_ROUNDTRIP_ORACLE = """SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2)
           AS revenue
FROM orders
GROUP BY o_orderpriority
"""


def _roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    from .functions.exact import exact_sum

    return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice"), 2).alias("revenue"),
    )


_ROUNDTRIP_SWEPT = False


def _roundtrip_path(kind: str, sf_dir: str) -> str:
    # per-process path: the driver gate and the local parity mirror
    # may build the same query concurrently, and mode("overwrite")
    # deleting a directory another process is reading is a race
    # (code-review r5 finding #6). The pid-suffixed trees used to
    # accumulate unboundedly across runs (ADVICE r5 #4): now (a) this
    # process's own trees are removed at interpreter exit — safe, the
    # query has long materialized by then — and (b) the FIRST call in
    # each process sweeps siblings whose embedded pid is no longer
    # alive, so crashed or kill -9'd runs are cleaned up by the NEXT
    # run instead of never. Once per process (ADVICE r6 #4): the sweep
    # is listdir+kill syscalls in a hot helper, and repeating it only
    # re-probes pids that were already alive moments earlier; pid-reuse
    # misidentification (a recycled pid owned by an unrelated live
    # process keeps a stale tree around) is accepted as leak-leaning.
    import atexit
    import os
    import re
    import shutil

    global _ROUNDTRIP_SWEPT
    root = catalog.FIXTURE_ROOT
    if not _ROUNDTRIP_SWEPT:
        _ROUNDTRIP_SWEPT = True
        try:
            for entry in os.listdir(root):
                m = re.search(r"_(\d+)$", entry)
                if not m or int(m.group(1)) == os.getpid():
                    continue
                try:
                    os.kill(int(m.group(1)), 0)  # liveness probe, no signal
                except ProcessLookupError:
                    shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
                except PermissionError:
                    pass  # pid alive under another uid — leave its tree
        except OSError:
            pass
    path = os.path.join(root, f"{kind}_{sf_dir.strip('/').replace('/', '_')}_{os.getpid()}")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@register(
    "s11_json_export_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("S11", "sink", "json", "roundtrip"),
    doc="S11 JSON-lines export (batch_processor.py:497-556) through "
    "the hard gate: orders exported via sources.files.write_json, "
    "read back with an EXPLICIT schema (no inference scan), and "
    "aggregated; the oracle replays the aggregate from the original "
    "parquet, so the hash proves the export/reread cycle is "
    "value-exact (Jackson writes shortest-roundtrip doubles). "
    "Scale shape: both legs are full-parallel file IO; the aggregate "
    "is the usual partial-agg groupBy.",
)
def s11_json_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import files as fsrc

    path = _roundtrip_path("json_orders", sf_dir)
    fsrc.write_json(_roundtrip_source(spark, sf_dir), path)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    ).json(path)
    return _roundtrip_agg(back)


@register(
    "orc_roundtrip_priority_revenue",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("sink", "orc", "roundtrip"),
    doc="ORC write → read → aggregate over the same orders projection: "
    "proves the second Spark-native columnar format end-to-end "
    "against the parquet-derived oracle (S11's JSON twin with a "
    "binary columnar sink; predicate pushdown and column pruning "
    "apply to the ORC scan exactly as to parquet).",
)
def orc_roundtrip_priority_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _roundtrip_path("orc_orders", sf_dir)
    _roundtrip_source(spark, sf_dir).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return _roundtrip_agg(back)


def _lloyd_seed(k: int | str) -> list[str]:
    """Unit-normalized vectors ``b`` and the seed centroids ``c0`` (the
    first ``k`` vectors) that every Lloyd tier starts from."""
    return [
        f"""b AS MATERIALIZED (
    SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv
    FROM emb
)""",
        f"""c0 AS MATERIALIZED (
    SELECT vec_id AS cid, nv AS cv FROM b WHERE vec_id < ({k})
)""",
    ]


def _lloyd_update(i: int) -> list[str]:
    """Round ``i``'s centroid update: exact-decimal per-position means
    (8 dp) of the assignment ``a{i}``, giving ``c{i+1}``."""
    return [
        f"""cm{i} AS MATERIALIZED (
    SELECT cid, gs.i AS pos,
           round(CAST(sum(CAST(nv[gs.i] AS DECIMAL(30,8))) AS DOUBLE)
                 / count(*), 8) AS m
    FROM a{i}, generate_series(1, {sim.DIM}) gs(i)
    GROUP BY cid, gs.i
)""",
        f"""c{i + 1} AS MATERIALIZED (
    SELECT cid, list(m ORDER BY pos) AS cv FROM cm{i} GROUP BY cid
)""",
    ]


def _probed_assign(
    tag: str, sup: str, members: str, n_probe: int
) -> list[str]:
    """Two-level assignment: each vector routes to its top-``n_probe``
    supers of ``sup`` (sid, sv) as ``vs{tag}``, then takes the exact
    argmax over those supers' member centroids ``members`` (cid, cv,
    sid) as ``a{tag}`` (vec_id, nv, cid, sim)."""
    return [
        f"""vs{tag} AS MATERIALIZED (
    SELECT vec_id, nv, sid FROM (
        SELECT b.vec_id, b.nv, u.sid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY round(list_inner_product(b.nv, u.sv), 6) DESC,
                            u.sid ASC) AS rn
        FROM b CROSS JOIN {sup} u
    ) t WHERE rn <= {n_probe}
)""",
        f"""a{tag} AS MATERIALIZED (
    SELECT vec_id, nv, cid, sim FROM (
        SELECT v.vec_id, v.nv, m.cid,
               round(list_inner_product(v.nv, m.cv), 6) AS sim,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_inner_product(v.nv, m.cv), 6) DESC,
                            m.cid ASC) AS rn
        FROM vs{tag} v JOIN {members} m USING (sid)
    ) t WHERE rn = 1
)""",
    ]


def _lloyd_ctes(k: int | str) -> list[str]:
    """The DuckDB replay of similarity.lloyd_assignments as a chain of
    CTEs — the same ``sim.LLOYD_ITERS`` refinement rounds, ending in
    ``af`` = the final per-vector assignment (vec_id, nv, cid, sim).
    Shared by the sim_ivf_lloyd and sim_semantic_dedup oracles.
    ``k`` may be an int or a SQL scalar expression (the adaptive
    count-derived centroid count); it only ever appears in the seed
    CTE's vec_id bound."""
    iters = sim.LLOYD_ITERS
    ctes = _lloyd_seed(k)
    for i in range(iters):
        ctes.append(f"""a{i} AS MATERIALIZED (
    SELECT vec_id, nv, cid FROM (
        SELECT b.vec_id, b.nv, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY round(list_inner_product(b.nv, c.cv), 6) DESC,
                            c.cid ASC) AS rn
        FROM b CROSS JOIN c{i} c
    ) t WHERE rn = 1
)""")
        ctes.extend(_lloyd_update(i))
    ctes.append(f"""af AS MATERIALIZED (
    SELECT vec_id, nv, cid, sim FROM (
        SELECT b.vec_id, b.nv, c.cid,
               round(list_inner_product(b.nv, c.cv), 6) AS sim,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY round(list_inner_product(b.nv, c.cv), 6) DESC,
                            c.cid ASC) AS rn
        FROM b CROSS JOIN c{iters} c
    ) t WHERE rn = 1
)""")
    return ctes


def _lloyd_sql() -> str:
    """Generate the DuckDB replay of lloyd_refined_clusters: the same
    fixed number of refinement rounds over ``sim.N_CENTROIDS`` seeds
    as chained CTEs."""
    return (
        f"WITH {_EMB_CTE.strip()},\n"
        + ",\n".join(_lloyd_ctes(sim.N_CENTROIDS))
        + """
SELECT cid, count(*) AS n_vecs,
       round(CAST(sum(CAST(sim AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6)
           AS mean_sim
FROM af GROUP BY cid
"""
    )


def _lloyd_pruned_ctes(k: str, s: str) -> list[str]:
    """The DuckDB replay of similarity.lloyd_assignments_pruned — the
    two-level (coarse-quantized) assignment chain: per round,
    centroid->super routing with the self-pin (a super centroid
    always belongs to its own super), vector->super TOP-``sim.NPROBE``
    routing (the IVF nprobe move — single-probe routing measurably
    inflated cluster widths, PLANS.md r7), then the exact argmax
    among the probed supers' member centroids only. ``k`` and ``s``
    are SQL scalar expressions (the adaptive counts)."""
    iters = sim.LLOYD_ITERS
    ctes = _lloyd_seed(k)

    def round_ctes(i: int, final: bool) -> list[str]:
        tag = "f" if final else str(i)
        src = f"c{iters if final else i}"
        out = [
            f"""sup{tag} AS MATERIALIZED (
    SELECT cid AS sid, cv AS sv FROM {src} WHERE cid < ({s})
)""",
            f"""cs{tag} AS MATERIALIZED (
    SELECT cid, cv,
           CASE WHEN cid < ({s}) THEN cid ELSE sid END AS sid
    FROM (
        SELECT c.cid, c.cv, u.sid,
               row_number() OVER (
                   PARTITION BY c.cid
                   ORDER BY round(list_inner_product(c.cv, u.sv), 6) DESC,
                            u.sid ASC) AS rn
        FROM {src} c CROSS JOIN sup{tag} u
    ) t WHERE rn = 1
)""",
        ]
        return out + _probed_assign(tag, f"sup{tag}", f"cs{tag}", sim.NPROBE)

    for i in range(iters):
        ctes.extend(round_ctes(i, final=False))
        ctes.extend(_lloyd_update(i))
    # the final-round chain's tag is "f", so its assignment CTE is
    # literally named ``af`` — the same terminal name the flat chain
    # ends in, which is what lets _semdedup_sql share its tail.
    ctes.extend(round_ctes(iters, final=True))
    return ctes


def _lloyd_probe_ctes(k: str, s: str) -> list[str]:
    """The DuckDB replay of similarity.lloyd_assignments_probe — the
    ANN-probe assignment chain: per round, the router is TRAINED
    (``sim.ROUTER_ITERS`` Lloyd rounds over the k centroids themselves,
    seeded from the first s, exact-decimal means at 8 dp), inverted
    lists are the centroid->trained-super argmax, vectors route to
    their top-``sim.NPROBE`` NON-EMPTY lists, and the exact argmax runs
    over the probed lists' member centroids only. ``k``/``s`` are SQL
    scalar expressions (the adaptive counts)."""
    iters, router_iters = sim.LLOYD_ITERS, sim.ROUTER_ITERS
    ctes = _lloyd_seed(k)

    def _member_argmax(name: str, src: str, sup: str) -> str:
        return f"""{name} AS MATERIALIZED (
    SELECT cid, cv, sid FROM (
        SELECT c.cid, c.cv, u.sid,
               row_number() OVER (
                   PARTITION BY c.cid
                   ORDER BY round(list_inner_product(c.cv, u.sv), 6) DESC,
                            u.sid ASC) AS rn
        FROM {src} c CROSS JOIN {sup} u
    ) t WHERE rn = 1
)"""

    def round_ctes(i: int, final: bool) -> list[str]:
        tag = "f" if final else str(i)
        src = f"c{iters if final else i}"
        out = [
            f"""rsup{tag}0 AS MATERIALIZED (
    SELECT cid AS sid, cv AS sv FROM {src} WHERE cid < ({s})
)"""
        ]
        for j in range(router_iters):
            out.append(_member_argmax(f"rm{tag}{j}", src, f"rsup{tag}{j}"))
            out.append(f"""rs{tag}{j} AS MATERIALIZED (
    SELECT sid, gs.i AS pos,
           round(CAST(sum(CAST(cv[gs.i] AS DECIMAL(30,8))) AS DOUBLE)
                 / count(*), 8) AS m
    FROM rm{tag}{j}, generate_series(1, {sim.DIM}) gs(i)
    GROUP BY sid, gs.i
)""")
            out.append(f"""rsup{tag}{j + 1} AS MATERIALIZED (
    SELECT sid, list(m ORDER BY pos) AS sv FROM rs{tag}{j} GROUP BY sid
)""")
        out.append(
            _member_argmax(f"mem{tag}", src, f"rsup{tag}{router_iters}")
        )
        out.append(f"""used{tag} AS MATERIALIZED (
    SELECT u.sid, u.sv FROM rsup{tag}{router_iters} u
    WHERE u.sid IN (SELECT sid FROM mem{tag})
)""")
        return out + _probed_assign(tag, f"used{tag}", f"mem{tag}", sim.NPROBE)

    for i in range(iters):
        ctes.extend(round_ctes(i, final=False))
        ctes.extend(_lloyd_update(i))
    # terminal tag "f" -> the chain ends in ``af``, the shared tail name
    ctes.extend(round_ctes(iters, final=True))
    return ctes


def _semdedup_sql(pruned: bool = False, probe: bool = False) -> str:
    """Generate the DuckDB replay of similarity.semantic_dedup: the
    Lloyd assignment chain, within-cluster ``sim.COSINE_DUP`` pairs,
    duplicate groups as a recursive-CTE transitive closure (the same
    fixpoint as dedup_connected_components' oracle), and the
    keep-the-outlier representative rule. The centroid count is the
    ADAPTIVE one — max(8, ceil(sqrt(n))) from the corpus count, the
    same integer the Spark side derives. ``pruned=True`` replays the
    TWO-LEVEL assignment chain (semantic_dedup_pruned) and
    ``probe=True`` the trained-router chain (semantic_dedup_probe),
    both with s = max(2, ceil(sqrt(k))) supers."""
    k_sql = "SELECT GREATEST(8, CAST(CEIL(SQRT(count(*))) AS BIGINT)) FROM emb"
    s_sql = (
        "SELECT GREATEST(2, CAST(CEIL(SQRT(GREATEST(8, "
        "CEIL(SQRT(count(*)))))) AS BIGINT)) FROM emb"
    )
    if probe:
        chain = _lloyd_probe_ctes(k_sql, s_sql)
    elif pruned:
        chain = _lloyd_pruned_ctes(k_sql, s_sql)
    else:
        chain = _lloyd_ctes(k_sql)
    return (
        f"WITH RECURSIVE {_EMB_CTE.strip()},\n"
        + ",\n".join(chain)
        + f""",
p AS MATERIALIZED (
    SELECT x.vec_id AS a, y.vec_id AS b
    FROM af x JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE round(list_inner_product(x.nv, y.nv), 6) >= {sim.COSINE_DUP}
),
e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
cc(node, label) AS (
    SELECT a, a FROM e
    UNION
    SELECT e.b, cc.label FROM cc JOIN e ON e.a = cc.node
),
comp AS (SELECT node AS vec_id, min(label) AS component FROM cc GROUP BY node),
lab AS (
    SELECT af.vec_id, af.cid, af.sim AS centroid_sim,
           coalesce(comp.component, af.vec_id) AS component
    FROM af LEFT JOIN comp ON af.vec_id = comp.vec_id
)
SELECT vec_id, cid, centroid_sim, component,
       (row_number() OVER (PARTITION BY component
                           ORDER BY centroid_sim ASC, vec_id ASC) = 1)
           AS keep
FROM lab
"""
    )


@register(
    "sim_ivf_lloyd",
    oracle=_lloyd_sql(),
    tags=("similarity", "ivf", "kmeans", "iterative", "scale-shape"),
    doc="Lloyd-refined IVF coarse quantizer — the ITERATIVE-algorithm "
    "entry: two k-means rounds over the seed centroids "
    "(sim_ivf_topk's quantizer), each round a broadcast "
    "nested-loop score + deterministic argmax + exact-decimal "
    "component means quantized to 8 dp, so both engines enter every "
    "round with bit-identical centroids. The driver loop builds plan "
    "DEPTH (2 rounds -> 2 score/mean stages), never width: per round "
    "the corpus is scanned once and the only shuffle is the "
    "map-side-combinable (cid, pos) mean — the canonical distributed "
    "k-means shape (faiss IndexIVFFlat training, Spark MLlib KMeans). "
    "Output: per-cluster membership count and mean similarity after "
    "refinement.",
)
def sim_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.lloyd_refined_clusters(emb)


@register(
    "sim_semantic_dedup",
    oracle=_semdedup_sql(),
    tags=("similarity", "dedup", "kmeans", "llm-pipeline", "scale-shape"),
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic "
    "dedup of the embedding corpus: Lloyd-refined k-means clusters "
    "(sim_ivf_lloyd's quantizer) with ADAPTIVE centroid count "
    "max(8, ceil(sqrt(n))) derived from the corpus count (a fixed k "
    "would make per-cluster width — and the pair self-join — grow "
    "quadratically; sqrt(n) keeps the pair stream ~linear, and is "
    "the paper's own practice), within-cluster cosine >= 0.35 pairs "
    "as duplicate edges, duplicate GROUPS via the same connected-"
    "components operator that clusters MinHash pairs, keep-the-"
    "outlier representative per group (lowest centroid similarity, "
    "vec_id tiebreak). One row per vector: (vec_id, cid, "
    "centroid_sim, component, keep). Pair stage is a cid-blocked "
    "self-join with a pinned repartition. Oracle: the Lloyd CTE "
    "chain with the identical count-derived k as a scalar subquery, "
    "recursive-CTE transitive closure, the identical keep window.",
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(emb)


@register(
    "sim_semantic_dedup_pruned",
    oracle=_semdedup_sql(pruned=True),
    tags=("similarity", "dedup", "kmeans", "llm-pipeline", "scale-shape"),
    doc="sim_semantic_dedup with the TWO-LEVEL (coarse-quantized) "
    "assignment tier — the scale path for the n^1.5 exact-assign "
    "bound MEASURED at x200 (PLANS.md): each Lloyd round routes "
    "vectors through s = max(2, ceil(sqrt(k))) super-centroids (the "
    "faiss IVF/IMI pattern; a super centroid is pinned to its own "
    "super so no inverted list is empty), then exact-argmaxes only "
    "the chosen super's member centroids — n*2*sqrt(k)*d per round = "
    "n^1.25*d under the adaptive k ~ sqrt(n) rule. With n_super >= k "
    "the pruning is vacuous and the assignment is byte-identical to "
    "the exact tier (pinned by test). Pair/duplicate-group/keep "
    "semantics are the exact tier's, shared code. Oracle: the full "
    "two-level argmax chain per round, both adaptive counts as "
    "scalar subqueries, recursive-CTE closure, keep window — a "
    "cross-engine VALUE oracle for an ANN-style quantizer, not a "
    "rows-only estimate. Router recall is a MEASURED cost knob "
    "(PLANS.md r7 x200 stage split): single-probe routing cut the "
    "assign 6.7x but inflated cluster widths (top 17,731 vs the "
    "exact tier's 882) and therefore quadratic pair work 7.2x, "
    "giving back most of the win in the tail (521.9s); routing to "
    "the top-2 supers (n_probe=2, the IVF nprobe move — same "
    "asymptote, one extra k/s-member argmax) restored width balance "
    "(top 6,228; pair work 2.9e8 vs exact's 1.29e8) and made the "
    "tier decisively faster: 206.2s min-of-2 vs the exact tier's "
    "636.4s like-for-like probe. At extreme scale the same lesson "
    "generalizes: spend router recall (more probes / an ANN probe "
    "to the true nearest centroid) before accepting cluster-width "
    "inflation, because SemDeDup's pair stage pays width "
    "quadratically; the skew-split pair join carries any residual "
    "skew.",
)
def sim_semantic_dedup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.semantic_dedup_pruned(emb)


@register(
    "sim_semantic_dedup_probe",
    oracle=_semdedup_sql(probe=True),
    tags=("similarity", "dedup", "kmeans", "llm-pipeline", "scale-shape"),
    doc="sim_semantic_dedup with the ANN-PROBE assignment tier — the "
    "production plan the r7 x200 stage split concluded SemDeDup "
    "needs ('approximate the SEARCH, not the routing topology'): "
    "per Lloyd round the coarse router is itself k-means-TRAINED "
    "over the k exact centroids (2 Lloyd rounds on k rows, seeded "
    "from the first s = max(2, ceil(sqrt(k))) — cost k*s*d, "
    "n^0.75*d under the adaptive k ~ sqrt(n), negligible), the "
    "inverted lists are the centroid->trained-super argmax, each "
    "vector probes its top-2 NON-EMPTY lists, and the exact argmax "
    "runs over the probed lists' member centroids only — "
    "n*(s + 2k/s)*d = n^1.25*d per round, the pruned tier's "
    "asymptote with the recall (and cluster-width balance) of a "
    "trained quantizer, which is what SemDeDup's QUADRATIC pair "
    "stage actually buys (pruned tier x200: top cluster 6,228 vs "
    "the exact tier's 882 — raw seed-vector supers make unbalanced "
    "lists and boundary vectors mis-route onto hub centroids; the "
    "faiss IVF practice is to train the coarse quantizer, cf. "
    "IndexIVFFlat). With n_super >= k and n_probe >= n_super every "
    "centroid is a candidate for every vector and the output is "
    "IDENTICAL to the exact tier regardless of router state (pinned "
    "by test). Pair/duplicate-group/keep semantics are the exact "
    "tier's, shared code. Oracle: the FULL chain — router training "
    "rounds, non-empty-list filter, top-n_probe routing, exact "
    "argmax, recursive-CTE closure, keep window — replayed "
    "value-exactly; an ANN-probe quantizer with a cross-engine "
    "value oracle.",
)
def sim_semantic_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.semantic_dedup_probe(emb)


_SIMHASH_WIDE_ORACLE = rf"""WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct(list_filter(
        regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''))) AS t
    FROM documents
),
th AS MATERIALIZED (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 15))::BIGINT AS h0,
           ('0x' || substr(md5(t), 16, 15))::BIGINT AS h1
    FROM tok
),
{_sign_bits_cte("bits0", "h0")},
{_sign_bits_cte("bits1", "h1")},
sim AS MATERIALIZED (
    SELECT s0.doc_id, s0.sk0, s1.sk1 FROM
    (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS sk0 FROM bits0 GROUP BY doc_id) s0
    JOIN
    (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS sk1 FROM bits1 GROUP BY doc_id) s1
    USING (doc_id)
),
{_banded4_cte("banded")},
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sk0, b.sk0))
                + bit_count(xor(a.sk1, b.sk1)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


@register(
    "dedup_simhash_wide_pairs",
    oracle=_SIMHASH_WIDE_ORACLE,
    tags=("dedup", "simhash", "near-dup", "scale-shape", "reference-tier"),
    doc="SimHash-120 near-dup pairs (two 60-bit md5-slice halves), "
    "FOUR 30-BIT bands, hamming<=3. FENCED since r7: the DEFAULT "
    "surface is dedup_simhash_adaptive_pairs (corpus-count-derived "
    "band plan + exact Jaccard verify), which retires this tier's "
    "measured x500 output floor (~27k of 330k pairs were sketch-"
    "level coincidences — low-token-entropy pairs within hamming 3 "
    "without set overlap, which the hamming-only output definition "
    "cannot exclude). Stays registered as the oracle-pinned "
    "hamming-only reference semantics, off the bench headline; "
    "pigeonhole-complete for hamming<=3, same codegen band join + "
    "pinned exchange as the adaptive tier's 4-block branch.",
)
def dedup_simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return dd.simhash_pairs_wide(docs)


# The 3-of-6-block banding branch, generated from the SAME combo table
# the Spark plan uses (dedup.SIMHASH_COMBOS6) — single source of truth
# for the band layout across engines.
_SIMHASH_BANDED6_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, sk0, sk1, {ci} AS band,"
    f" b{i} | (b{j} << 20) | (b{kk} << 40) AS bh FROM blk"
    for ci, (i, j, kk) in enumerate(dd.SIMHASH_COMBOS6)
)

_SIMHASH_ADAPTIVE_ORACLE = (
    _SIMHASH_WIDE_ORACLE.split("banded AS MATERIALIZED (")[0]
    + f"""nsim AS MATERIALIZED (SELECT count(*) AS n FROM sim),
{_banded4_cte("banded4")},
blk AS MATERIALIZED (
    SELECT doc_id, sk0, sk1,
           sk0 & 1048575 AS b0, (sk0 >> 20) & 1048575 AS b1, sk0 >> 40 AS b2,
           sk1 & 1048575 AS b3, (sk1 >> 20) & 1048575 AS b4, sk1 >> 40 AS b5
    FROM sim
),
banded6 AS MATERIALIZED (
{_SIMHASH_BANDED6_SQL}
),
surv AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sk0, b.sk0))
                + bit_count(xor(a.sk1, b.sk1)) AS INTEGER) AS hamming
    FROM banded4 a JOIN banded4 b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    WHERE (SELECT n FROM nsim) <= {dd._SIMHASH_B4_MAX}
      AND bit_count(xor(a.sk0, b.sk0)) + bit_count(xor(a.sk1, b.sk1)) <= 3
    UNION
    SELECT DISTINCT a.doc_id, b.doc_id,
           CAST(bit_count(xor(a.sk0, b.sk0))
                + bit_count(xor(a.sk1, b.sk1)) AS INTEGER)
    FROM banded6 a JOIN banded6 b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    WHERE (SELECT n FROM nsim) > {dd._SIMHASH_B4_MAX}
      AND bit_count(xor(a.sk0, b.sk0)) + bit_count(xor(a.sk1, b.sk1)) <= 3
),
nt AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
    SELECT s.doc_a, s.doc_b, s.hamming, count(*) AS ni
    FROM surv s
    JOIN tok ta ON ta.doc_id = s.doc_a
    JOIN tok tb ON tb.doc_id = s.doc_b AND tb.t = ta.t
    GROUP BY s.doc_a, s.doc_b, s.hamming
)
SELECT i.doc_a, i.doc_b, i.hamming,
       round(i.ni * 1.0 / (na.n + nb.n - i.ni), 4) AS jaccard
FROM inter i
JOIN nt na ON na.doc_id = i.doc_a
JOIN nt nb ON nb.doc_id = i.doc_b
WHERE round(i.ni * 1.0 / (na.n + nb.n - i.ni), 4) >= 0.7
"""
)


@register(
    "dedup_simhash_adaptive_pairs",
    oracle=_SIMHASH_ADAPTIVE_ORACLE,
    tags=("dedup", "simhash", "near-dup", "scale-shape", "default-tier"),
    bench=True,
    doc="THE DEFAULT SimHash surface since r7 (dd.simhash_near_dup_"
    "pairs aliases it; VERDICT r6 #1): 120-bit sketch, band plan "
    "DERIVED FROM THE CORPUS COUNT (4x30-bit quarter bands while the "
    "chance-candidate floor 4*n^2/2^31 stays under 0.5% of corpus "
    "size, i.e. n <= 2,684,354; past that, every 3-subset of six "
    "20-bit blocks concatenated into 20 60-bit keys — Manku/Jain/"
    "Sarma WWW'07, pigeonhole-complete for hamming<=3 either way), "
    "exact hamming filter, then an exact token-set-Jaccard verify "
    "(>= 0.7) on the hamming survivors. The verify stage is what "
    "retires the r6 'weak' mark: the x500 super-linear output excess "
    "was SKETCH-level (low-token-entropy pairs within hamming 3 "
    "without set overlap), which no band width can remove since "
    "4x30 banding is already pigeonhole-complete — while the "
    "adaptive band plan keeps the CANDIDATE stream linear to ~10^14 "
    "docs. Oracle replays the count-gated plan choice, both band "
    "layouts (the 3-of-6 branch generated from the same combo table "
    "as the Spark plan), and the verify arithmetic.",
)
def dedup_simhash_adaptive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return dd.simhash_adaptive_pairs(docs)


def _molodensky_oracle(p: dict) -> str:
    """Abridged-Molodensky datum shift of each polygon's ring centroid
    under the parameters ``p`` (geo.molodensky_params)."""
    return f"""WITH {_POLY_CTE.strip()},
cent AS (
    SELECT poly_id, name,
           round((y0 + y0 + y1 + y1 + y0) / 5, 6) AS lat,
           round((x0 + x1 + x1 + x0 + x0) / 5, 6) AS lon
    FROM polys
),
trig AS (
    SELECT poly_id, name, lat, lon,
           sin(radians(lat)) AS sinp, cos(radians(lat)) AS cosp,
           sin(radians(lon)) AS sinl, cos(radians(lon)) AS cosl,
           sin(2.0 * radians(lat)) AS sin2p
    FROM cent
),
sh AS (
    SELECT poly_id, name, lat, lon,
           (({-p['dx']!r}) * sinp * cosl
            + ({-p['dy']!r}) * sinp * sinl
            + ({p['dz']!r}) * cosp
            + ({p['adf_fda']!r}) * sin2p)
           / ({p['rho_num']!r}
              / pow(1.0 - {p['e2']!r} * sinp * sinp, 1.5)) AS dphi,
           (({-p['dx']!r}) * sinl + ({p['dy']!r}) * cosl)
           / (({p['a']!r}
               / sqrt(1.0 - {p['e2']!r} * sinp * sinp)) * cosp) AS dlam
    FROM trig
)
SELECT poly_id, name, lat, lon,
       round(lat + degrees(dphi), 8) AS lat_wgs84,
       round(lon + degrees(dlam), 8) AS lon_wgs84
FROM sh
"""


def _datum_shift(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    """Abridged-Molodensky shift of each polygon's vertex-mean
    centroid under ``p`` — the Spark side of _molodensky_oracle."""
    cent = geo.vertex_mean_centroid(
        geo.synth_polygons(catalog.load_table(spark, sf_dir, "nation"))
    ).select(
        "poly_id",
        "name",
        F.col("centroid_lat").alias("lat"),
        F.col("centroid_lon").alias("lon"),
    )
    lat2, lon2 = geo.molodensky_shift(F.col("lat"), F.col("lon"), p)
    return cent.select(
        "poly_id",
        "name",
        "lat",
        "lon",
        fround(lat2, 8).alias("lat_wgs84"),
        fround(lon2, 8).alias("lon_wgs84"),
    )


_ARC_P = geo.molodensky_params(geo.ARC1960_TO_WGS84)


@register(
    "geo_c19_datum_arc1960",
    oracle=_molodensky_oracle(_ARC_P),
    tags=("C19", "geo", "datum", "reprojection"),
    doc="C19 datum extension — Arc 1960 -> WGS84 via the abridged "
    "Molodensky transformation (DMA TM 8350.2 formulas, EPSG mean "
    "3-parameter shift, Clarke 1880 RGS ellipsoid): the datum step "
    "the reference delegates to pyproj's database "
    "(geoJson_slope_etl_view.py:36-44), closing VERDICT r4 'What's "
    "missing' #4. Every datum-dependent constant is precomputed in "
    "Python and embedded as an identical double literal in BOTH "
    "engines' expressions (molodensky_params), so only per-row trig "
    "is engine-evaluated — the same cross-engine discipline as the "
    "Krüger-series UTM queries. Pure Column arithmetic over the C18 "
    "centroid frame; one scan, no shuffle beyond the source agg.",
)
def geo_c19_datum_arc1960(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _datum_shift(spark, sf_dir, _ARC_P)


_ARC50_P = geo.molodensky_params(geo.ARC1950_TO_WGS84)


@register(
    "geo_c19_datum_arc1950",
    oracle=_molodensky_oracle(_ARC50_P),
    tags=("C19", "geo", "datum", "reprojection"),
    doc="C19 datum extension — Arc 1950 -> WGS84 (abridged Molodensky, "
    "EPSG mean 3-parameter shift for southern Africa, Clarke 1880 "
    "RGS ellipsoid): the LAST named C19 sliver (VERDICT r7 'Next "
    "round' #7; reference candidate list at "
    "geoJson_slope_etl_view.py:341-393). Identical machinery to the "
    "green Arc-1960 query — molodensky_params precomputes every "
    "datum-dependent constant in Python so both engines receive "
    "identical double literals, only per-row trig is "
    "engine-evaluated. Pure Column arithmetic over the C18 centroid "
    "frame; one scan, no shuffle beyond the source agg.",
)
def geo_c19_datum_arc1950(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _datum_shift(spark, sf_dir, _ARC50_P)


@register(
    "s4_geotiff_jpeg_zonal_stats",
    oracle=_fixture_zonal_oracle(
        "CAST(((i.g // 8) * 31 + (j.g // 8) * 17) % 97 AS DOUBLE)\n"
        "               AS pixel_value"
    ),
    tags=("S4", "J6", "geo", "ingest", "end-to-end", "compression"),
    doc="S4 with Compression=7 (new-style JPEG, TIFF TechNote 2): the "
    "raster is written as multi-strip baseline-JPEG GeoTIFF via the "
    "pure-stdlib T.81 codec (sources/jpeg.py) and decoded back "
    "through the hard gate — closing VERDICT r4 'What's missing' #3. "
    "Exactness despite a lossy format: the fixture is 8x8 "
    "BLOCK-CONSTANT, so every block is DC-only with an integer "
    "coefficient and a unit quantization table preserves it "
    "bit-exactly (the codec's lossy path is pinned separately in "
    "tests against a numpy reference). The oracle replays the block "
    "value function on the model-space grid, so a one-pixel decode "
    "error anywhere breaks the hash.",
)
def s4_geotiff_jpeg_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block-constant value field over 8x8 model-space blocks (JPEG
    # strips carry 8-bit samples)
    values = [
        float(((i // 8) * 31 + ((39 - row) // 8) * 17) % 97)
        for row in range(40)
        for i in range(40)
    ]
    return _s4_zonal(spark, values, compression="jpeg", rows_per_strip=16)


@register(
    "mm_jpeg_decode_stats",
    oracle="""WITH m AS (
  SELECT doc_id AS media_id,
         (doc_id % 3 + 1) * 8 AS w, (doc_id % 2 + 1) * 8 AS h
  FROM documents
),
px AS (
  SELECT media_id, w, h, x.x AS x, y.y AS y
  FROM m, range(0, 24) x(x), range(0, 16) y(y)
  WHERE x.x < w AND y.y < h
),
v AS (
  SELECT media_id, w, h, x, y,
         ((x // 8) * 7 + (y // 8) * 13 + media_id) % 256 AS v
  FROM px
)
SELECT media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       round(sum(v) * 1.0 / (w * h), 6) AS mean_lum,
       CAST(sum(v * (1 + x + 2 * y)) AS BIGINT) AS fingerprint
FROM v GROUP BY media_id, w, h
""",
    tags=("multimodal", "image", "decode", "jpeg", "mapInPandas"),
    bench=True,
    doc="REAL JPEG decode end-to-end: per doc a genuine baseline "
    "grayscale JPEG (pure-stdlib T.81 codec, sources/jpeg.py) is "
    "entropy-decoded, inverse-DCT'd and reduced to mean luminance + "
    "a position-weighted fingerprint inside Arrow-batched "
    "mapInPandas. The fixture images are 8x8 block-constant so the "
    "lossy format decodes bit-exactly (integral DC, unit quant "
    "table), and the oracle recomputes both stats from the block "
    "value function WITHOUT parsing JPEG — the independent-oracle "
    "proof pattern of mm_bmp_decode_stats applied to a compressed "
    "codec with a real entropy-coding layer.",
)
def mm_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    docs = catalog.load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("media_id"))
    return mm.jpeg_decode_stats(mm.media_jpeg_corpus(ids))


# PageRank over the 25-nation trade graph: damping, nodes, iterations
# (graph_pagerank_nations and its oracle read the same three values)
_PR_DAMPING = 0.85
_PR_NODES = 25
_PR_ITERS = 3


def _pagerank_sql() -> str:
    """DuckDB replay of graph_pagerank_nations: the trade-graph edge
    derivation plus ``_PR_ITERS`` chained rank iterations (same
    generated-CTE discipline as _lloyd_sql)."""
    d, n_nodes, iters = _PR_DAMPING, _PR_NODES, _PR_ITERS
    base = (1.0 - d) / n_nodes
    ctes = [
        """edges AS (
    SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
           count(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY src, dst
)""",
        """wsum AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS wt FROM edges GROUP BY src
)""",
        f"""r0 AS (
    SELECT n_nationkey AS node, {1.0 / n_nodes!r} AS rank FROM nation
)""",
    ]
    for i in range(iters):
        ctes.append(f"""r{i + 1} AS (
    SELECT n.n_nationkey AS node,
           round({base!r} + {d!r} * COALESCE(s.acc, 0.0), 12) AS rank
    FROM nation n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum(CAST(r.rank * e.w / ws.wt AS DECIMAL(30,12)))
                    AS DOUBLE) AS acc
        FROM edges e
        JOIN r{i} r ON e.src = r.node
        JOIN wsum ws ON e.src = ws.src
        GROUP BY e.dst
    ) s ON s.node = n.n_nationkey
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT n.n_name AS nation, round(r.rank, 8) AS pagerank
FROM r{iters} r JOIN nation n ON r.node = n.n_nationkey
"""
    )


@register(
    "graph_pagerank_nations",
    oracle=_pagerank_sql(),
    tags=("graph", "pagerank", "iterative", "scale-shape"),
    bench=True,
    doc="Weighted PageRank over the nation-level trade graph — the "
    "graph-analytics family's iterative entry beside connected "
    "components: edges are (supplier nation -> customer nation, "
    "trade count) from the lineitem/orders/customer/supplier join "
    "chain; three damped iterations (d=0.85, teleport (1-d)/N) of "
    "rank(dst) <- base + d*sum(rank(src)*w/outweight(src)). "
    "Cross-engine exactness per the Lloyd discipline: per-edge "
    "contributions quantize to DECIMAL(30,12) before the exact sum "
    "and each iteration's rank is rounded to 12 dp, so both engines "
    "enter every round with identical values; damping constants are "
    "Python-computed literals shared verbatim. Scale shape: the "
    "edge derivation is the j9 broadcast-dim join chain + one "
    "partial-aggregated groupBy; each iteration is one edge-keyed "
    "shuffle with map-side combine and a broadcast of the (tiny) "
    "rank vector — plan depth grows with iterations, width never "
    "does (simplified PR: dangling mass is not redistributed, "
    "identically in both engines).",
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exact import fround

    d, n_nodes = _PR_DAMPING, _PR_NODES
    base = (1.0 - d) / n_nodes
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = catalog.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = catalog.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = catalog.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = catalog.load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    wsum = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wt"))
    edges = edges.join(wsum, "src").localCheckpoint()
    rank = nation.select(
        F.col("n_nationkey").alias("node"), F.lit(1.0 / n_nodes).alias("rank")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(F.broadcast(rank), edges.src == F.col("node"))
            .select(
                F.col("dst").alias("node2"),
                (F.col("rank") * F.col("w") / F.col("wt"))
                .cast("decimal(30,12)")
                .alias("c"),
            )
            .groupBy("node2")
            .agg(F.sum("c").cast("double").alias("acc"))
        )
        rank = (
            nation.select(F.col("n_nationkey").alias("node"))
            .join(contrib, F.col("node") == F.col("node2"), "left")
            .select(
                "node",
                fround(
                    F.lit(base) + F.lit(d) * F.coalesce(F.col("acc"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
    return rank.join(
        F.broadcast(nation), F.col("node") == F.col("n_nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        fround(F.col("rank"), 8).alias("pagerank"),
    )


@register(
    "dedup_select_representatives",
    oracle=f"""{_MINHASH_CC},
comp AS (
    SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
),
ranked AS (
    SELECT c.component, c.doc_id, d.n_chars,
           row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY c.component) AS cluster_size
    FROM comp c JOIN documents d USING (doc_id)
)
SELECT component, doc_id AS keep_doc_id,
       CAST(n_chars AS BIGINT) AS keep_n_chars,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
""",
    tags=("dedup", "clustering", "curation", "scale-shape"),
    doc="Cluster-representative selection — the KEEP decision that "
    "completes a near-dup pipeline (cluster, then retain the best "
    "doc per cluster; the standard rule keeps the LONGEST document, "
    "doc_id as the deterministic tiebreak): CC labels join back to "
    "the corpus and a per-component rank keeps row 1. Scale shape: "
    "the join is keyed on doc_id (no corpus self-join) and the "
    "rank-1 cut plans as WindowGroupLimit — the shuffle carries one "
    "row per CLUSTERED doc, never the whole corpus (unclustered "
    "docs are implicitly their own representatives and are not "
    "re-emitted).",
)
def dedup_select_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = catalog.load_table(spark, sf_dir, "documents")
    comp = dd.connected_components(dd.minhash_lsh_pairs(docs, threshold=0.8))
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").cast("bigint").alias("keep_n_chars"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


# ===========================================================================
# Round 8 additions: Bloom-screened decontamination, incremental
# MinHash ingest, Count-Min heavy hitters, product-quantization ANN
# ===========================================================================


@register(
    "dedup_decontaminate_bloom",
    oracle=_DECON_EXACT_ORACLE,
    tags=("dedup", "decontamination", "curation", "bloom", "scale-shape"),
    bench=True,
    doc="dedup_decontaminate's CORPUS-SHUFFLE-CUTTING tier — "
    "byte-identical output (same oracle as both existing tiers), "
    "third physical plan: a Bloom filter over the eval grams "
    "(functions/bloom.py; corpus-count-adaptive bit count packed to "
    "a DENSE array<long> for O(1) probes, xxhash64 x7, constant-size "
    "one-row broadcast — 128 KiB at the floor, 16 MiB at the cap; "
    "the DSIR-LM broadcast shape) pre-screens every "
    "corpus gram with pure JVM bit arithmetic BEFORE the per-doc "
    "distinct and the exact verify join, so the gram exchange "
    "carries only Bloom survivors (true matches + <1% false "
    "positives) instead of every distinct corpus gram. False "
    "positives are retired by the exact shuffle_hash verify join "
    "(same AQE-abort pin as the semijoin tier), false negatives are "
    "impossible, so correctness never depends on the filter — which "
    "is why the engine-specific xxhash64 stage needs no oracle "
    "replay. Scale: at 100 TB the semijoin tier shuffles the full "
    "corpus gram set; this tier shuffles ~the contamination rate.",
)
def dedup_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import bloom as bl
    from .functions.text import tokens

    base = catalog.load_table(spark, sf_dir, "documents")
    docs, is_bench, bgrams = _eval_8grams(base)
    # CONSTRUCTION-TIME EXECUTION CONTRACT (the minhash-census
    # precedent): the eval gram set materializes here — three
    # consumers (the count below, the bitmap build, the exact verify
    # join) read its blocks instead of re-deriving the explode.
    bgrams = bgrams.localCheckpoint()
    # corpus-count-adaptive filter size (bloom_plan docstring: a
    # saturated fixed-size filter pays probe cost and cuts nothing)
    m_bits = bl.bloom_plan(bgrams.count())
    bitmap = bl.bloom_bitmap(bgrams, m_bits=m_bits)
    train = docs.filter(~is_bench)
    # Bloom pre-screen runs on the RAW exploded grams, before the
    # (doc_id, gram) distinct — survivors are so few that the distinct
    # exchange shrinks from corpus-gram-sized to match-sized.
    cand = (
        train.select("doc_id", F.explode("g8").alias("gram"))
        .crossJoin(F.broadcast(bitmap))
        .filter(bl.bloom_contains(F.col("gram"), F.col("bloom"), m_bits=m_bits))
        .select("doc_id", "gram")
        .distinct()
    )
    # r13 (guide §1.2): the output branch needs only the gram COUNT,
    # not the grams — size(word_ngrams(text, 8)) is exactly
    # greatest(n_tokens - 7, 0) (n-7 overlapping windows when n >= 8,
    # an empty array below 8, [] for NULL text where greatest skips
    # the NULL size).  The previous spelling re-built every 8-gram
    # concat string over the whole train corpus a second time just to
    # take the array's length.
    train_totals = base.filter(~is_bench).select(
        "doc_id",
        F.greatest(
            F.size(tokens(F.lower(F.col("text")))) - 7, F.lit(0)
        ).alias("__n_grams"),
    )
    return _shuffled_contamination(
        train_totals, F.col("__n_grams"), cand, bgrams
    )


# Incremental-ingest oracle: same generated shingle/permutation/band
# fragments as _MINHASH_CTES, then the batch-restricted candidate
# join (docs with doc_id % 10 >= 8 play the arriving batch) with the
# UNSALTED bucket semantics the incremental tier defines
# (operators/incremental.py docstring: old x old never expands, so
# the mega-bucket quadratic term salting exists for is absent).
_INCR_MINHASH_ORACLE = f"""WITH {_BAND_CTES},
{_batch_cands("", ">= 8")}
SELECT doc_a, doc_b, jaccard,
       {_link_type(">= 8", " " * 7)}
FROM (
{_verified("cand")}
"""


@register(
    "dedup_minhash_incremental",
    oracle=_INCR_MINHASH_ORACLE,
    tags=("dedup", "minhash", "lsh", "incremental", "scale-shape"),
    bench=True,
    doc="Incremental-ingest MinHash dedup (operators/incremental.py) "
    "— the batch-vs-index form every continuously-ingesting corpus "
    "runs instead of re-paying the corpus x corpus self-join: docs "
    "with doc_id % 10 >= 8 play the arriving batch (20% of the "
    "corpus — deliberately pessimistic; real batches are per-mille), "
    "everything else is the already-deduplicated index. The batch's "
    "distinct (band, bh) keys left-semi-select touched buckets "
    "(pinned shuffle_hash — the key set grows with the batch), pair "
    "expansion emits only pairs touching >= 1 batch doc (old x old "
    "never expands, so per-bucket cost is new x all, bounded by "
    "batch occupancy), and survivors are exact-Jaccard-verified at "
    "j >= 0.8. Output adds link_type: 'batch_batch' (dup inside the "
    "batch) vs 'batch_index' (batch doc duplicating the index — the "
    "one to drop). In production the index band table is a persisted "
    "bucketed artifact (write_bucketed_index layout); the stateless "
    "gate recomputes it, which only over-states the cost. Full "
    "value oracle: the same generated affine-permutation fragments "
    "as dedup_minhash_lsh, batch-restricted.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.incremental import incremental_minhash_pairs

    docs = catalog.load_table(spark, sf_dir, "documents")
    # id-derivable batch membership -> ONE band pass (the two-pass
    # persisted-index form re-derives the index signatures and the
    # x500 stage split measured that double scan dominating the cell)
    return incremental_minhash_pairs(
        docs, new_pred=lambda c: c % 10 >= 8
    )


@register(
    "text_cms_heavy_hitters",
    oracle=r"""WITH t AS (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> x <> '')) AS token
    FROM documents
),
hh AS (
    SELECT token, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM t
),
probes AS (
    SELECT (h >> (11 * i.i)) & 2047 AS b, i.i AS i
    FROM hh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i(i)
),
cells AS (SELECT i, b, count(*) AS cnt FROM probes GROUP BY i, b),
c AS (SELECT token, count(*) AS exact_count FROM t GROUP BY token),
n AS (SELECT count(*) AS n_total FROM t),
top AS (
    SELECT token, exact_count FROM c
    ORDER BY exact_count DESC, token ASC LIMIT 20
),
tb AS (
    SELECT top.token, top.exact_count, i.i AS i,
           ((('0x' || substr(md5(top.token), 1, 15))::BIGINT) >> (11 * i.i))
               & 2047 AS b
    FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i(i)
),
est AS (
    SELECT tb.token, tb.exact_count,
           min(COALESCE(cells.cnt, 0)) AS cms_estimate
    FROM tb LEFT JOIN cells USING (i, b)
    GROUP BY tb.token, tb.exact_count
)
SELECT est.token,
       CAST(est.exact_count AS BIGINT) AS exact_count,
       CAST(est.cms_estimate AS BIGINT) AS cms_estimate,
       CAST(est.cms_estimate - est.exact_count AS BIGINT) AS overestimate,
       CAST(n.n_total AS BIGINT) AS n_total
FROM est, n
ORDER BY exact_count DESC, token ASC
""",
    tags=("text", "sketch", "heavy-hitters", "llm-pipeline"),
    bench=True,
    doc="Heavy hitters under a Count-Min sketch with a FULL value "
    "oracle (functions/cms_exact.py; Cormode & Muthukrishnan 2005; "
    "VERDICT r9 next-round #2): the corpus token stream builds a "
    "4x2048 sketch — CONSTANT size at any corpus scale, map-side-"
    "combinable cell counts, zero Python — whose buckets are four "
    "disjoint 11-bit slices of ONE cross-engine md5_int60 per token "
    "(shift+mask after a single md5+hex-parse, the HLL's exact "
    "per-row price; a 4x-separate-md5 first cut measured 9.6x the "
    "xxhash tier at x200 and was replaced), so DuckDB replays every "
    "cell count, every min-over-rows point "
    "estimate and the per-token overestimate EXACTLY (the "
    "functions/hll.py pattern, retiring the xxhash64 tier's "
    "probabilistic tolerance-1 bound gate: what was a boolean that "
    "legitimate Markov-tail excursions could flip is now data in "
    "the value hash, and the never-underestimate guarantee is "
    "checked as overestimate >= 0 on every row by construction). "
    "The exact top-20 tokens are point-estimated from the one-row "
    "packed sketch (broadcast). What the sketch buys at scale is "
    "the streaming form: per-partition sketches merge by cell-wise "
    "addition, so ingest tracks heavy hitters without ever "
    "materializing the distinct-token set (streaming/sketch_stream.py "
    "runs that form on these same md5 buckets).",
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import cms_exact as sk
    from .functions.text import tokens

    toks = (
        catalog.load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    )
    sketch = sk.cms_sketch(toks)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(20)
    )
    est = sk.cms_estimate(F.col("token"), F.col("cms"))
    return top.crossJoin(F.broadcast(sketch)).select(
        "token",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        est.cast("bigint").alias("cms_estimate"),
        (est - F.col("exact_count")).cast("bigint").alias("overestimate"),
        F.col("n_total").cast("bigint").alias("n_total"),
    )


# HLL constants are baked into the oracle below via f-string so the two
# engines share the exact double numerator literal; see
# functions/hll.py for the register/estimate contract.
def _hll_oracle() -> str:
    from .functions import hll as _sk

    return rf"""WITH t AS (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> x <> '')) AS token
    FROM documents
),
h AS (SELECT token, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv FROM t),
r AS (SELECT hv & {_sk.HLL_M - 1} AS j,
             {_sk.HLL_RHO_MAX} - length(ltrim(bin(hv >> {_sk.HLL_P}), '0')) AS rho
      FROM h),
regs AS (SELECT j, max(rho) AS mj FROM r GROUP BY j),
red AS (
    SELECT count(*) AS seen,
           COALESCE(CAST(sum(1::BIGINT << CAST({_sk.HLL_RHO_MAX} - mj AS INT))
                         AS BIGINT), 0)
               AS s_seen
    FROM regs
),
sk AS (
    SELECT seen, {_sk.HLL_M} - seen AS v,
           s_seen + ({_sk.HLL_M} - seen) * (1::BIGINT << {_sk.HLL_RHO_MAX})
               AS s_all
    FROM red
),
est AS (
    SELECT seen, v, s_all,
           ({_sk.HLL_NUMER!r} <= {_sk.HLL_LINEAR_THRESHOLD!r} * CAST(s_all AS DOUBLE))
               AND v > 0 AS use_lin
    FROM sk
),
est2 AS (
    SELECT seen, v, s_all, use_lin,
           round(CASE WHEN use_lin
                 THEN {float(_sk.HLL_M)!r} * ln({float(_sk.HLL_M)!r} / CAST(v AS DOUBLE))
                 ELSE {_sk.HLL_NUMER!r} / CAST(s_all AS DOUBLE) END, 6) AS e6
    FROM est
),
ex AS (SELECT count(*) AS n_tokens_total, count(DISTINCT token) AS n_distinct_exact
       FROM t)
SELECT CAST(ex.n_tokens_total AS BIGINT) AS n_tokens_total,
       CAST(ex.n_distinct_exact AS BIGINT) AS n_distinct_exact,
       CAST(est2.seen AS BIGINT) AS seen_registers,
       CAST(est2.v AS BIGINT) AS zero_registers,
       CAST(est2.s_all AS BIGINT) AS register_sum,
       est2.use_lin AS used_linear_counting,
       round(est2.e6, 4) AS hll_estimate,
       round(abs(est2.e6 - ex.n_distinct_exact)
             / CAST(ex.n_distinct_exact AS DOUBLE), 4) AS rel_error
FROM est2, ex
"""


@register(
    "text_hll_distinct",
    oracle=_hll_oracle(),
    tags=("text", "sketch", "distinct-count", "hll"),
    bench=True,
    doc="Distinct-token cardinality under a HyperLogLog sketch "
    "(functions/hll.py; Flajolet et al. 2007) with a FULL value "
    "oracle — unlike the CMS (xxhash64, boolean bound gate), the HLL "
    "is built on the cross-engine md5_int60 hash and its harmonic "
    "reduction is an exact BIGINT (sum of powers of two), so DuckDB "
    "replays register table, regime switch (raw vs linear counting) "
    "and the estimate itself bit-for-bit; rel_error vs the exact "
    "distinct count is reported as data, not asserted.  Plan: one "
    "explode -> groupBy over exactly 1024 registers (map-side "
    "combinable max) -> one-row scalar reduction.  The exact "
    "count(DISTINCT) side is the verification twin, same as the CMS "
    "query.  What the sketch buys at 100 TB: constant-size mergeable "
    "state (cell-wise max), so per-partition / per-ingest-batch "
    "sketches union into a corpus cardinality without ever shuffling "
    "the distinct-token set.  NB the use_lin comparison is written "
    "multiplicatively (numer <= thresh * s_all) so both engines "
    "compare exactly-represented products instead of a rounded "
    "quotient.",
)
def text_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import hll as sk
    from .functions.exact import fround
    from .functions.text import tokens

    toks = catalog.load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    summ = sk.hll_summary(sk.hll_registers(toks))
    exact = toks.agg(
        F.count("*").cast("long").alias("n_tokens_total"),
        F.countDistinct("token").cast("long").alias("n_distinct_exact"),
    )
    est6 = F.col("hll_estimate")
    return exact.crossJoin(F.broadcast(summ)).select(
        "n_tokens_total",
        "n_distinct_exact",
        "seen_registers",
        "zero_registers",
        "register_sum",
        "used_linear_counting",
        fround(est6, 4).alias("hll_estimate"),
        fround(
            F.abs(est6 - F.col("n_distinct_exact"))
            / F.col("n_distinct_exact").cast("double"),
            4,
        ).alias("rel_error"),
    )


from .operators import pq  # noqa: E402

# the PQ oracles' subvector width and subspace list, from pq's settings
_SUBD = sim.DIM // pq.PQ_M
_SUBSPACES = ", ".join(str(i) for i in range(pq.PQ_M))


@register(
    "sim_pq_topk",
    oracle=f"""WITH {_EMB_CTE.strip()},
b AS (
    SELECT vec_id, label,
           list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv
    FROM emb
),
sub AS (
    SELECT vec_id, label, s.s,
           nv[s.s * {_SUBD} + 1 : s.s * {_SUBD} + {_SUBD}] AS sv
    FROM b CROSS JOIN (SELECT unnest([{_SUBSPACES}]) AS s) s(s)
),
cb AS (SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {pq.PQ_KS}),
enc AS (
    SELECT vec_id, s, cid AS code FROM (
        SELECT sub.vec_id, sub.s, cb.cid,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_inner_product(sub.sv, sub.sv)
                                  - 2 * list_inner_product(sub.sv, cb.cv)
                                  + list_inner_product(cb.cv, cb.cv), 6) ASC,
                            cb.cid ASC) AS rn
        FROM sub JOIN cb USING (s)
    ) t WHERE rn = 1
),
q AS (SELECT s, sv AS qs FROM sub WHERE vec_id = 0),
lut AS (
    SELECT cb.s, cb.cid,
           CAST(sign(list_inner_product(q.qs, cb.cv))
                * floor(abs(list_inner_product(q.qs, cb.cv)) * 1000000 + 0.5)
                AS BIGINT) AS ip_u
    FROM cb JOIN q USING (s)
),
approx AS (
    SELECT e.vec_id,
           round(CAST(sum(l.ip_u) AS DOUBLE) / 1000000.0, 6) AS approx_score
    FROM enc e JOIN lut l ON l.s = e.s AND l.cid = e.code
    WHERE e.vec_id <> 0 GROUP BY e.vec_id
),
short AS (
    SELECT vec_id, approx_score FROM approx
    ORDER BY approx_score DESC, vec_id ASC LIMIT {pq.PQ_RERANK}
),
qf AS (SELECT nv AS qv FROM b WHERE vec_id = 0)
SELECT s.vec_id, b.label, s.approx_score,
       round(list_inner_product(b.nv, qf.qv), 6) AS cosine_sim
FROM short s JOIN b USING (vec_id), qf
ORDER BY cosine_sim DESC, s.vec_id ASC
LIMIT {pq.PQ_K}
""",
    tags=("similarity", "ann", "pq", "topk"),
    bench=True,
    doc="Product-quantization ANN (operators/pq.py; Jegou et al. "
    "TPAMI 2011) — the memory-side scale path next to IVF's "
    "list-pruning: vectors are stored as 4 one-byte codes (nearest "
    "per-subspace codebook entry, deterministic seed codebooks like "
    "ivf_assignments), a query builds one 4x16 inner-product lookup "
    "table, and scoring the corpus is table lookups + adds in exact "
    "integer micro-units (order-free, hence engine- and "
    "partitioning-independent) — no per-vector float dot product. "
    "Top-50 ADC shortlist (TakeOrderedAndProject), exact cosine "
    "rerank, top-10 out. Codebook and LUT are constant-size "
    "broadcasts; the encode pass is a map-side-combinable min_by "
    "per (vector, subspace) — a one-time index build, persisted in "
    "production. Full cross-engine value oracle over the whole "
    "slice -> encode -> LUT -> ADC -> rerank chain.",
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import pq_topk

    return pq_topk(catalog.load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivfpq_topk",
    oracle=f"""WITH {_EMB_CTE.strip()},
{_ivf_assign_ctes(f" WHERE vec_id < {sim.N_CENTROIDS}")},
{_ivf_members_ctes(sim.NPROBE)},
sub AS (
    SELECT vec_id, s.s, nv[s.s * {_SUBD} + 1 : s.s * {_SUBD} + {_SUBD}] AS sv
    FROM b CROSS JOIN (SELECT unnest([{_SUBSPACES}]) AS s) s(s)
),
cb AS (SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {pq.PQ_KS}),
enc AS (
    SELECT vec_id, s, cid AS code FROM (
        SELECT sub.vec_id, sub.s, cb.cid,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_inner_product(sub.sv, sub.sv)
                                  - 2 * list_inner_product(sub.sv, cb.cv)
                                  + list_inner_product(cb.cv, cb.cv), 6) ASC,
                            cb.cid ASC) AS rn
        FROM sub JOIN cb USING (s)
    ) t WHERE rn = 1
),
qs AS (SELECT s, sv AS qsv FROM sub WHERE vec_id = 0),
lut AS (
    SELECT cb.s, cb.cid,
           CAST(sign(list_inner_product(qs.qsv, cb.cv))
                * floor(abs(list_inner_product(qs.qsv, cb.cv)) * 1000000 + 0.5)
                AS BIGINT) AS ip_u
    FROM cb JOIN qs USING (s)
),
{_ivfpq_rerank(pq.PQ_RERANK, pq.PQ_K)}""",
    tags=("similarity", "ann", "ivf", "pq", "topk"),
    bench=True,
    doc="IVF-PQ composition (operators/pq.py::ivfpq_topk) — the "
    "standard billion-scale index layout (FAISS IVFx,PQy shape, "
    "non-residual variant): IVF routing prunes WHICH inverted lists "
    "the query reads (nprobe=2 of 8 — partition pruning at scale, "
    "each list a directory like write_bucketed_index), PQ codes "
    "shrink WHAT the lists store (4 bytes/vector) and survivors are "
    "ADC-scored with the query's LUT in exact integer micro-units; "
    "top-50 shortlist, exact cosine rerank, top-10 out. The two "
    "approximations multiply: a probe touches nprobe/n_centroids of "
    "the corpus at PQ scoring cost and only the shortlist ever "
    "reads a full vector. Composes the verified sim_ivf_topk "
    "routing chain and the sim_pq_topk code/LUT/ADC chain "
    "unchanged; full cross-engine value oracle over the composed "
    "plan.",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import ivfpq_topk

    return ivfpq_topk(catalog.load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_incremental_ingest",
    oracle=f"""WITH pairs AS ({_INCR_MINHASH_ORACLE}),
fps AS (
    SELECT doc_id, n_chars,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
),
b1 AS (
    SELECT doc_id, n_chars, fp FROM fps
    WHERE doc_id % 10 >= 8
      AND fp NOT IN (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8)
),
b2 AS (
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM b1
    ) t WHERE rn = 1
),
drops AS (
    SELECT CASE WHEN doc_a % 10 >= 8 AND doc_b % 10 >= 8 THEN doc_b
                WHEN doc_a % 10 >= 8 THEN doc_a
                ELSE doc_b END AS doc_id
    FROM pairs
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM b2
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
""",
    tags=("dedup", "incremental", "curation", "composition", "scale-shape"),
    doc="The complete ingest ACCEPT decision — what a continuously-"
    "ingesting corpus actually runs per batch, composing the "
    "verified pieces into one lazy plan: (1) exact gate — batch "
    "docs whose canonical md5 fingerprint exists in the index are "
    "dropped (shuffle_hash anti-join; the index fp set is corpus-"
    "sized and must never ride an AQE broadcast guess), and within "
    "the batch only the first doc per fingerprint survives "
    "(WindowGroupLimit rank-1); (2) near gate — batch docs named by "
    "any dedup_minhash_incremental pair lose greedily by arrival "
    "order: a batch doc drops if it near-dups an index doc (index "
    "always wins) or a smaller-id batch doc (greedy streaming rule "
    "— deliberately not transitive closure, matching how arrival-"
    "order ingest behaves; the whole-corpus CC tier is the batch-"
    "free alternative). Output: the accepted batch docs. Oracle "
    "composes the fingerprint SQL and the full incremental-minhash "
    "replay as CTEs over the same lineage.",
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .functions.text import fingerprint
    from .operators.incremental import incremental_minhash_pairs

    docs = catalog.load_table(spark, sf_dir, "documents").withColumn(
        "is_new", F.col("doc_id") % 10 >= 8
    )
    fps = docs.select(
        "doc_id", "n_chars", "is_new", fingerprint(F.col("text")).alias("fp")
    )
    index_fp = fps.filter(~F.col("is_new")).select("fp").distinct()
    b1 = fps.filter(F.col("is_new")).join(
        index_fp.hint("shuffle_hash"), "fp", "left_anti"
    )
    w = Window.partitionBy("fp").orderBy(F.asc("doc_id"))
    b2 = (
        b1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chars")
    )
    pairs = incremental_minhash_pairs(
        docs, new_pred=lambda c: c % 10 >= 8
    )
    new_a = F.col("doc_a") % 10 >= 8
    new_b = F.col("doc_b") % 10 >= 8
    drops = pairs.select(
        F.when(new_a & new_b, F.col("doc_b"))
        .when(new_a, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct()
    return b2.join(drops.hint("shuffle_hash"), "doc_id", "left_anti").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )


def _pq_train_chain() -> tuple[list[str], str]:
    """The per-subspace Lloyd training rounds (``sim.LLOYD_ITERS`` of
    them, from the first ``pq.PQ_KS`` vectors' subvectors) as CTE fragments —
    assumes a ``sub(vec_id, s, sv)`` CTE exists.  Returns (ctes,
    final_codebook_name); shared by the sim_pq_lloyd oracle and the
    trained-codebook IVF-PQ oracle so the training replay has one
    home."""
    d_expr = (
        "round(list_inner_product({v}.sv, {v}.sv)"
        " - 2 * list_inner_product({v}.sv, c.cv)"
        " + list_inner_product(c.cv, c.cv), 6)"
    )
    iters = sim.LLOYD_ITERS
    ctes = [
        f"""p0 AS (
    SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {pq.PQ_KS}
)"""
    ]
    d = d_expr.format(v="sub")
    for i in range(iters):
        ctes.append(f"""pa{i} AS (
    SELECT vec_id, s, sv, cid, d FROM (
        SELECT sub.vec_id, sub.s, sub.sv, c.cid, {d} AS d,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY {d} ASC, c.cid ASC) AS rn
        FROM sub JOIN p{i} c USING (s)
    ) t WHERE rn = 1
)""")
        ctes.append(f"""pm{i} AS (
    SELECT s, cid, gs.i AS pos,
           round(CAST(sum(CAST(sv[gs.i] AS DECIMAL(30,8))) AS DOUBLE)
                 / count(*), 8) AS mv
    FROM pa{i}, generate_series(1, {_SUBD}) gs(i)
    GROUP BY s, cid, gs.i
)""")
        ctes.append(f"""p{i + 1} AS MATERIALIZED (
    SELECT s, cid, list(mv ORDER BY pos) AS cv FROM pm{i} GROUP BY s, cid
)""")
    return ctes, f"p{iters}"


def _pq_lloyd_sql() -> str:
    """DuckDB replay of pq.pq_lloyd_codebooks — per-subspace Lloyd
    rounds as chained CTEs (the _lloyd_ctes pattern with (s, cid)
    keys and subvector slices)."""
    d_expr = (
        "round(list_inner_product({v}.sv, {v}.sv)"
        " - 2 * list_inner_product({v}.sv, c.cv)"
        " + list_inner_product(c.cv, c.cv), 6)"
    )
    ctes = [
        """b AS MATERIALIZED (
    SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv
    FROM emb
)""",
        f"""sub AS MATERIALIZED (
    SELECT vec_id, s.s, nv[s.s * {_SUBD} + 1 : s.s * {_SUBD} + {_SUBD}] AS sv
    FROM b CROSS JOIN (
        SELECT unnest([{_SUBSPACES}]) AS s) s(s)
)""",
    ]
    train, final = _pq_train_chain()
    ctes.extend(train)
    d = d_expr.format(v="sub")
    ctes.append(f"""paf AS (
    SELECT vec_id, s, cid, d FROM (
        SELECT sub.vec_id, sub.s, c.cid, {d} AS d,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY {d} ASC, c.cid ASC) AS rn
        FROM sub JOIN {final} c USING (s)
    ) t WHERE rn = 1
)""")
    return (
        f"WITH {_EMB_CTE.strip()},\n"
        + ",\n".join(ctes)
        + """
SELECT s, cid, count(*) AS n_assigned,
       round(CAST(sum(CAST(d AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6)
           AS mean_l2
FROM paf GROUP BY s, cid
"""
    )


@register(
    "sim_pq_lloyd",
    oracle=_pq_lloyd_sql(),
    tags=("similarity", "ann", "pq", "kmeans", "iterative", "scale-shape"),
    doc="Per-subspace Lloyd-TRAINED PQ codebooks (operators/pq.py::"
    "pq_lloyd_codebooks; Jegou et al. SIII train each subspace "
    "codebook with k-means — the seed-codebook tier pins the "
    "code/ADC mechanics, this is the quantizer production persists): "
    "two refinement rounds over all 4 subspaces at once, each round "
    "one broadcast-codebook scoring pass whose argmin is a single "
    "min(struct) aggregate (map-side combinable, NO window) plus "
    "exact-decimal 8-dp component means per (subspace, code, "
    "position) — both engines enter every round with bit-identical "
    "codebooks, the sim_ivf_lloyd discipline extended to the "
    "(s, cid) key. Empty codes shrink out of the next round, "
    "mirrored by the oracle. Output: per surviving (s, cid) the "
    "membership count and exact-mean quantization distance after "
    "training — the summary a codebook registry records.",
)
def sim_pq_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import pq_lloyd_codebooks

    return pq_lloyd_codebooks(catalog.load_table(spark, sf_dir, "embeddings"))


def _ivfpq_trained_sql() -> str:
    """Oracle for the TRAINED-quantizer IVF-PQ: the sim_ivfpq_topk
    composition with the seed ``cb`` CTE replaced by the full
    _pq_train_chain Lloyd replay — routing, encode, LUT and ADC all
    run against the trained table, value-exact in both engines."""
    train, final = _pq_train_chain()
    train_sql = ",\n".join(train)
    return f"""WITH {_EMB_CTE.strip()},
{_ivf_assign_ctes(f" WHERE vec_id < {sim.N_CENTROIDS}")},
{_ivf_members_ctes(sim.NPROBE)},
sub AS MATERIALIZED (
    SELECT vec_id, s.s, nv[s.s * {_SUBD} + 1 : s.s * {_SUBD} + {_SUBD}] AS sv
    FROM b CROSS JOIN (
        SELECT unnest([{_SUBSPACES}]) AS s) s(s)
),
{train_sql},
{_pq_encode_ctes("sub", final)},
{_ivfpq_rerank(pq.PQ_RERANK, pq.PQ_K)}"""


def _ivfpq_index_topk(
    spark: SparkSession, sf_dir: str, kind: str, preds: list, compact: bool
) -> DataFrame:
    """Persisted IVF-PQ prologue and query: the index over ``preds[0]``
    with each later generation added in order (ensured per process
    under the ``kind`` fixture dir), then the query path for vector 0."""
    from .operators import pq_index

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    path = _roundtrip_path(kind, sf_dir)
    pq_index.ensure_ivfpq_index(
        emb, preds[0], preds[1:], path, compact=compact
    )
    return pq_index.query_ivfpq_index(
        spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
    )


@register(
    "sim_ivfpq_index_query",
    oracle=_ivfpq_trained_sql(),
    tags=("similarity", "ann", "ivf", "pq", "index", "persisted", "topk"),
    bench=True,
    doc="PERSISTED IVF-PQ index, query path only (operators/"
    "pq_index.py; VERDICT r9 next-round #1 — the production "
    "lifecycle split: train once, query many): the trained "
    "codebooks, coarse centroids, 4-byte codes and full vectors are "
    "built ONCE to disk — codes and vectors partitioned by inverted-"
    "list id, the write_bucketed_index layout — and the query reads "
    "nprobe PARTITION DIRECTORIES (probe selection over the 8-row "
    "centroid table collects nprobe literal list ids -> static "
    "partition pruning, PartitionFilters pinned in tests), "
    "broadcasts the m*ks LUT, ADC-scores only the probed lists' "
    "codes in exact integer micro-units, and exact-reranks the "
    "shortlist against the probed lists' stored vectors. The "
    "builder ensures the index (operators/pq_index.py::"
    "ensure_ivfpq_index with no batches; the shared ledger's Lloyd "
    "rounds + row-count check is one aggregate, not a rebuild) and "
    "then runs ONLY "
    "the query path, so the bench cell measures query latency "
    "decoupled from the build (per-query training is build-"
    "dominated, pq_index.py); in production the build amortizes "
    "over every query the index serves. Value contract: parquet "
    "round-trips the deterministic fragments exactly, so the result "
    "is BIT-IDENTICAL to the in-plan trained chain (operators/pq.py::"
    "ivfpq_topk with trained codebooks, pinned in tests/test_pq.py) "
    "and the oracle is the full Lloyd+routing+ADC replay.",
)
def sim_ivfpq_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    every = lambda c: F.lit(True)  # noqa: E731
    return _ivfpq_index_topk(
        spark, sf_dir, "ivfpq_index", [every], compact=False
    )


def _ivfpq_add_sql(index_where: str = "vec_id % 10 < 8") -> str:
    """Oracle for the ADD-path index (_ivfpq_trained_sql with a frozen
    quantizer): Lloyd training and centroid seeding see ONLY the
    ``index_where`` subset — the state the index was built in — while
    encoding, routing, ADC and rerank cover the GROWN corpus, exactly
    what add_to_ivfpq_index's freeze-then-append produces.  The train
    chain's ``sub`` CTE is the index subset; ``sub_all`` carries every
    vector through encode."""
    train, final = _pq_train_chain()
    train_sql = ",\n".join(train)
    cent_where = f"\n         WHERE vec_id < {sim.N_CENTROIDS} AND {index_where}"
    return f"""WITH {_EMB_CTE.strip()},
{_ivf_assign_ctes(cent_where)},
{_ivf_members_ctes(sim.NPROBE)},
sub_all AS MATERIALIZED (
    SELECT vec_id, s.s, nv[s.s * {_SUBD} + 1 : s.s * {_SUBD} + {_SUBD}] AS sv
    FROM b CROSS JOIN (
        SELECT unnest([{_SUBSPACES}]) AS s) s(s)
),
sub AS MATERIALIZED (
    SELECT sub_all.* FROM sub_all JOIN b USING (vec_id) WHERE {index_where}
),
{train_sql},
{_pq_encode_ctes("sub_all", final)},
{_ivfpq_rerank(pq.PQ_RERANK, pq.PQ_K)}"""


@register(
    "sim_ivfpq_index_add_query",
    oracle=_ivfpq_add_sql(),
    tags=("similarity", "ann", "ivf", "pq", "index", "persisted",
          "maintenance", "topk"),
    bench=True,
    doc="IVF-PQ index ADD path (operators/pq_index.py::"
    "ensure_ivfpq_index with one batch, added by add_to_ivfpq_index "
    "— VERDICT r10 next-round #4: a row-count change used to "
    "rebuild from scratch; FAISS separates train() from add()). The index is "
    "built over 80%% of the corpus (vec_id%%10<8 — training and "
    "centroid seeding see ONLY these), then the remaining 20%% is "
    "ADDED: encoded with the FROZEN persisted codebooks, routed to "
    "the FROZEN persisted centroids, and APPENDED to the codes/"
    "vectors inverted-list partition directories — no retraining, "
    "no stored row rewritten, add cost batch-proportional (one "
    "batch-sized encode + a broadcast-8-row routing pass) vs the "
    "corpus-sized rebuild. The query then probes the GROWN index "
    "through the unchanged partition-pruned path. Oracle: the full "
    "Lloyd replay restricted to the index subset (the frozen-"
    "quantizer state) with encode/routing/ADC/rerank over the grown "
    "corpus. Unchanged-vector bit-identity and grown-corpus recall "
    "pinned in tests/test_pq.py.",
)
def sim_ivfpq_index_add_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_index_topk(
        spark, sf_dir, "ivfpq_index_add", _residue_preds(8), compact=False
    )


@register(
    "sim_ivfpq_index_lifecycle",
    oracle=_ivfpq_add_sql(index_where="vec_id % 10 < 6"),
    tags=("similarity", "ann", "ivf", "pq", "index", "persisted",
          "maintenance", "lifecycle", "topk"),
    bench=True,
    doc="STEADY-STATE IVF-PQ index lifecycle (operators/pq_index.py::"
    "ensure_ivfpq_index with two batches and compaction — VERDICT "
    "r11 'What's missing' #2: "
    "the r11 ledger pinned adds==1, so no registered query ran the "
    "served-index loop). Build over 60%% of the corpus (vec_id%%10<6 "
    "— training and centroid seeding see ONLY these), then TWO add "
    "batches (%%10 in 6,7 then %%10 in 8,9) encode with the frozen "
    "codebooks, route against the frozen centroids, and append to "
    "the inverted-list partition directories; the fragmented lists "
    "(one file per add per touched list) are then COMPACTED "
    "(functions/compaction.py — bit-identical rewrite; the shared "
    "ledger is written once after it) and the query probes the "
    "grown, compacted index "
    "through the unchanged partition-pruned path. Because the "
    "quantizer is frozen, add(b1); add(b2) lands the identical "
    "stored rows as one combined add, so the oracle is the single "
    "frozen-quantizer replay (Lloyd restricted to the index subset; "
    "encode/routing/ADC/rerank over the grown corpus) regardless of "
    "batch count. Ledger replay refusal and post-compaction "
    "bit-identity pinned in tests/test_compaction.py.",
)
def sim_ivfpq_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_index_topk(
        spark, sf_dir, "ivfpq_index_lifecycle", _residue_preds(6, 8),
        compact=True,
    )


@register(
    "text_lines_roundtrip",
    oracle=r"""SELECT
    count(*) AS n_lines,
    CAST(sum(len(text)) AS BIGINT) AS total_chars,
    CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
        AS content_fp
FROM documents
""",
    tags=("sink", "text", "roundtrip", "llm-pipeline"),
    doc="Plain-text line sink roundtrip — the NATIVE LLM-corpus "
    "format (one document per line, the shape every public text "
    "dump ships as): documents.text exported via the built-in text "
    "sink, read back with spark.read.text, and reduced to "
    "(line count, total chars, order-insensitive md5-int32 content "
    "sum). The oracle replays the reduction from the ORIGINAL "
    "parquet, so the value hash proves the export/reread cycle is "
    "line- and byte-exact (s11_json_export_roundtrip's proof shape "
    "for the third sink format). Precondition, verified for this "
    "corpus and documented as the format's contract: document text "
    "contains no newline/CR (a line sink cannot carry them — real "
    "pipelines escape or JSONL such docs). Scale: both legs are "
    "full-parallel file IO; the reduction is one map-side-combined "
    "aggregate with exact integer arithmetic.",
)
def text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.hashing import md5_int32

    path = _roundtrip_path("txt_documents", sf_dir)
    docs = catalog.load_table(spark, sf_dir, "documents")
    docs.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.sum(md5_int32(F.col("value"))).cast("bigint").alias("content_fp"),
    )
