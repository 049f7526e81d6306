"""The three benchmark workloads and their output checks.

A workload makes its inputs in ``setup`` (from the run's seed, inside
the run's work directory), names its op kinds, runs one op of a kind
through the package's public functions, and checks the op's output
against expected values it fixed in set-up.  Every call into a layer of
the package sits inside a tracer span named after that layer.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import shutil
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))

# Staging/audit columns the staging layer adds; they carry the write's
# filter context and wall-clock stamp, not analytic content.
STAGING_COLS = ("filter_district", "filter_sector", "filter_years", "created_at")


# ---------------------------------------------------------------------------
# order-insensitive value hash, shared by every check
# ---------------------------------------------------------------------------


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if isinstance(v, (bool, int, str)):
        return v
    if hasattr(v, "isoformat"):
        try:
            import pandas as pd

            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass
        return v.isoformat()
    return repr(v)


def digest(pdf) -> list:
    """``[row count, hash]`` of a pandas frame, independent of row and
    column order and of int/float spelling of integral values."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_norm(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha1(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return [len(rows), h.hexdigest()[:16]]


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _duckdb(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class Workload:
    name = ""
    kinds: list[str] = []
    # measured passes a run makes even after --seconds have passed: a
    # run that stopped after one pass on a slow box and after two on a
    # fast one would report a different op mix
    min_passes = 1

    def __init__(self, spark, work_dir: str, seed: int, tracer, small: bool = False):
        self.spark, self.work, self.seed, self.tracer = spark, work_dir, seed, tracer
        # small inputs for the self-test: sf0.01-sized tables, small uploads
        self.scale = 0.1 if small else 1.0
        self.gen_s: dict[str, float] = {}  # input generation, per layer metric
        self.staged_bytes: list[int] = []  # bytes each op wrote to staging
        self.bytes_in = 0
        self.bytes_written = 0
        self.changed = 0  # inserted + updated rows over all upserts
        self.rewritten = 0  # rows written by all upserts

    def setup(self) -> None:
        raise NotImplementedError

    def run_op(self, kind: str):
        raise NotImplementedError

    def check(self, kind: str, result) -> bool:
        raise NotImplementedError


class _RegistryWorkload(Workload):
    """Ops are registered queries: build the DataFrame through the
    registry builder, then execute it into the sink (an Arrow collect,
    so the check sees the op's own output)."""

    def run_op(self, kind: str):
        from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

        with self.tracer.span("build"):
            df = REGISTRY[kind].builder(self.spark, self.data_dir)
        with self.tracer.span("exec"):
            return df.toPandas()

    def check(self, kind: str, result) -> bool:
        return digest(result) == self.expected[kind]


class Dashboard(_RegistryWorkload):
    """Dashboard and analytics queries at sf0.1, each checked against
    its registered DuckDB oracle evaluated on the same generated data."""

    name = "dashboard"
    kinds = [
        "hc_a1_yearly_slide_status",
        "hc_a4_daily_positivity",
        "hc_a17_dashboard_kpis",
        "hc_rollup_positivity",
        "wx_j1_precip_temp_merge",
        "api_a11_summary",
        "pricing_q6_forecast",
        "geo_j6_zonal_stats",
    ]
    tables = ("region", "nation", "customer", "orders", "lineitem", "events")

    def setup(self) -> None:
        from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

        self.data_dir = os.path.join(self.work, "sf0.1")
        t0 = time.perf_counter()
        datagen.write_star_schema(self.data_dir, self.seed, self.tables, self.scale)
        self.gen_s["inputs.gen_s"] = time.perf_counter() - t0
        con = _duckdb(self.data_dir, self.tables)
        try:
            self.expected = {
                q: digest(con.execute(REGISTRY[q].oracle).fetchdf()) for q in self.kinds
            }
        finally:
            con.close()


class CurationBatch(_RegistryWorkload):
    """A split query, build-heavy, and an LM-apply query, sink-heavy,
    over a scalegen corpus, checked against digests from a reference
    run."""

    name = "curation_batch"
    kinds = ["curation_leakage_safe_split", "text_lm_apply_pretrained"]
    multiplier = 1

    def setup(self) -> None:
        from geoscale_healthflow_etl_django_analytics_spark import scalegen

        self.data_dir = os.path.join(self.work, f"x{self.multiplier}")
        t0 = time.perf_counter()
        scalegen.write_scale_dir(
            self.spark, self.data_dir, self.multiplier, only=("documents",)
        )
        self.gen_s["scalegen.gen_s"] = time.perf_counter() - t0
        with open(os.path.join(HERE, "expected_curation.json")) as f:
            ref = json.load(f)
        self.expected = ref[f"x{self.multiplier}"]


class EtlIngest(Workload):
    """Upload -> clean -> upsert -> staged write -> read-back, a raster
    ingest, and the API-calculator ETL pipeline.  The expected staged
    state is kept as a model in Python; the pipeline's output is checked
    against the registered DuckDB oracle over the same inputs."""

    name = "etl_ingest"
    kinds = ["lab_upsert", "raster_ingest", "pipeline_api"]
    min_passes = 2
    tables = ("nation", "customer", "orders")  # what the API pipeline reads
    lab_cols = ["record_id", "village", "gender", "age", "age_group", "month",
                "test_result", "is_positive"]

    def setup(self) -> None:
        from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

        self.data_dir = os.path.join(self.work, "sf0.1")
        self.out_dir = os.path.join(self.work, "staging")
        t0 = time.perf_counter()
        datagen.write_star_schema(self.data_dir, self.seed, self.tables, self.scale)
        self.uploads, self.rasters = datagen.write_upload_lake(
            os.path.join(self.work, "uploads"), self.seed,
            rows_per_upload=int(4000 * self.scale),
        )
        self.gen_s["inputs.gen_s"] = time.perf_counter() - t0
        self.table_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in self.tables
        )
        con = _duckdb(self.data_dir, self.tables)
        try:
            self.expected = digest(
                con.execute(REGISTRY["api_c10_by_nation_year"].oracle).fetchdf()
            )
        finally:
            con.close()
        self.model: dict[int, tuple] = {}  # record_id -> clean row
        self.lab_version = 0
        self.lab_path = None
        self.cursor = {"lab": 0, "raster": 0}

    # -- ops -----------------------------------------------------------------

    def run_op(self, kind: str):
        if kind == "lab_upsert":
            return self._upsert()
        if kind == "raster_ingest":
            return self._raster()
        return self._pipeline()

    def _next(self, key: str, items: list):
        """The next input of a kind, round robin."""
        item = items[self.cursor[key] % len(items)]
        self.cursor[key] += 1
        return item

    def _clean(self, raw):
        from pyspark.sql import functions as F

        from geoscale_healthflow_etl_django_analytics_spark.functions import (
            cleaning as cl,
        )

        age = cl.clean_age(F.col("age_raw"))
        tr = cl.interpret_test_result(F.col("slide_raw"))
        return raw.select(
            F.col("record_id").try_cast("double").cast("long").alias("record_id"),
            cl.clean_text(F.col("village_raw")).alias("village"),
            cl.clean_gender(F.col("gender_raw")).alias("gender"),
            age.alias("age"),
            cl.categorize_age(age).alias("age_group"),
            cl.clean_month(F.col("month_raw")).alias("month"),
            tr.alias("test_result"),
            (tr == "Positive").cast("int").alias("is_positive"),
        )

    def _upsert(self):
        from pyspark.sql import functions as F

        from geoscale_healthflow_etl_django_analytics_spark.operators import (
            staging,
            upsert,
        )
        from geoscale_healthflow_etl_django_analytics_spark.sources import files

        up = self._next("lab", self.uploads)
        spark = self.spark
        with self.tracer.span("parse"):
            parts = [files.read_csv(spark, p) for p in up.csv_paths]
            parts.append(files.read_excel_many(spark, up.xlsx_glob, datagen.LAB_COLUMNS))
            # CSV columns arrive typed, workbook cells as strings
            cols = [F.col(c).cast("string") for c in datagen.LAB_COLUMNS]
            raw = functools.reduce(
                lambda a, b: a.unionByName(b), (p.select(*cols) for p in parts)
            )
            updates = self._clean(raw)
        with self.tracer.span("merge"):
            if self.lab_path is None:
                existing = spark.createDataFrame([], updates.schema)
            else:
                existing = spark.read.parquet(self.lab_path).select(*self.lab_cols)
            merged = upsert.merge_upsert(existing, updates, ["record_id"])
        self.lab_version += 1
        name = f"lab_v{self.lab_version}"
        with self.tracer.span("write"):
            path = staging.write_staging(merged, self.out_dir, name)
        with self.tracer.span("read"):
            counts = {
                r["merge_action"]: r["n"]
                for r in upsert.merge_counts(spark.read.parquet(path)).collect()
            }
        written = _dir_bytes(path)
        self.bytes_in += up.bytes_in
        self.bytes_written += written
        self.staged_bytes.append(written)
        prev, self.lab_path = self.lab_path, path
        return {"upload": up, "counts": counts, "path": path, "prev": prev}

    def _raster(self):
        from pyspark.sql import functions as F

        from geoscale_healthflow_etl_django_analytics_spark.functions import (
            cleaning as cl,
        )
        from geoscale_healthflow_etl_django_analytics_spark.operators import upsert
        from geoscale_healthflow_etl_django_analytics_spark.sources import files

        r = self._next("raster", self.rasters)
        path = os.path.join(self.out_dir, "slope_classes")
        with self.tracer.span("parse"):
            px = files.read_geotiff_pixels(self.spark, r.path)
        classes = (
            px.select(cl.slope_class(F.col("pixel_value")).alias("slope_class"))
            .groupBy("slope_class")
            .agg(F.count("*").alias("n_pixels"))
            .withColumn("raster", F.lit(r.name))
        )
        with self.tracer.span("write"):
            upsert.overwrite_partitions(classes, path, ["raster"])
        with self.tracer.span("read"):
            got = {
                row["slope_class"]: row["n_pixels"]
                for row in self.spark.read.parquet(path)
                .filter(F.col("raster") == r.name)
                .collect()
            }
        written = _dir_bytes(os.path.join(path, f"raster={r.name}"))
        self.bytes_in += r.bytes_in
        self.bytes_written += written
        self.staged_bytes.append(written)
        return {"raster": r, "counts": got}

    def _pipeline(self):
        from geoscale_healthflow_etl_django_analytics_spark import pipelines

        out = os.path.join(self.out_dir, "pipeline_api")
        with self.tracer.span("pipeline"):
            resp = pipelines.api_calculator_etl(self.spark, self.data_dir, out)
        written = _dir_bytes(out)
        self.bytes_in += self.table_bytes  # it reads every table set-up wrote
        self.bytes_written += written
        self.staged_bytes.append(written)
        return {"resp": resp, "out": out}

    # -- checks --------------------------------------------------------------

    def _staged(self, path: str):
        df = self.spark.read.parquet(path)
        return df.drop(*[c for c in STAGING_COLS if c in df.columns]).toPandas()

    def check(self, kind: str, result) -> bool:
        if kind == "lab_upsert":
            return self._check_upsert(result)
        if kind == "raster_ingest":
            return result["counts"] == result["raster"].class_counts
        if result["resp"].get("status") != "success":
            return False
        return digest(self._staged(os.path.join(result["out"], "malaria_api"))) == self.expected

    def _check_upsert(self, result) -> bool:
        import pandas as pd

        up, counts = result["upload"], result["counts"]
        ids = set(up.clean)
        want = {
            "inserted": len(ids - self.model.keys()),
            "updated": len(ids & self.model.keys()),
            "kept": len(self.model.keys() - ids),
        }
        self.model.update(up.clean)
        self.changed += want["inserted"] + want["updated"]
        self.rewritten += len(self.model)
        staged = self._staged(result["path"]).drop(columns=["merge_action"])
        expect = pd.DataFrame(
            [(rid, *row) for rid, row in self.model.items()], columns=self.lab_cols
        )
        if result["prev"]:
            shutil.rmtree(result["prev"], ignore_errors=True)
        got = {k: counts.get(k, 0) for k in want}
        return got == want and digest(staged) == digest(expect)


WORKLOADS = {w.name: w for w in (Dashboard, EtlIngest, CurationBatch)}
