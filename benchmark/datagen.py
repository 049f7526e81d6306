"""Seeded input generators for the benchmark workloads.

Everything the benchmark reads is made here from the workload seed;
nothing is downloaded and nothing outside the run's work directory is
read.  Two generators:

- ``write_star_schema``: the sf0.1 star schema tables the workloads
  read (region, nation, customer, orders, lineitem, events) with the
  column names, parquet physical types and value domains the engine's
  catalog and semantic layer expect.  Row counts follow the sf0.1
  corpus.
- ``write_upload_lake``: raw lab uploads (CSV in latin-1 and in UTF-8
  with a BOM, ECMA-376 workbooks) and GeoTIFF slope rasters, plus the
  clean records each upload must normalize to, so the ETL workload can
  check its staged tables without a second engine.
"""

from __future__ import annotations

import codecs
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# part and supplier are not written; their sizes are the key domains
# of lineitem's foreign keys
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
N_USERS = 1_500

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def write_star_schema(
    out_dir: str, seed: int, tables: tuple[str, ...], scale: float = 1.0,
) -> int:
    """Write the named star schema ``tables`` for ``seed`` into
    ``out_dir`` at ``scale`` times sf0.1; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5F01])
    n = {t: max(1, int(rows * scale)) for t, rows in SF01_ROWS.items()}
    gen = {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }),
        "customer": lambda: pa.table({
            "c_custkey": np.arange(n["customer"], dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
        }),
        "orders": lambda: pa.table({
            "o_orderkey": np.arange(n["orders"], dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _ts(
                _EPOCH_1995_US + rng.integers(0, 2404, n["orders"]) * _DAY_US
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
        }),
        "lineitem": lambda: _lineitem(rng, n),
        "events": lambda: _events(rng, n["events"]),
    }
    written = 0
    for name, make in gen.items():
        if name in tables:
            written += _write(out_dir, name, make())
    return written


def _lineitem(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    rows = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], rows),
        "l_partkey": rng.integers(0, n["part"], rows),
        "l_suppkey": rng.integers(0, n["supplier"], rows),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": rng.integers(1, 51, rows).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, rows),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], rows).tolist(),
        "l_linestatus": rng.choice(["F", "O"], rows).tolist(),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, rows) * _DAY_US),
    })


def _events(rng: np.random.Generator, rows: int) -> pa.Table:
    return pa.table({
        "event_id": np.arange(rows, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, rows)),
        "user_id": rng.integers(0, N_USERS, rows),
        "event_type": rng.choice(_EVENT_TYPES, rows).tolist(),
        "value": np.round(rng.gamma(2.0, 30.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })


# ---------------------------------------------------------------------------
# raw upload lake for the ETL workload
# ---------------------------------------------------------------------------

LAB_COLUMNS = ["record_id", "village_raw", "gender_raw", "age_raw", "slide_raw", "month_raw"]

# raw token -> the value the cleaning layer must produce for it
_GENDER_RAW = {"M": "Male", " male": "Male", "MAN": "Male", "F": "Female",
               "female ": "Female", "WOMAN": "Female", "x": "Unknown"}
_SLIDE_RAW = {"POSITIVE": "Positive", "p.falciparum": "Positive",
              "neg": "Negative", "clean slide": "Negative",
              "pending": "Inconclusive", "": "Unknown"}
_MONTH_RAW = {"3": 3, "March": 3, "MAR": 3, "11": 11, "nov": 11, "13": None}
_VILLAGES = ["Butaré", "Gisôzi", "Kigali", "Nyagataré", "Huye", "Musanze",
             "Rubavu", "Rusizi", "Nyamata", "Karongi"]


def _age_group(age: int) -> str:
    for bound, label in ((5, "Under 5"), (15, "5-14"), (25, "15-24"),
                         (45, "25-44"), (65, "45-64")):
        if age < bound:
            return label
    return "65+"


@dataclass
class Upload:
    """One upload batch: two CSV files (latin-1, UTF-8 with a BOM), a
    directory of workbooks, and the clean rows the batch must yield."""

    csv_paths: list[str]
    xlsx_glob: str
    clean: dict[int, tuple] = field(default_factory=dict)
    bytes_in: int = 0


@dataclass
class Raster:
    name: str
    path: str
    class_counts: dict[str, int]
    bytes_in: int = 0


def _lab_row(rng: np.random.Generator, rid: int) -> tuple[list, tuple]:
    village = _VILLAGES[rng.integers(len(_VILLAGES))]
    pad = [" ", "  ", ""][rng.integers(3)]
    g_raw = list(_GENDER_RAW)[rng.integers(len(_GENDER_RAW))]
    s_raw = list(_SLIDE_RAW)[rng.integers(len(_SLIDE_RAW))]
    m_raw = list(_MONTH_RAW)[rng.integers(len(_MONTH_RAW))]
    age_raw = int(rng.integers(-5, 130))
    age = age_raw if 0 <= age_raw <= 120 else 30
    test = _SLIDE_RAW[s_raw]
    raw = [rid, pad + village + pad, g_raw, str(age_raw), s_raw, m_raw]
    clean = (village, _GENDER_RAW[g_raw], age, _age_group(age),
             _MONTH_RAW[m_raw], test, int(test == "Positive"))
    return raw, clean


def write_upload_lake(
    out_dir: str, seed: int, n_uploads: int = 6, rows_per_upload: int = 4000,
    n_rasters: int = 3, raster_side: int = 96,
) -> tuple[list[Upload], list[Raster]]:
    """Write ``n_uploads`` lab upload batches and ``n_rasters`` GeoTIFF
    slope rasters.  A batch spreads its rows over a latin-1 CSV, a UTF-8
    CSV with a BOM and two workbooks.  Record ids of a batch overlap the
    earlier batches' ids, so each upsert inserts some records and
    updates others."""
    from geoscale_healthflow_etl_django_analytics_spark.sources.geotiff import (
        write_geotiff_bytes,
    )
    from geoscale_healthflow_etl_django_analytics_spark.sources.xlsx import (
        write_xlsx_bytes,
    )

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0xE7])
    uploads: list[Upload] = []
    id_space = rows_per_upload * 2
    for u in range(n_uploads):
        ids = rng.choice(id_space, rows_per_upload, replace=False)
        sub = os.path.join(out_dir, f"upload{u:02d}_xlsx")
        os.makedirs(sub)
        up = Upload(csv_paths=[], xlsx_glob=os.path.join(sub, "*.xlsx"))
        rows = []
        for rid in sorted(int(i) for i in ids):
            raw, clean = _lab_row(rng, rid)
            rows.append(raw)
            up.clean[rid] = clean
        files = []
        for part, (enc, bom) in enumerate(
            (("iso-8859-1", b""), ("utf-8", codecs.BOM_UTF8))
        ):
            text = "\n".join(
                [",".join(LAB_COLUMNS)]
                + [",".join(str(v) for v in r) for r in rows[part::4]]
            ) + "\n"
            path = os.path.join(out_dir, f"upload{u:02d}_{part}.csv")
            with open(path, "wb") as f:
                f.write(bom + text.encode(enc))
            up.csv_paths.append(path)
            files.append(path)
        for part in (2, 3):
            path = os.path.join(sub, f"sheet{part}.xlsx")
            with open(path, "wb") as f:
                f.write(write_xlsx_bytes(LAB_COLUMNS, [list(r) for r in rows[part::4]]))
            files.append(path)
        up.bytes_in = sum(os.path.getsize(p) for p in files)
        uploads.append(up)

    rasters: list[Raster] = []
    for r in range(n_rasters):
        values = np.round(rng.gamma(2.0, 7.0, raster_side * raster_side), 1)
        counts: dict[str, int] = {}
        for v in values:
            cls = ("Flat" if v < 5 else "Moderate" if v < 15
                   else "Steep" if v < 30 else "Very Steep")
            counts[cls] = counts.get(cls, 0) + 1
        path = os.path.join(out_dir, f"slope{r}.tif")
        with open(path, "wb") as f:
            f.write(write_geotiff_bytes(
                raster_side, raster_side, values.tolist(),
                origin_x=30.0 + r, origin_y=-1.0, px_size=0.001,
                compression="deflate", rows_per_strip=16,
            ))
        rasters.append(Raster(f"slope{r}", path, counts, os.path.getsize(path)))
    return uploads, rasters
