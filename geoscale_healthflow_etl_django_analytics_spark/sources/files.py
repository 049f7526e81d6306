"""File-format sources & sinks — SURVEY.md §2.1 S1-S4, S9-S11.

S1 (CSV with encoding detection) is fully implemented: Spark's CSV
reader handles the parse distributed-side; encoding sniffing (the
reference reads the raw bytes through chardet,
`health_center_lab__data_upload_views.py:55-70`) happens on a bounded
prefix at the driver, which is exactly what chardet does.

S2 (Excel) and S3 (shapefile-ZIP) are implemented with pure-stdlib
parsers over the public file formats (sources/xlsx.py ECMA-376,
sources/shapefile.py ESRI spec) — no openpyxl/geopandas needed. One
uploaded file parses at the driver (the reference's HTTP-upload
shape, bounded); many files fan out distributed via binaryFile +
mapInPandas (read_excel_many).

S4 (GeoTIFF polygonize) still needs rasterio (absent); it stays a
gated stub with the contract documented. S9/S10 (Mongo/Elasticsearch
sinks) are connector-format writes whose jars are not present; S11
(JSON export) is native.
"""

from __future__ import annotations

import codecs
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from . import shapefile as shp
from . import xlsx

_BOM_TO_ENCODING = (
    (codecs.BOM_UTF8, "UTF-8"),
    (codecs.BOM_UTF16_LE, "UTF-16LE"),
    (codecs.BOM_UTF16_BE, "UTF-16BE"),
)


def sniff_encoding(path: str) -> str:
    """S1 — bounded-prefix (64 KiB) encoding detection. Uses chardet when
    available (the reference's exact dependency); falls back to
    BOM + utf-8-vs-latin-1 probing."""
    with open(path, "rb") as f:
        head = f.read(64 * 1024)
    for bom, enc in _BOM_TO_ENCODING:
        if head.startswith(bom):
            return enc
    try:
        import chardet

        guess = chardet.detect(head)
        if guess.get("encoding"):
            return guess["encoding"]
    except ImportError:
        pass
    try:
        head.decode("utf-8")
        return "UTF-8"
    except UnicodeDecodeError:
        return "ISO-8859-1"


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — CSV scan with a header row, inferred types and a sniffed
    encoding (health_center_lab__data_upload_views.py:55-70 and two
    siblings). Schema-on-read like the reference: whatever columns
    arrive are kept; the tolerant alias resolution happens downstream
    (sources/semantic.py-style coalesce chains)."""
    return (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("encoding", sniff_encoding(path))
        .csv(path)
    )


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """S2 — Excel scan (health_center_lab__data_upload_views.py:72-73,
    pd.read_excel). Pure-stdlib ECMA-376 parse (sources/xlsx.py):
    header row → column names, numeric cells → double, string cells →
    string. Driver-side for one uploaded workbook (bounded, mirrors
    the reference's HTTP upload); use read_excel_many for a lake."""
    with open(path, "rb") as f:
        header, rows = xlsx.parse_xlsx_bytes(f.read())
    return spark.createDataFrame(
        [tuple(r) for r in rows], schema=[h or f"col_{i}" for i, h in enumerate(header)]
    )


def read_excel_many(spark: SparkSession, path_glob: str, columns: list[str]) -> DataFrame:
    """S2 at scale — distributed workbook ingest: binaryFile scan +
    mapInPandas, one Python worker per partition of files, nothing
    serialized through the driver. Cells surface as strings matched to
    ``columns`` by header name (schema-on-read; typed coercion happens
    downstream, C1-C8-style)."""
    import pandas as pd

    out_schema = ", ".join(
        ["_file string"] + [f"`{c}` string" for c in columns]
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"_file": []}
            for c in columns:
                out[c] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                header, rows = xlsx.parse_xlsx_bytes(bytes(content))
                idx = {h: i for i, h in enumerate(header)}
                for r in rows:
                    out["_file"].append(path)
                    for c in columns:
                        v = r[idx[c]] if c in idx and idx[c] < len(r) else None
                        out[c].append(None if v is None else str(v))
            yield pd.DataFrame(out)

    files = spark.read.format("binaryFile").load(path_glob)
    return files.select("path", "content").mapInPandas(_parse, out_schema)


def read_shapefile_zip(spark: SparkSession, path: str) -> DataFrame:
    """S3 — shapefile-ZIP scan (country_adm_boundaries_upload_views.py:
    31-112): unzip, pick the village-level .shp by the reference's
    priority heuristic, parse features. Pure-Python over the public
    ESRI binary layout (sources/shapefile.py). Rows = dbf property
    columns + 'geometry' WKT string."""
    with open(path, "rb") as f:
        _, rows = shp.parse_shapefile_zip_bytes(f.read())
    if not rows:
        raise ValueError(f"no features in {path}")
    cols = list(rows[0].keys())
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema=cols
    )


def read_geotiff_pixels(spark: SparkSession, path: str) -> DataFrame:
    """S4 — GeoTIFF scan (SlopeGeoJsonUploadView.py:195-321, the
    rasterio.open step): single-band strip-organized raster
    (uncompressed or deflate-compressed) to (i, j, px, py, value)
    pixel rows with model-space centers from the GeoTIFF affine
    (sources/geotiff.py, pure-stdlib TIFF 6.0 + OGC GeoTIFF subset).
    Driver-side for one uploaded raster (bounded — the reference's
    HTTP upload path); a lake of rasters would fan out via binaryFile
    + mapInPandas exactly like xlsx.read_excel_many. Deflate and LZW
    compression both decode in pure stdlib (sources/lzw.py)."""
    from . import geotiff as gt

    with open(path, "rb") as f:
        g = gt.parse_geotiff_bytes(f.read())
    w = g["width"]
    rows = [
        (
            i,
            j,
            g["origin_x"] + (i + 0.5) * g["px_size_x"],
            g["origin_y"] + (j + 0.5) * g["px_size_y"],
            g["values"][j * w + i],
        )
        for j in range(g["height"])
        for i in range(w)
    ]
    return spark.createDataFrame(
        rows, "i int, j int, px double, py double, pixel_value double"
    )


def read_geotiff_polygons(spark: SparkSession, path: str) -> DataFrame:
    """S4 — GeoTIFF polygonize (SlopeGeoJsonUploadView.py:254,
    rasterio.features.shapes): vectorize to (geometry WKT, value)
    rows. This emits the maximal-granularity polygonize — one square
    polygon per pixel — which composes identically into every
    downstream (geometry, value) consumer (zonal stats, slope class);
    merging connected same-value regions into single rings is the
    rasterio path and stays out of scope."""
    px_rows = read_geotiff_pixels(spark, path)
    from pyspark.sql import functions as F

    def fmt(c):
        # %f (not format_number): no thousands separators in WKT
        return F.format_string("%.6f", c)

    x0, x1 = F.col("px") - 0.5, F.col("px") + 0.5
    y0, y1 = F.col("py") - 0.5, F.col("py") + 0.5
    wkt = F.concat(
        F.lit("POLYGON (("),
        fmt(x0), F.lit(" "), fmt(y0), F.lit(", "),
        fmt(x1), F.lit(" "), fmt(y0), F.lit(", "),
        fmt(x1), F.lit(" "), fmt(y1), F.lit(", "),
        fmt(x0), F.lit(" "), fmt(y1), F.lit(", "),
        fmt(x0), F.lit(" "), fmt(y0),
        F.lit("))"),
    )
    return px_rows.select(wkt.alias("geometry"), F.col("pixel_value").alias("value"))


def write_json(df: DataFrame, path: str) -> None:
    """S11 — JSON/GeoJSON-lines export (batch_processor.py:497-556),
    overwriting ``path``."""
    df.write.mode("overwrite").json(path)


def write_mongo(df: DataFrame, uri: str, collection: str) -> None:
    """S9 — Mongo batch sink (mongo_saver.py:136-218). Needs the
    mongo-spark connector on the classpath."""
    raise NotImplementedError(
        'S9: df.write.format("mongodb").option("connection.uri", uri)'
        '.option("collection", collection) — connector jar not present'
    )


def write_elasticsearch(df: DataFrame, nodes: str, index: str) -> None:
    """S10 — Elasticsearch geo sink (geoJson_slope_etl_view.py:62-113).
    Needs elasticsearch-hadoop on the classpath."""
    raise NotImplementedError(
        'S10: df.write.format("es").option("es.nodes", nodes) — '
        "connector jar not present"
    )
