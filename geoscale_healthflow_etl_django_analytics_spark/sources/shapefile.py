"""S3 — pure-Python ESRI shapefile (.shp/.dbf) parser.

The shapefile binary layout is public (ESRI Shapefile Technical
Description, 1998): a 100-byte .shp header (big-endian file code
9994, little-endian shape type at offset 32), then records of
(big-endian record header, little-endian geometry). Attributes live
in a dBase-III .dbf: 32-byte header (record count at offset 4,
header/record sizes at 8/10), 32-byte field descriptors until 0x0D,
then fixed-width records. This module parses the shape types the
reference's admin-boundary uploads contain — Point (1), PolyLine
(3), Polygon (5), MultiPoint (8) — to WKT strings.

Replaces the gpd.read_file step of the reference's upload path
(country_adm_boundaries_upload_views.py:31-112) including its
village-level selection heuristic (filename keywords +10, name-column
indicators +20, feature count +5). One uploaded ZIP parses at the
driver (bounded — the reference's HTTP upload path); a lake of zips
would fan out via binaryFile + mapInPandas exactly like
xlsx.read_excel_many.
"""

from __future__ import annotations

import io
import struct
import zipfile

VILLAGE_FILENAME_KEYWORDS = (
    "village", "villages", "settlements", "locality", "localities",
    "ward", "wards", "commune", "communes", "parish", "parishes",
    "hamlet", "hamlets", "town", "towns", "community", "communities",
    "adm4", "adm5", "level4", "level5", "lowest", "smallest",
    "cell", "cells", "sector", "sectors",
)

VILLAGE_COLUMN_INDICATORS = (
    "village", "village_name", "villagename", "vill_name",
    "settlement", "locality", "community", "ward",
    "name", "nom", "nome", "nazwa", "cell_name",
    "sector_name", "commune_name",
)


def _fmt(x: float) -> str:
    """WKT coordinate formatting: integral values without trailing .0."""
    return str(int(x)) if float(x).is_integer() else repr(x)


def _ring_wkt(points: list[tuple[float, float]]) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in points) + ")"


def _read_parts(buf: bytes, off: int) -> tuple[list[list[tuple[float, float]]], int]:
    """Shared PolyLine/Polygon body: bbox, numparts, numpoints, part
    offsets, xy pairs → list of parts (point lists)."""
    num_parts, num_points = struct.unpack_from("<ii", buf, off + 36)
    parts = list(
        struct.unpack_from(f"<{num_parts}i", buf, off + 44)
    )
    pts_off = off + 44 + 4 * num_parts
    flat = struct.unpack_from(f"<{2 * num_points}d", buf, pts_off)
    pts = [(flat[2 * i], flat[2 * i + 1]) for i in range(num_points)]
    bounds = parts + [num_points]
    return [pts[bounds[i] : bounds[i + 1]] for i in range(num_parts)], pts_off


def _is_clockwise(points: list[tuple[float, float]]) -> bool:
    """Shoelace winding test: positive doubled signed area under the
    (x2-x1)(y2+y1) form means clockwise — ESRI's exterior-ring
    orientation."""
    s = 0.0
    for i in range(len(points) - 1):
        (x1, y1), (x2, y2) = points[i], points[i + 1]
        s += (x2 - x1) * (y2 + y1)
    return s > 0


def _shape_wkt(buf: bytes, off: int) -> str | None:
    shape_type = struct.unpack_from("<i", buf, off)[0]
    if shape_type == 0:
        return None
    if shape_type == 1:
        x, y = struct.unpack_from("<2d", buf, off + 4)
        return f"POINT ({_fmt(x)} {_fmt(y)})"
    if shape_type == 8:
        n = struct.unpack_from("<i", buf, off + 36)[0]
        flat = struct.unpack_from(f"<{2 * n}d", buf, off + 40)
        pts = [(flat[2 * i], flat[2 * i + 1]) for i in range(n)]
        return "MULTIPOINT " + _ring_wkt(pts)
    if shape_type == 3:
        parts, _ = _read_parts(buf, off)
        if len(parts) == 1:
            return "LINESTRING " + _ring_wkt(parts[0])
        return "MULTILINESTRING (" + ", ".join(_ring_wkt(p) for p in parts) + ")"
    if shape_type == 5:
        parts, _ = _read_parts(buf, off)
        # ESRI polygons distinguish rings by winding: clockwise =
        # exterior, counter-clockwise = hole of the preceding exterior.
        # Multiple exteriors (islands/exclaves — common in admin
        # boundaries) are a MULTIPOLYGON, not extra rings of one
        # POLYGON.
        polys: list[list[list[tuple[float, float]]]] = []
        for p in parts:
            if _is_clockwise(p) or not polys:
                polys.append([p])
            else:
                polys[-1].append(p)
        if len(polys) == 1:
            return "POLYGON (" + ", ".join(_ring_wkt(r) for r in polys[0]) + ")"
        return (
            "MULTIPOLYGON ("
            + ", ".join(
                "(" + ", ".join(_ring_wkt(r) for r in rings) + ")" for rings in polys
            )
            + ")"
        )
    raise ValueError(f"unsupported shape type {shape_type}")


def parse_shp_bytes(data: bytes) -> list[str | None]:
    """WKT geometry per record, in file order (None for null shapes)."""
    if struct.unpack_from(">i", data, 0)[0] != 9994:
        raise ValueError("not a .shp file (bad file code)")
    out: list[str | None] = []
    pos = 100
    while pos + 8 <= len(data):
        _, content_words = struct.unpack_from(">ii", data, pos)
        out.append(_shape_wkt(data, pos + 8))
        pos += 8 + 2 * content_words
    return out


def parse_dbf_bytes(
    data: bytes,
) -> tuple[list[tuple[str, str, int, int]], list[dict | None]]:
    """(fields, records) from dBase-III bytes. fields = (name, type,
    length, decimals); records = dicts with C→str, N/F→int/float,
    L→bool, other→str (all None when blank). Deleted records ('*'
    flag) are kept as None PLACEHOLDERS — geometries are paired to
    attributes by position, and silently dropping a deleted record
    would shift every subsequent feature's properties onto the wrong
    geometry."""
    n_records = struct.unpack_from("<I", data, 4)[0]
    header_size, record_size = struct.unpack_from("<HH", data, 8)
    fields: list[tuple[str, str, int, int]] = []
    off = 32
    while off < header_size - 1 and data[off] != 0x0D:
        name = data[off : off + 11].split(b"\x00")[0].decode("ascii", "replace")
        ftype = chr(data[off + 11])
        length, decimals = data[off + 16], data[off + 17]
        fields.append((name, ftype, length, decimals))
        off += 32
    records: list[dict | None] = []
    for r in range(n_records):
        base = header_size + r * record_size
        if data[base : base + 1] == b"*":  # deleted record flag
            records.append(None)
            continue
        rec: dict = {}
        fo = base + 1
        for name, ftype, length, decimals in fields:
            raw = data[fo : fo + length].decode("latin-1").strip()
            fo += length
            if raw == "":
                rec[name] = None
            elif ftype in ("N", "F"):
                rec[name] = float(raw) if (decimals or "." in raw) else int(raw)
            elif ftype == "L":
                rec[name] = raw.upper() in ("T", "Y")
            else:
                rec[name] = raw
        records.append(rec)
    return fields, records


def score_shp_candidates(
    names_and_columns: list[tuple[str, list[str], int]],
) -> list[tuple[int, str]]:
    """Village-level priority per the reference heuristic: +10 per
    filename keyword hit, +20 for one name-column indicator, +5 when
    the feature count exceeds 100. Returns (score, name) sorted
    best-first (stable on ties, like the reference's list sort)."""
    scored = []
    for name, columns, n_features in names_and_columns:
        low = name.lower()
        score = sum(10 for kw in VILLAGE_FILENAME_KEYWORDS if kw in low)
        cols = [c.lower() for c in columns]
        for ind in VILLAGE_COLUMN_INDICATORS:
            if any(ind in c for c in cols):
                score += 20
                break
        if n_features > 100:
            score += 5
        scored.append((score, name))
    return sorted(scored, key=lambda s: -s[0])


def write_shp_bytes(shapes: list[list[list[tuple[float, float]]]]) -> bytes:
    """Inverse of :func:`parse_shp_bytes` for polygon layers: each
    shape is a list of rings (parts). Minimal spec subset — header
    file code + record headers + type-5 bodies; used to round-trip
    the parser and to generate deterministic upload fixtures for the
    registered S3 end-to-end query."""
    records = b""
    for i, parts in enumerate(shapes):
        all_pts = [p for part in parts for p in part]
        content = struct.pack("<i", 5)
        content += struct.pack("<4d", 0, 0, 0, 0)
        content += struct.pack("<ii", len(parts), len(all_pts))
        off = 0
        for part in parts:
            content += struct.pack("<i", off)
            off += len(part)
        for x, y in all_pts:
            content += struct.pack("<2d", x, y)
        records += struct.pack(">ii", i + 1, len(content) // 2) + content
    return struct.pack(">i", 9994) + b"\x00" * 96 + records


def write_dbf_bytes(field_names: list[str], rows: list[list[str] | None]) -> bytes:
    """Inverse of :func:`parse_dbf_bytes` for character fields; a None
    row is written as a deleted record ('*' flag, blank body).

    Values must fit the 20-byte ASCII fields — an over-long or
    non-ASCII value raises up front instead of silently misaligning
    every subsequent fixed-width record on parse-back."""
    field_len = 20
    for row in rows:
        for v in row or ():
            try:
                enc = v.encode("ascii")
            except UnicodeEncodeError:
                raise ValueError(
                    f"dbf character field value {v!r} is not ASCII"
                ) from None
            if len(enc) > field_len:
                raise ValueError(
                    f"dbf value {v!r} exceeds field length {field_len}"
                )
    fields = b""
    for name in field_names:
        fields += name.encode("ascii").ljust(11, b"\x00") + b"C"
        fields += b"\x00" * 4 + bytes([field_len, 0]) + b"\x00" * 14
    header_size = 32 + len(fields) + 1
    record_size = 1 + field_len * len(field_names)
    header = struct.pack(
        "<BBBBIHH", 3, 26, 8, 13, len(rows), header_size, record_size
    ) + b"\x00" * 20
    body = b""
    for row in rows:
        if row is None:
            body += b"*" + b" " * (record_size - 1)
        else:
            body += b" " + b"".join(
                v.encode("ascii").ljust(field_len) for v in row
            )
    return header + fields + b"\x0d" + body


def write_shapefile_zip_bytes(
    members: dict[str, tuple[list, list[str], list]],
) -> bytes:
    """Zip of .shp/.dbf pairs: members maps layer name →
    (shapes, field_names, dbf_rows); shapes as in
    :func:`write_shp_bytes`."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, (shapes, field_names, dbf_rows) in members.items():
            zf.writestr(f"{name}.shp", write_shp_bytes(shapes))
            if field_names:
                zf.writestr(f"{name}.dbf", write_dbf_bytes(field_names, dbf_rows))
    return buf.getvalue()


def parse_shapefile_zip_bytes(data: bytes) -> tuple[str, list[dict]]:
    """(selected .shp name, feature rows) from a zipped shapefile set.
    Each row = dbf properties + 'geometry' WKT."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    shp_names = [n for n in zf.namelist() if n.lower().endswith(".shp")]
    if not shp_names:
        raise ValueError("zip contains no .shp member")
    candidates = []
    parsed: dict[str, tuple[list, list]] = {}
    for n in shp_names:
        geoms = parse_shp_bytes(zf.read(n))
        dbf_name = n[:-4] + ".dbf"
        fields, records = ([], [])
        if dbf_name in zf.namelist():
            fields, records = parse_dbf_bytes(zf.read(dbf_name))
        parsed[n] = (geoms, records)
        candidates.append((n, [f[0] for f in fields], len(geoms)))
    best = score_shp_candidates(candidates)[0][1]
    geoms, records = parsed[best]
    rows = []
    for i, wkt in enumerate(geoms):
        props = records[i] if i < len(records) and records[i] is not None else {}
        rows.append({**props, "geometry": wkt})
    return best, rows
