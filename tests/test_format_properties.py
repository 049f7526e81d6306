"""Property-based round-trips for the pure-stdlib binary format
writers/parsers (xlsx, shapefile, GeoTIFF): write(x) then parse must
reproduce x for arbitrary spec-conformant inputs, not just the
fixtures the example tests use. All driver-side (no Spark jobs), so
hypothesis can run many examples cheaply."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from geoscale_healthflow_etl_django_analytics_spark.sources import (
    geotiff as gt,
    shapefile as shp,
    xlsx,
)

# printable-ASCII cell text INCLUDING XML-special chars — the writer
# escapes on the way into worksheet/sst XML, so '&', '<', '>' must
# round-trip like any other character
_txt = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=12,
)
_num = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)
_cell = st.one_of(st.none(), _txt, _num, st.booleans())


@settings(max_examples=25, deadline=None)
@given(
    header=st.lists(_txt.filter(bool), min_size=1, max_size=5, unique=True),
    n_rows=st.integers(min_value=0, max_value=6),
    data=st.data(),
)
def test_xlsx_roundtrip_property(header, n_rows, data):
    rows = [
        [data.draw(_cell) for _ in header] for _ in range(n_rows)
    ]
    got_header, got_rows = xlsx.parse_xlsx_bytes(
        xlsx.write_xlsx_bytes(header, rows)
    )
    assert got_header == header
    # parser returns floats for numeric cells; a row of all-None cells
    # is written as an empty <row> and read back as all-None
    want = [
        [float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v for v in r]
        for r in rows
    ]
    # trailing all-None columns have no cells; parser pads to the
    # widest row actually materialized
    for got, exp in zip(got_rows, want):
        padded = list(got) + [None] * (len(exp) - len(got))
        assert padded == exp
    assert len(got_rows) == n_rows


_coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
).map(lambda x: round(x, 6))


def _close(ring):
    return ring + [ring[0]]


@settings(max_examples=25, deadline=None)
@given(
    rings=st.lists(
        st.lists(st.tuples(_coord, _coord), min_size=3, max_size=8).map(_close),
        min_size=1,
        max_size=4,
    )
)
def test_shp_wkt_roundtrip_property(rings):
    """Every written ring's vertices must appear verbatim in the WKT
    (winding decides POLYGON-vs-MULTIPOLYGON grouping, never drops
    or reorders vertices)."""
    wkts = shp.parse_shp_bytes(shp.write_shp_bytes([rings]))
    assert len(wkts) == 1
    wkt = wkts[0]
    for ring in rings:
        expected = ", ".join(
            f"{shp._fmt(x)} {shp._fmt(y)}" for x, y in ring
        )
        assert expected in wkt, (expected, wkt)


@settings(max_examples=25, deadline=None)
@given(
    fields=st.lists(
        st.text(alphabet="ABCDEFGHIJ", min_size=1, max_size=8),
        min_size=1,
        max_size=4,
        unique=True,
    ),
    n_rows=st.integers(min_value=0, max_value=5),
    data=st.data(),
)
def test_dbf_roundtrip_property(fields, n_rows, data):
    val = st.text(alphabet="abcdefgh 123", min_size=0, max_size=10).map(str.strip)
    rows = [
        None
        if data.draw(st.booleans())
        else [data.draw(val) for _ in fields]
        for _ in range(n_rows)
    ]
    got_fields, got_rows = shp.parse_dbf_bytes(shp.write_dbf_bytes(fields, rows))
    assert [f[0] for f in got_fields] == fields
    assert len(got_rows) == n_rows
    for got, exp in zip(got_rows, rows):
        if exp is None:
            assert got is None  # deleted slot preserved positionally
        else:
            assert [got[f] if got[f] is not None else "" for f in fields] == exp


def test_dbf_overlong_value_raises():
    """A value longer than the 20-byte field would silently misalign every
    subsequent fixed-width record — must raise up front."""
    import pytest

    with pytest.raises(ValueError, match="exceeds field length"):
        shp.write_dbf_bytes(["NAME"], [["x" * 21]])


def test_dbf_non_ascii_value_raises():
    import pytest

    with pytest.raises(ValueError, match="not ASCII"):
        shp.write_dbf_bytes(["NAME"], [["café"]])


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
    ox=_coord,
    oy=_coord,
    step=st.floats(min_value=0.01, max_value=1000.0, allow_nan=False),
    data=st.data(),
)
def test_geotiff_roundtrip_property(w, h, ox, oy, step, data):
    vals = [
        data.draw(
            st.floats(allow_nan=False, allow_infinity=False, width=64)
        )
        for _ in range(w * h)
    ]
    compression = data.draw(st.sampled_from(["none", "deflate", "lzw"]))
    rps = data.draw(st.one_of(st.none(), st.integers(1, h)))
    g = gt.parse_geotiff_bytes(
        gt.write_geotiff_bytes(
            w, h, vals, origin_x=ox, origin_y=oy, px_size=step,
            compression=compression, rows_per_strip=rps,
        )
    )
    assert (g["width"], g["height"]) == (w, h)
    assert all(
        a == b or (math.isnan(a) and math.isnan(b))
        for a, b in zip(g["values"], vals)
    )
    assert g["origin_x"] == ox and g["origin_y"] == oy
    assert g["px_size_x"] == step and g["px_size_y"] == -step
