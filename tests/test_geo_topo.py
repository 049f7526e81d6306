"""Topology-preserving simplify (operators/geo_topo.py) — round 8."""

from __future__ import annotations

import numpy as np

from geoscale_healthflow_etl_django_analytics_spark.operators.geo import _dp_keep
from geoscale_healthflow_etl_django_analytics_spark.operators.geo_topo import (
    _ring_is_simple,
)


def test_ring_is_simple_detects_bowtie():
    simple = np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)])
    assert _ring_is_simple(simple)
    bow = np.array([(0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)])
    assert not _ring_is_simple(bow)
    degenerate = np.array([(0.0, 0.0), (1.0, 1.0), (0.0, 0.0)])
    assert not _ring_is_simple(degenerate)


def test_topo_matches_plain_dp_when_no_guard_triggers(spark):
    """The c21_simplify_dp fixture (densified rectangle) simplifies
    without violating either guarantee, so the topo tier must be
    BYTE-identical to plain DP with repaired == 0."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.operators import geo
    from geoscale_healthflow_etl_django_analytics_spark.operators.geo_topo import (
        simplify_rings_topo,
    )
    from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import (
        load_table,
    )

    polys = geo.synth_polygons(load_table(spark, "/root/testdata/sf0.001", "nation"))

    def pt(lon, lat):
        return F.struct(lon.alias("lon"), lat.alias("lat"))

    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    mx, my = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    dense = F.array(
        pt(x0, y0), pt(mx, y0), pt(x1, y0), pt(x1, my), pt(x1, y1),
        pt(mx, y1), pt(x0, y1), pt(x0, my), pt(x0, y0),
    )
    densified = polys.select("poly_id", "name", dense.alias("ring"))
    plain = {
        r.poly_id: [(p["lon"], p["lat"]) for p in r.ring]
        for r in geo.simplify_rings_dp(densified, tolerance=0.1).collect()
    }
    rows = simplify_rings_topo(densified, tolerance=0.1).collect()
    for r in rows:
        assert r.repaired == 0
        assert [(p["lon"], p["lat"]) for p in r.ring] == plain[r.poly_id]
        assert r.n_after == 5


def test_dp_keep_is_plain_dp():
    """geo._dp_keep, the DP kernel both simplify tiers run: the unit
    square at tolerance 10 keeps only the (identical) endpoints."""
    sq = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)])
    keep = _dp_keep(sq, 100.0)
    assert list(keep) == [True, False, False, False, True]


def test_untangle_kernel_bowtie_and_simple():
    from geoscale_healthflow_etl_django_analytics_spark.operators.geo_fix import (
        _untangle,
        _shoelace,
    )

    bow = [(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)]
    lobes = _untangle(bow)
    assert len(lobes) == 2
    assert lobes[0] == [(1.0, 1.0), (2.0, 2.0), (2.0, 0.0), (1.0, 1.0)]
    assert lobes[1] == [(0.0, 0.0), (1.0, 1.0), (0.0, 2.0), (0.0, 0.0)]
    assert [round(abs(_shoelace(lb)), 6) for lb in lobes] == [1.0, 1.0]

    square = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
    assert _untangle(square) == [
        [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    ]


def test_untangle_double_crossing():
    """Two crossings: a zigzag band crossing a horizontal strip twice
    splits into three lobes whose total area is finite and each lobe
    is simple (no repeated interior vertices)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.geo_fix import (
        _untangle,
    )

    ring = [(0, 0), (6, 0), (6, 2), (4, -1), (2, 3), (0, 2), (0, 0)]
    lobes = _untangle(ring)
    assert len(lobes) >= 2
    for lb in lobes:
        assert lb[0] == lb[-1]
        interior = lb[:-1]
        assert len(set(interior)) == len(interior)
