"""C21 — TOPOLOGY-PRESERVING ring simplification.

The reference's `simplify(preserve_topology=True)`
(`SlopeGeoJsonUploadView.py:232-234` via shapely -> JTS
TopologyPreservingSimplifier) differs from plain Douglas-Peucker in
two user-visible guarantees for a single ring:

1. NO COLLAPSE: a ring never simplifies below a valid polygon
   (>= 3 distinct vertices + closing vertex);
2. NO SELF-INTERSECTION: the simplified ring stays simple — DP can
   route a chord across a notch and create a bow-tie.

This module implements those guarantees deterministically on top of
the plain-DP kernel that operators/geo.py::simplify_rings_dp runs
(``geo._dp_keep``): run DP, then REPAIR by re-adding excluded
ORIGINAL vertices, ranked by their DP-tree chord error descending
(the same metric DP itself selects by, so each repair step re-adds
the canonical "next DP vertex"; JTS's TaggedLineString repair is
equivalently "put back enough of the original until the section is
simple"), until both guarantees hold. The loop terminates because
re-adding every original vertex reproduces the input ring, which is
assumed simple. When no guarantee is violated the output is
BYTE-identical to plain DP (pinned by test).

Like the plain-DP operator, the per-ring recursion runs as an
Arrow-batched ``mapInPandas`` stage (whole columnar batches — the
sanctioned geometry escape hatch); everything around it is Column
code. The registered query uses fixtures with closed-form expected
output (rings plain DP provably collapses / bow-ties), so the
oracle is exact SQL — same stance as geo_c21_simplify_dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .geo import _dp_keep, _extended_schema, _seg_err


def _dp_tree_err(pts):
    """DP-tree error per interior vertex: the recursion runs to the
    bottom (no threshold) and records each vertex's chord error at
    the moment it is the segment argmax — the canonical DP priority,
    used to rank REPAIR re-insertions deterministically."""
    import numpy as np

    n = len(pts)
    err = np.zeros(n)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        d2 = _seg_err(pts, i, j)
        k = int(d2.argmax())
        err[i + 1 + k] = float(d2[k])
        stack.append((i, i + 1 + k))
        stack.append((i + 1 + k, j))
    return err


def _ring_is_simple(pts):
    """True iff the closed ring (first == last) is SIMPLE: no two
    non-adjacent edges intersect or touch, and no edge is degenerate.
    O(E^2) over the simplified ring (tiny after DP)."""
    import numpy as np

    e = len(pts) - 1  # edge count
    if e < 3:
        return False

    def on_seg(a, b, c):
        return (
            float(np.cross(b - a, c - a)) == 0.0
            and min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    def intersects(p1, p2, p3, p4):
        d1 = float(np.cross(p4 - p3, p1 - p3))
        d2 = float(np.cross(p4 - p3, p2 - p3))
        d3 = float(np.cross(p2 - p1, p3 - p1))
        d4 = float(np.cross(p2 - p1, p4 - p1))
        if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
            return True
        return (
            on_seg(p3, p4, p1)
            or on_seg(p3, p4, p2)
            or on_seg(p1, p2, p3)
            or on_seg(p1, p2, p4)
        )

    for i in range(e):
        if (pts[i] == pts[i + 1]).all():
            return False  # degenerate edge
        for j in range(i + 2, e):
            if i == 0 and j == e - 1:
                continue  # closing edge is adjacent to the first
            if intersects(pts[i], pts[i + 1], pts[j], pts[j + 1]):
                return False
    return True


def simplify_rings_topo(
    polys: DataFrame, tolerance: float
) -> DataFrame:
    """Topology-preserving simplify: plain DP under ``tolerance``,
    then deterministic repair (re-add excluded original vertices by
    DP-tree error descending, index ascending) until the ring has
    >= 3 distinct vertices AND is simple. Replaces ``ring``;
    adds n_before / n_after / repaired (vertices the guard re-added
    over plain DP — 0 means plain DP was already topology-safe and
    the output is byte-identical to simplify_rings_dp)."""
    import numpy as np
    import pandas as pd

    schema = _extended_schema(polys, "n_before int", "n_after int", "repaired int")
    tol2 = tolerance * tolerance

    def _one(ring):
        pts = np.array([(p["lon"], p["lat"]) for p in ring])
        n = len(pts)
        keep = _dp_keep(pts, tol2)
        dp_count = int(keep.sum())
        err = _dp_tree_err(pts)
        excl = [i for i in range(1, n - 1) if not keep[i]]
        excl.sort(key=lambda i: (-err[i], i))
        qi = 0
        while True:
            cur = pts[keep]
            if (
                len(np.unique(cur[:-1], axis=0)) >= 3
                and _ring_is_simple(cur)
            ):
                break
            if qi >= len(excl):
                break  # full ring restored; input assumed simple
            keep[excl[qi]] = True
            qi += 1
        kept = pts[keep]
        return kept, n, int(keep.sum()), int(keep.sum()) - dp_count

    def _simplify(batches):
        for pdf in batches:
            rings, n_before, n_after, repaired = [], [], [], []
            for ring in pdf["ring"]:
                kept, nb, na, rep = _one(ring)
                rings.append(
                    [{"lon": float(x), "lat": float(y)} for x, y in kept]
                )
                n_before.append(nb)
                n_after.append(na)
                repaired.append(rep)
            out = pdf.copy()
            out["ring"] = pd.Series(rings, index=pdf.index)
            out["n_before"] = n_before
            out["n_after"] = n_after
            out["repaired"] = repaired
            yield out

    return polys.mapInPandas(_simplify, schema)
