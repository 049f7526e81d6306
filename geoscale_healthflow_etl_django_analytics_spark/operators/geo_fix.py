"""C20 — SELF-INTERSECTION UNTANGLING (the bow-tie half of the
reference's ``buffer(0)`` repair).

The reference fixes invalid geometries with shapely's
``geom.buffer(0)`` (`batch_processor.py:285-291`). For a
self-intersecting ring (a bow-tie / figure-8), GEOS's buffer(0)
noding rebuild returns the SIMPLE LOBES of the ring as separate
polygons — the part geo.py::geo_c20_validity_fix documents as out of
scope (it covers the deterministic winding/closing share). This
module closes that sliver with the standard computational-geometry
untangle:

1. NODE: find every proper intersection between non-adjacent edges
   (exact segment-segment solve) and insert the intersection points
   into both edges' vertex runs (ordered along each edge by
   parameter t);
2. SPLIT: walk the noded vertex cycle with a stack — when a vertex
   repeats, the run between the two occurrences is a SIMPLE loop;
   pop it as a lobe and continue. This is the classic repeated-node
   loop extraction (what GEOS's polygonizer does after noding).

For a simple input ring the walk pops exactly one lobe — the ring
itself, unchanged. Each output lobe carries its shoelace area, so
degenerate (zero-area) slivers are visible to the caller rather than
silently dropped. Deterministic throughout: intersection points are
exact rational solves evaluated in doubles and rounded to 9 dp
(collision-free for the fixture grids); lobes are numbered in pop
order, which is itself a deterministic function of the vertex order.

Like the other per-geometry-recursive kernels, this runs as an
Arrow-batched ``mapInPandas`` stage. The registered query uses a
closed-form fixture (the canonical one-crossing bow-tie, which must
split into two known triangles, next to an already-simple ring that
must pass through unchanged), so the oracle is exact SQL — the
geo_c21 stance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .geo import _extended_schema


def _untangle(ring):
    """ring: list[(x, y)] closed (first == last). Returns list of
    simple lobes, each a closed list[(x, y)], in stack-pop order."""
    pts = [(float(x), float(y)) for x, y in ring]
    n = len(pts) - 1  # edge count

    # 1. NODE — per edge, intersection points ordered by parameter t
    inserts: dict[int, list[tuple[float, tuple[float, float]]]] = {}

    def seg_solve(p1, p2, p3, p4):
        """Proper intersection of open segments (p1,p2)x(p3,p4):
        returns (t, point) with t the parameter along (p1,p2), or
        None. Touching at endpoints is not an untangle node."""
        d1x, d1y = p2[0] - p1[0], p2[1] - p1[1]
        d2x, d2y = p4[0] - p3[0], p4[1] - p3[1]
        den = d1x * d2y - d1y * d2x
        if den == 0.0:
            return None
        t = ((p3[0] - p1[0]) * d2y - (p3[1] - p1[1]) * d2x) / den
        u = ((p3[0] - p1[0]) * d1y - (p3[1] - p1[1]) * d1x) / den
        eps = 1e-12
        if not (eps < t < 1.0 - eps and eps < u < 1.0 - eps):
            return None
        x = round(p1[0] + t * d1x, 9)
        y = round(p1[1] + t * d1y, 9)
        return t, (x, y)

    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue  # closing edge adjacent to the first
            hit = seg_solve(pts[i], pts[i + 1], pts[j], pts[j + 1])
            if hit is None:
                continue
            t, pt = hit
            inserts.setdefault(i, []).append((t, pt))
            # parameter along edge j, recomputed for correct ordering
            hj = seg_solve(pts[j], pts[j + 1], pts[i], pts[i + 1])
            if hj is not None:
                inserts.setdefault(j, []).append((hj[0], pt))

    noded: list[tuple[float, float]] = []
    for i in range(n):
        noded.append(pts[i])
        for _t, pt in sorted(inserts.get(i, [])):
            noded.append(pt)

    # 2. SPLIT — stack walk, pop a simple loop at each repeated node
    lobes: list[list[tuple[float, float]]] = []
    stack: list[tuple[float, float]] = []
    pos: dict[tuple[float, float], int] = {}
    for p in noded:
        if p in pos:
            k = pos[p]
            loop = stack[k:] + [p]
            if len(loop) >= 4:
                lobes.append(loop)
            for q in stack[k + 1 :]:
                pos.pop(q, None)
            del stack[k + 1 :]
        else:
            pos[p] = len(stack)
            stack.append(p)
    if len(stack) >= 3:
        lobes.append(stack + [stack[0]])
    return lobes


def _shoelace(loop):
    s = 0.0
    for (x1, y1), (x2, y2) in zip(loop, loop[1:]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def untangle_rings(polys: DataFrame) -> DataFrame:
    """One row per SIMPLE lobe of each (possibly self-intersecting)
    input ring: all input columns, plus ``lobe`` (pop-order index),
    ``n_lobes``, ``area`` (absolute shoelace, 6 dp), and ``ring``
    replaced by the lobe's closed vertex list. A simple input ring
    yields exactly one lobe, byte-identical to its input."""
    import pandas as pd

    schema = _extended_schema(polys, "lobe int", "n_lobes int", "area double")

    def _gen(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                ring = [(p["lon"], p["lat"]) for p in row["ring"]]
                lobes = _untangle(ring)
                for li, loop in enumerate(lobes):
                    r = row.to_dict()
                    r["ring"] = [
                        {"lon": x, "lat": y} for x, y in loop
                    ]
                    r["lobe"] = li
                    r["n_lobes"] = len(lobes)
                    r["area"] = round(abs(_shoelace(loop)), 6)
                    rows.append(r)
            yield pd.DataFrame(rows)

    return polys.mapInPandas(_gen, schema)
