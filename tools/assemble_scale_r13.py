#!/usr/bin/env python
"""Assemble/merge BENCH_scale_r13.json from scale_bench payloads.

Round 12 ran no scale cells (optimization round 1 was bench-focused),
so this bases directly off BENCH_scale_r11.json with the same
mechanisms as the earlier per-round assemblers: per-cell layout tags
(v1 = retired coalesce(1) single-file layout, v2 = current), carried
cells hash-keyed and dropped when the live query_hash no longer
matches (an edited query's old cells can never survive as if they
described the new code), geo_j6_raster validated against its live
source sha256, idempotent merges, read-only --check.

VERDICT r12 carried item #6 / next-round #7 is the reason this exists
this round: the split family's super-linear x500 band rested on
carried v1-layout cells (curation_leakage_safe_split x500 = 685.5 s,
dedup_minhash_incremental x500 = 327.9 s), and the r11-measured v2
split cells are expired anyway by this round's operator changes — the
hash-drop below retires them and the fresh x500 payload replaces them.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

BASE = os.path.join(_REPO, "BENCH_scale_r11.json")
ART = os.path.join(_REPO, "BENCH_scale_r13.json")

CARRY_NOTE = (
    "cells not listed in new_cells_r13 are carried from "
    "BENCH_scale_r11.json (round 12 produced no scale artifact), "
    "hash-keyed at round-13 start. Every cell carries a layout tag: "
    "v1 cells were measured under the retired coalesce(1) single-file "
    "layout (a one-core scan floor for scan-dominated plans) and are "
    "NOT comparable to v2 cells; where both exist the v2 cell is "
    "authoritative. Any round-13 edit to a measured query expires its "
    "carried cells at the next merge — see cell_hashes/"
    "dropped_stale_cells. Cells carry 'passes' where measured under "
    "the passes-stamping scale_bench; cells without the field predate "
    "it (min-of-2 by method for scale_bench runs, one-shot for "
    "probe-recorded deep cells)."
)


def _live_hashes() -> dict[str, str]:
    import __spark_entry__ as entry
    from geoscale_healthflow_etl_django_analytics_spark.registry import (
        REGISTRY,
    )

    return {n: entry.query_hash(s) for n, s in REGISTRY.items()}


def _geo_raster_live_hash() -> str:
    import scale_bench

    return hashlib.sha256(
        inspect.getsource(scale_bench._geo_raster).encode()
    ).hexdigest()


def _load_payload(path: str) -> dict:
    with open(path) as fh:
        text = fh.read().strip()
    if not text:
        raise SystemExit(f"{path}: empty payload file")
    objs = []
    for ln in text.splitlines():
        if not ln.strip():
            continue
        try:
            objs.append(json.loads(ln))
        except ValueError:
            raise SystemExit(
                f"{path}: non-JSON content on stdout "
                f"({ln[:80]!r}...) — rerun with stderr redirected"
            )
    if len(objs) != 1:
        raise SystemExit(
            f"{path}: expected exactly one JSON object, found {len(objs)}"
        )
    return objs[0]


def _init_artifact() -> dict:
    base = json.load(open(BASE))
    new_r11 = base.get("new_cells_r11", {})
    cell_layout: dict[str, dict[str, str]] = {}
    carried: dict[str, list[str]] = {}
    for name, cells in base["queries"].items():
        carried[name] = sorted(cells)
        for xk in cells:
            cell_layout.setdefault(name, {})[xk] = (
                "v2" if xk in new_r11.get(name, []) else "v1"
            )
    return {
        "metric": "bench_scale_curve",
        "unit": "sec",
        "sf_base": "sf0.1",
        "method": "warmup+builder-inclusive+min-of-2",
        "scales": sorted(base.get("scales", [])),
        "queries": {n: dict(c) for n, c in base["queries"].items()},
        "new_cells_r13": {},
        "carried_from_r11": carried,
        "carry_note": CARRY_NOTE,
        "partition_policy": base.get("partition_policy"),
        "data_layout": base.get("data_layout"),
        "cell_hashes": {
            n: dict(h) for n, h in base.get("cell_hashes", {}).items()
        },
        "cell_layout": cell_layout,
        "dropped_stale_cells": [],
        "calibration": None,
    }


def _drop_cell(art: dict, name: str, xk: str, reason: str) -> str:
    cell = art["queries"][name].pop(xk)
    art["cell_hashes"].get(name, {}).pop(xk, None)
    art["cell_layout"].get(name, {}).pop(xk, None)
    art["dropped_stale_cells"].append(
        {"query": name, "cell": xk, "sec": cell.get("sec"), "reason": reason}
    )
    for ledger in ("carried_from_r11", "new_cells_r13"):
        if xk in art.get(ledger, {}).get(name, []):
            art[ledger][name] = [c for c in art[ledger][name] if c != xk]
            if not art[ledger][name]:
                del art[ledger][name]
    if not art["queries"][name]:
        del art["queries"][name]
    return f"{name}:{xk}"


def _drop_stale(art: dict, live: dict[str, str]) -> list[str]:
    """Drop every cell whose measurement-time hash no longer matches
    the live implementation; geo_j6_raster validates against the live
    source sha256."""
    geo_hash = _geo_raster_live_hash()
    dropped = []
    for name in list(art["queries"]):
        live_hash = live.get(name)
        if live_hash is None:
            live_hash = geo_hash if name == "geo_j6_raster" else None
        if live_hash is None:
            continue
        hmap = art["cell_hashes"].get(name, {})
        for xk in list(art["queries"][name]):
            stored = hmap.get(xk)
            if stored is not None and stored != live_hash:
                dropped.append(
                    _drop_cell(
                        art, name, xk,
                        "query_hash changed since measurement",
                    )
                )
    return dropped


def main(argv: list[str]) -> None:
    check_only = argv == ["--check"]
    paths = [] if check_only else argv
    live = _live_hashes()
    if os.path.exists(ART):
        art = json.load(open(ART))
    else:
        art = _init_artifact()
    merged = []
    for p in paths:
        payload = _load_payload(p)
        pol = payload.get("partition_policy")
        if pol is not None:
            have = art.get("partition_policy")
            if have is None:
                art["partition_policy"] = pol
            else:
                if {k: v for k, v in pol.items() if k != "factors"} != {
                    k: v for k, v in have.items() if k != "factors"
                }:
                    raise SystemExit(
                        f"{p}: partition rule differs across runs"
                    )
                for q, f in pol.get("factors", {}).items():
                    if q in have["factors"] and have["factors"][q] != f:
                        raise SystemExit(
                            f"{p}: factor for {q} changed across runs"
                        )
                    have["factors"][q] = f
        layout = payload.get("data_layout", {})
        layout_version = layout.get("version", "v2")
        have_layout = art.get("data_layout")
        if have_layout is not None and layout and have_layout != layout:
            raise SystemExit(f"{p}: data_layout differs across runs")
        if layout:
            art["data_layout"] = layout
        cal = payload.get("calibration")
        if cal is not None and "error" not in cal:
            art["calibration"] = cal
        stamped = payload.get("query_hashes", {})
        for q, cells in payload["queries"].items():
            for xk, cell in cells.items():
                art["queries"].setdefault(q, {})[xk] = cell
                if q in stamped:
                    art["cell_hashes"].setdefault(q, {})[xk] = stamped[q]
                art["cell_layout"].setdefault(q, {})[xk] = layout_version
                new = art["new_cells_r13"].setdefault(q, [])
                if xk not in new:
                    new.append(xk)
                carried = art.get("carried_from_r11", {})
                if q in carried and xk in carried[q]:
                    carried[q] = [c for c in carried[q] if c != xk]
                    if not carried[q]:
                        del carried[q]
                merged.append(f"{q}:{xk}")
        art["scales"] = sorted(
            set(art.get("scales", [])) | set(payload.get("scales", []))
        )
    dropped = _drop_stale(art, live)
    exists = os.path.exists(ART)
    if merged or dropped or not exists:
        with open(ART, "w") as fh:
            fh.write(json.dumps(art) + "\n")
        action = "wrote"
    else:
        action = "validated (read-only, no changes)"
    print(
        f"{action} {ART}; merged {len(merged)} cells: {merged}; "
        f"dropped stale: {dropped}"
    )


if __name__ == "__main__":
    main(sys.argv[1:])
