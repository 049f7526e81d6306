"""registry.py keeps one home per builder contract: no 6-line code
window of one top-level function body repeats in another; and one
registered query per answer: no two queries check the same oracle text
unless their group is allow-listed with its reason.

Static only (``ast`` + ``tokenize`` and a registry import, no Spark). Lines inside
multi-line strings (oracle SQL, docstrings), string-only lines,
comments and blank lines are not code lines; the rest are compared
with their indentation stripped. A window repeated in a later
function is reported against the first function that has it.
"""

from __future__ import annotations

import ast
import io
import os
import tokenize

WINDOW = 6
_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.STRING,
}


def _code_lines(src: str) -> set[int]:
    """Line numbers holding code outside any multi-line string."""
    in_string: set[int] = set()
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.STRING and tok.end[0] > tok.start[0]:
            in_string.update(range(tok.start[0], tok.end[0] + 1))
        elif tok.type not in _NON_CODE:
            code.add(tok.start[0])
    return code - in_string


def repeated_windows(src: str) -> dict[tuple[str, str], int]:
    """(first function, later function) -> number of shared windows."""
    lines = src.splitlines()
    code = _code_lines(src)
    first: dict[tuple[str, ...], str] = {}
    pairs: dict[tuple[str, str], int] = {}
    for fn in ast.parse(src).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        body = [
            lines[i - 1].strip()
            for i in range(fn.body[0].lineno, fn.end_lineno + 1)
            if i in code
        ]
        for k in range(len(body) - WINDOW + 1):
            key = tuple(body[k : k + WINDOW])
            owner = first.setdefault(key, fn.name)
            if owner != fn.name:
                pairs[(owner, fn.name)] = pairs.get((owner, fn.name), 0) + 1
    return pairs


def test_no_builder_window_repeats():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "geoscale_healthflow_etl_django_analytics_spark",
        "registry.py",
    )
    with open(path, encoding="utf-8") as f:
        pairs = repeated_windows(f.read())
    listing = "\n".join(f"{a} -> {b}: {n} windows" for (a, b), n in sorted(pairs.items()))
    assert not pairs, f"{len(pairs)} function pairs repeat a {WINDOW}-line window:\n{listing}"


def test_scan_sees_a_repeat():
    src = "\n".join(
        f"def f{n}():\n" + "".join(f"    x{i} = {i}\n" for i in range(WINDOW)) for n in (1, 2)
    )
    assert repeated_windows(src) == {("f1", "f2"): 1}


# Queries that share one oracle text, each group with the reason it is
# not a second path to the same answer.
SHARED_ORACLE_ALLOWED = {
    frozenset({
        "s3_shapefile_zonal_stats",
        "s4_geotiff_zonal_stats",
        "s4_geotiff_deflate_zonal_stats",
        "s4_geotiff_lzw_zonal_stats",
    }): "one answer read from four input encodings: different inputs, not different paths",
    frozenset({"s11_json_export_roundtrip", "orc_roundtrip_priority_revenue"}): (
        "one answer round-tripped through two file formats"
    ),
    frozenset({"dedup_connected_components", "dedup_cc_distributed"}): (
        "local_threshold=0 is the only checked way into the distributed "
        "connected-components loop"
    ),
    frozenset({
        "dedup_decontaminate",
        "dedup_decontaminate_semijoin",
        "dedup_decontaminate_bloom",
    }): (
        "broadcast, semijoin and Bloom tiers differ in speed by scale and in "
        "driver-memory bound; choosing one by size is a change of its own"
    ),
}


def shared_oracle_groups(registry) -> set[frozenset[str]]:
    """Groups of two or more registered queries with the same oracle text."""
    by_oracle: dict[str, set[str]] = {}
    for name, spec in registry.items():
        if spec.oracle is not None:
            by_oracle.setdefault(spec.oracle, set()).add(name)
    return {frozenset(g) for g in by_oracle.values() if len(g) > 1}


def test_one_query_per_oracle():
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    groups = shared_oracle_groups(REGISTRY)
    extra = sorted(sorted(g) for g in groups - set(SHARED_ORACLE_ALLOWED))
    stale = sorted(sorted(g) for g in set(SHARED_ORACLE_ALLOWED) - groups)
    assert not extra, f"{len(extra)} groups of queries check one oracle: {extra}"
    assert not stale, f"allow-listed groups no longer registered as such: {stale}"
