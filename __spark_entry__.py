"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``geoscale_healthflow_etl_django_analytics_spark.registry`` — every
implemented operator from SURVEY.md §2 registers there with both a
Spark builder and (where SQL-expressible) a DuckDB oracle.
"""

from __future__ import annotations

import ast
import dis
import glob
import hashlib
import importlib
import inspect
import json
import os
import re
import subprocess
import sys
import types
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY, QuerySpec  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_PKG = "geoscale_healthflow_etl_django_analytics_spark"
_HASH_SIDECAR = os.path.join(_REPO_DIR, ".query_check_hashes.json")

_module_digest_cache: dict[str, str] = {}


def _module_digest(mod: types.ModuleType) -> str:
    """md5 of a package module's file content (cached per module)."""
    name = getattr(mod, "__name__", "")
    if name not in _module_digest_cache:
        try:
            path = inspect.getsourcefile(mod) or ""
            with open(path, "rb") as fh:
                _module_digest_cache[name] = hashlib.md5(fh.read()).hexdigest()
        except (OSError, TypeError):
            _module_digest_cache[name] = "unreadable"
    return _module_digest_cache[name]


def _is_pkg_module(dotted: str) -> bool:
    """True iff ``dotted`` names an importable module inside the package."""
    if not dotted.startswith(_PKG):
        return False
    if dotted in sys.modules:
        return True
    try:
        importlib.import_module(dotted)
        return True
    except Exception:
        return False


def _iter_code_objects(code):
    """Yield a code object and, recursively, every nested code object
    (comprehensions, lambdas, inner defs) found in its constants."""
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _iter_code_objects(const)


def _bytecode_imports(code, package: str) -> set[str]:
    """Package module names imported anywhere inside ``code``.

    Walks IMPORT_NAME (module path, resolving relative levels against
    ``package``) and the IMPORT_FROM names that follow it (``from
    .operators import multimodal`` imports the SUBMODULE via
    IMPORT_FROM, not IMPORT_NAME) — this is what catches the
    function-local imports most builders use (ADVICE r4 #1).
    """
    found: set[str] = set()
    for co in _iter_code_objects(code):
        pending_base: str | None = None
        for ins in dis.get_instructions(co):
            if ins.opname == "IMPORT_NAME":
                raw = str(ins.argval)
                # relative imports put the level in the preceding const;
                # a leading-dot form arrives as a bare suffix ("operators")
                candidates = [raw] if raw.startswith(_PKG) else [f"{package}.{raw}", raw]
                pending_base = None
                for cand in candidates:
                    if _is_pkg_module(cand):
                        found.add(cand)
                        pending_base = cand
                        break
            elif ins.opname == "IMPORT_FROM" and pending_base:
                sub = f"{pending_base}.{ins.argval}"
                if _is_pkg_module(sub):
                    found.add(sub)
            else:
                if ins.opname not in ("IMPORT_FROM", "STORE_FAST", "STORE_NAME", "STORE_GLOBAL"):
                    pending_base = None
    return found


_module_deps_cache: dict[str, frozenset[str]] = {}


def _module_direct_deps(mname: str) -> frozenset[str]:
    """Package modules directly imported by module ``mname`` (AST scan of
    its source file — catches module-level AND function-local imports)."""
    if mname in _module_deps_cache:
        return _module_deps_cache[mname]
    deps: set[str] = set()
    try:
        mod = importlib.import_module(mname)
        path = inspect.getsourcefile(mod) or ""
        with open(path, "rb") as fh:
            tree = ast.parse(fh.read())
    except Exception:
        _module_deps_cache[mname] = frozenset()
        return _module_deps_cache[mname]
    pkg_parts = mname.split(".")
    # relative imports resolve against the CONTAINING package: for a
    # package module (an __init__.py) that is the module itself, so
    # one fewer segment is stripped than for a plain module — getting
    # this wrong drops every dep edge that flows through a subpackage
    # re-export (code-review r5 finding #2)
    is_package = hasattr(mod, "__path__")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if _is_pkg_module(alias.name):
                    deps.add(alias.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                # resolve "from ..functions.exact import X" against mname
                strip = node.level - 1 if is_package else node.level
                base_parts = pkg_parts[: len(pkg_parts) - strip]
                base = ".".join(base_parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            if _is_pkg_module(base):
                deps.add(base)
            for alias in node.names:
                sub = f"{base}.{alias.name}" if base else alias.name
                if _is_pkg_module(sub):
                    deps.add(sub)
    _module_deps_cache[mname] = frozenset(deps)
    return _module_deps_cache[mname]


def _builder_call_graph(spec: QuerySpec) -> tuple[list, set[str]]:
    """Worklist walk from a builder: returns (registry-level helper
    functions reached TRANSITIVELY through co_names, package modules
    seeded from globals + bytecode imports along the way).

    Shared by :func:`query_dep_modules` and :func:`query_hash` so the
    hashed source set always matches the dependency walk — ADVICE r5
    #5 flagged that query_hash previously collected helper sources
    only one level deep, so a registry helper reached only via
    another helper would not have expired credit when edited.
    """
    fn = inspect.unwrap(spec.builder)
    seeds: set[str] = set()
    helpers: list = []
    # seed from the builder AND from every registry-level helper
    # function it calls (transitively): a builder reaching
    # catalog.load_table only through a module-level helper (e.g. the
    # roundtrip queries' _roundtrip_source) must still hash
    # sources/catalog.py — hashing the helper's SOURCE alone misses
    # the helper's own imports (code-review r5 finding #1)
    frontier: list = [fn]
    visited_fns: set[int] = {id(fn)}
    while frontier:
        cur = frontier.pop()
        code = getattr(cur, "__code__", None)
        globs = getattr(cur, "__globals__", {})
        for name in getattr(code, "co_names", ()):
            obj = globs.get(name)
            if obj is None:
                continue
            if (
                inspect.isfunction(obj)
                and id(obj) not in visited_fns
                and getattr(obj, "__module__", "").endswith(".registry")
            ):
                visited_fns.add(id(obj))
                frontier.append(obj)
                helpers.append(obj)
                continue
            mod = obj if isinstance(obj, types.ModuleType) else sys.modules.get(getattr(obj, "__module__", ""), None)
            mname = getattr(mod, "__name__", "")
            if mname.startswith(_PKG) and not mname.endswith(".registry"):
                seeds.add(mname)
        if code is not None:
            seeds |= _bytecode_imports(code, _PKG)
    return helpers, seeds


def query_dep_modules(spec: QuerySpec) -> set[str]:
    """Every package module whose edit must expire ``spec``'s credit.

    Seeds: modules the builder (or any registry helper it reaches)
    references through globals PLUS modules imported anywhere in their
    bytecode (function-local imports, nested code objects).  Closure:
    each seed's imports are walked transitively via AST, so a builder
    calling ``geo.merge_pixel_regions`` (which itself uses
    ``operators.dedup``) hashes ``dedup.py`` too.  ``registry.py`` is
    excluded — the builder's own source already captures
    registry-level edits, and adding an unrelated query must not
    invalidate all others.
    """
    _helpers, seeds = _builder_call_graph(spec)
    closure: set[str] = set()
    stack = list(seeds)
    while stack:
        mname = stack.pop()
        if mname in closure or mname.endswith(".registry"):
            # never walk registry.py — its function-local imports span
            # the whole package and would fan every query's hash out to
            # every module; registry-level helper FUNCTIONS a builder
            # calls are hashed by source in query_hash() instead.
            continue
        closure.add(mname)
        stack.extend(_module_direct_deps(mname) - closure)
    return closure


def query_hash(spec: QuerySpec) -> str:
    """Content hash of a registered query's implementation.

    Covers: the builder's own source (which includes the ``@register``
    decorator call and therefore usually the oracle SQL), the oracle SQL
    explicitly, and — at module-file granularity — the TRANSITIVE
    CLOSURE of package modules the builder reaches through its globals
    or through imports anywhere in its bytecode (ADVICE r4 #1: most
    builders import operator modules inside the function body, and an
    operator module may itself depend on another).  Editing any module
    a query's code path touches therefore expires its green credit,
    which is the point: driver credit must not outlive the code it was
    earned on (VERDICT r3, "What's wrong" #1).
    """
    parts = [spec.oracle or ""]
    try:
        parts.append(inspect.getsource(spec.builder))
    except (OSError, TypeError):
        parts.append(repr(spec.builder))
    # registry-level helper functions the builder reaches, TRANSITIVELY
    # (the same worklist walk query_dep_modules uses — ADVICE r5 #5) —
    # hashed by their own source, since registry.py as a whole is
    # deliberately outside the module walk
    helpers, _seeds = _builder_call_graph(spec)
    helper_srcs: set[str] = set()
    for obj in helpers:
        try:
            helper_srcs.add(inspect.getsource(obj))
        except (OSError, TypeError):
            helper_srcs.add(repr(obj))
    parts.extend(sorted(helper_srcs))
    for mname in sorted(query_dep_modules(spec)):
        mod = sys.modules.get(mname)
        if mod is not None:
            parts.append(f"{mname}:{_module_digest(mod)}")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


def _artifact_round(path: str) -> int:
    m = re.search(r"_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def _correctness_artifacts() -> list[str]:
    """Correctness artifact paths sorted by PARSED round number.

    Lexicographic sort breaks at round 100 with the driver's two-digit
    padding ('CORRECTNESS_r100.json' < 'CORRECTNESS_r99.json'), which
    would silently make every newest-artifact consumer treat r99 as
    newest forever after (ADVICE r7 #3).
    """
    return sorted(
        glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")),
        key=_artifact_round,
    )


def _row_satisfactory(row: object) -> bool:
    """True iff a driver artifact row records a satisfactory check: a
    green oracle row (``err is None`` and ``hash_match``) or, for
    queries registered without an oracle by design, a recorded row
    count (``err == 'no_oracle'``) — the strongest check those get."""
    if not isinstance(row, dict):
        return False
    if row.get("err") is None and row.get("hash_match"):
        return True
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def _newest_green_round() -> dict[str, int]:
    """Query name -> round of its newest satisfactory row
    (:func:`_row_satisfactory`) in any past driver artifact."""
    rounds: dict[str, int] = {}
    for path in _correctness_artifacts():
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if _row_satisfactory(row):
                rounds[name] = _artifact_round(path)
    return rounds


def _artifact_green() -> set[str]:
    """Query names with a satisfactory row in ANY past driver artifact.

    "Satisfactory" means: a green oracle row (``err is None`` and
    ``hash_match``), or — for queries registered without an oracle by
    design — a recorded row count (``err == 'no_oracle'``), which is the
    strongest check those can ever receive.
    """
    return set(_newest_green_round())


# Bump when query_hash()'s COVERAGE widens (what it hashes, not what the
# code does).  After a bump, entries recorded under the old version
# simply never match again: the query stays expired until the driver
# re-checks it (ADVICE r6 #1 — the former bump-triggered re-key of ALL
# entries also resurrected credit that had already expired in a prior
# round, which the driver never re-tested; only names in the NEWEST
# artifact are re-keyed at a clean-tree sync).
# v3: helper-source collection became transitive (ADVICE r5 #5).
_HASH_VERSION = 3


def _load_sidecar() -> tuple[dict[str, str], int]:
    try:
        with open(_HASH_SIDECAR) as fh:
            data = json.load(fh)
        version = data.get("__hash_version__", 1)
        entries = {
            k: v for k, v in data.items()
            if isinstance(v, str) and not k.startswith("__")
        }
        return entries, version if isinstance(version, int) else 1
    except (OSError, ValueError):
        return {}, _HASH_VERSION


def _pkg_tree_dirty() -> list[str]:
    """Tracked files under the package dir with uncommitted modifications.

    The sync invariant ("round start, before any edit") is only about
    files query_hash() covers — package modules.  Edits to the harness
    (this file, bench.py, docs, tests) don't participate in any hash.
    """
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--", _PKG],
            cwd=_REPO_DIR, capture_output=True, text=True, timeout=30,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return []
    return [line for line in out.splitlines() if line.strip()]


def sync_check_hashes(force: bool = False) -> dict[str, str]:
    """Record, per green query, the implementation hash the credit was earned on.

    Run at ROUND START (``python __spark_entry__.py sync``), before any
    code edits: at that moment the working tree is byte-identical to
    what the driver just tested, so ``query_hash()`` equals the hash at
    check time for every query green in the newest artifact.  Names green
    only in older artifacts keep their existing sidecar entry (recorded
    at an earlier round start); absent entries are bootstrapped to the
    current hash (one-time adoption assumption, validated by the local
    parity mirror which runs all queries against the current code).

    MECHANICAL GUARD (VERDICT r4, "Next round" #3): refuses to run when
    the package tree has uncommitted tracked modifications — syncing
    after edits would bless code the driver never tested (under-check).
    Pass ``force=True`` (CLI: ``sync --force``) only if you are certain
    the modifications don't touch any green query's code path.
    """
    dirty = _pkg_tree_dirty()
    if dirty and not force:
        raise RuntimeError(
            "sync_check_hashes: refusing to sync — the package tree has "
            "uncommitted modifications (sync must run at round start, "
            "before edits):\n" + "\n".join(dirty)
        )
    green = _artifact_green()
    sidecar, version = _load_sidecar()
    newest: set[str] = set()
    paths = _correctness_artifacts()
    if paths:
        try:
            with open(paths[-1]) as fh:
                # satisfactory rows ONLY (ADVICE r7 #1): a name whose
                # newest row FAILED must not get a fresh current-tree
                # hash here — that would re-bless credit the latest
                # driver run just refuted; its older sidecar entry (or
                # absence) is the honest state.
                newest = {
                    n for n, row in json.load(fh).items() if _row_satisfactory(row)
                }
        except (OSError, ValueError):
            newest = set()
    out: dict[str, str] = {}
    for name in sorted(green):
        if name not in REGISTRY:
            continue
        if name in newest or name not in sidecar:
            # the newest artifact was produced against THIS tree (the
            # clean-tree guard above), so a fresh hash is proven-valid;
            # bootstrap adoption for never-recorded names is the
            # documented one-time assumption
            out[name] = query_hash(REGISTRY[name])
        else:
            # names green only in older artifacts keep their recorded
            # entry — including across a _HASH_VERSION bump, where the
            # old entry simply never matches again and the query stays
            # expired until the driver re-checks it (ADVICE r6 #1: the
            # former rekey-all path re-blessed entries that had
            # ALREADY expired in a previous round, which the driver
            # never re-tested; losing a version bump's residual credit
            # to rotation is the honest trade)
            out[name] = sidecar[name]
    payload: dict[str, object] = {"__hash_version__": _HASH_VERSION}
    payload.update(out)
    with open(_HASH_SIDECAR, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return out


def _newest_artifact_tested_names() -> set[str]:
    """Green names from the NEWEST correctness artifact whose credit
    provably applies to the CURRENT package tree — no sidecar needed.

    Timing gap this closes (VERDICT r6 "What's missing" #2): the
    driver tests the ROUND-END tree, then commits the artifact on top
    of it without touching the package, but the sidecar was written at
    round START — so the newest artifact's rows were never countable
    until the next round's sync, and every round-end "checked" reading
    under-reported by up to the full 50-query window.  The git-provable
    rule: if (a) the newest artifact file is committed and unmodified,
    (b) the package tree has no uncommitted changes, and (c) git finds
    no package diff between the artifact commit's parent (the tree the
    driver tested) and HEAD, then the current package is byte-identical
    to the tested one and the artifact's green rows are valid for it.
    Any package edit after the driver run makes (c) fail and the rule
    contributes nothing — expiry semantics are unchanged.
    """
    paths = _correctness_artifacts()
    if not paths:
        return set()
    newest = paths[-1]
    rel = os.path.relpath(newest, _REPO_DIR)
    try:
        status = subprocess.run(
            ["git", "status", "--porcelain", "--", rel],
            cwd=_REPO_DIR, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if status or _pkg_tree_dirty():
            return set()
        commit = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--", rel],
            cwd=_REPO_DIR, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if not commit:
            return set()
        # (c') the artifact commit ITSELF must contain no package
        # changes (ADVICE r7 #2): the rule treats the commit's PARENT
        # as the driver-tested tree, which only holds when the commit
        # added artifacts alone.  Without this, package edits committed
        # together with the artifact and later reverted byte-identically
        # would make the parent..HEAD diff empty while the tested tree
        # differed from both.
        own = subprocess.run(
            ["git", "diff", "--quiet", f"{commit}^", commit, "--", _PKG],
            cwd=_REPO_DIR, capture_output=True, timeout=30,
        )
        if own.returncode != 0:
            return set()
        diff = subprocess.run(
            ["git", "diff", "--quiet", f"{commit}^", "HEAD", "--", _PKG],
            cwd=_REPO_DIR, capture_output=True, timeout=30,
        )
        if diff.returncode != 0:
            return set()
    except (OSError, subprocess.SubprocessError):
        return set()
    try:
        with open(newest) as fh:
            rows = json.load(fh)
    except (OSError, ValueError):
        return set()
    return {
        name
        for name, row in rows.items()
        if name in REGISTRY and _row_satisfactory(row)
    }


def _driver_checked() -> set[str]:
    """Names whose green driver credit is still valid for the CURRENT code.

    The driver snapshots only the first 50 entries of ``queries()`` into
    ``CORRECTNESS_r{N}.json``; never-checked queries are ordered first so
    every query eventually gets a driver row.  A query counts as checked
    if EITHER (a) some past artifact has a satisfactory row for it AND
    its implementation hash still matches the sidecar recorded when
    that credit was earned — so editing a builder, its oracle, or any
    operator module it uses expires the credit and rotates the query
    back into the driver's snapshot window automatically — OR (b) it is
    green in the newest artifact and the package tree is git-provably
    identical to the tree the driver tested
    (:func:`_newest_artifact_tested_names`).
    """
    green = _artifact_green()
    sidecar, _version = _load_sidecar()
    valid = {
        name
        for name in green
        if name in REGISTRY and sidecar.get(name) == query_hash(REGISTRY[name])
    }
    return valid | _newest_artifact_tested_names()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (A4 daily positivity — scan → semantic map →
    groupBy → rates) on sf0.001; driver checks rows>0."""
    return REGISTRY["hc_a4_daily_positivity"].builder(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All registered queries in driver-check priority order.

    Three tiers: (1) queries with NO row in any past artifact — brand
    new, most urgent, since they have never seen the driver at all;
    (2) queries with a past green row whose credit expired under code
    edits — still covered by the local parity mirror, re-check when a
    slot frees; (3) current-credit-valid queries. Within tiers (2) and
    (3) the query whose newest satisfactory row is OLDEST comes first,
    so every expired query rotates through the driver's 50-entry
    snapshot window instead of the first 50 registered ones holding it
    while edits keep expiring them; ties and tier (1) keep registry
    order.
    """
    checked = _driver_checked()
    last = _newest_green_round()
    ordered = sorted(
        REGISTRY, key=lambda n: (n in checked, n in last, last.get(n, -1))
    )
    return {name: REGISTRY[name].builder for name in ordered}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "sync":
        synced = sync_check_hashes(force="--force" in sys.argv[2:])
        print(f"synced {len(synced)} check hashes -> {_HASH_SIDECAR}")
    else:
        checked = _driver_checked()
        order = list(queries())
        print(f"{len(order)} queries; {len(checked)} checked; first 50 window:")
        for name in order[:50]:
            print(("  " if name in checked else "* ") + name)
