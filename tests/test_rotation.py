"""Change-aware driver rotation (__spark_entry__.py).

VERDICT r3 "What's wrong" #1: green driver credit must expire when the
code it was earned on changes.  These tests pin the mechanism without
touching the real sidecar.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_query_hash_depends_on_oracle(entry_mod):
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY, QuerySpec

    spec = REGISTRY["hc_a2_gender_positivity"]
    h0 = entry_mod.query_hash(spec)
    assert h0 == entry_mod.query_hash(spec), "hash must be deterministic"
    mutated = QuerySpec(
        name=spec.name,
        builder=spec.builder,
        oracle=(spec.oracle or "") + " -- changed",
        tags=spec.tags,
        bench=spec.bench,
        doc=spec.doc,
    )
    assert entry_mod.query_hash(mutated) != h0


def test_query_hash_covers_operator_modules(entry_mod):
    """A builder that delegates to an operator module must hash that
    module's file, so editing the operator expires the query's credit."""
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    spec = REGISTRY["dedup_connected_components"]
    fn = spec.builder
    sources = {
        m
        for m in sys.modules
        if m.startswith("geoscale_healthflow_etl_django_analytics_spark.operators")
    }
    assert sources, "operator modules should be imported"
    # The hash walk resolves the builder's globals; the dedup builder
    # references the dedup operator module, whose digest feeds the hash.
    before = entry_mod.query_hash(spec)
    entry_mod._module_digest_cache.clear()
    key = "geoscale_healthflow_etl_django_analytics_spark.operators.dedup"
    entry_mod._module_digest_cache[key] = "tampered"
    try:
        after = entry_mod.query_hash(spec)
    finally:
        entry_mod._module_digest_cache.clear()
    assert after != before, (
        "faking a dedup.py content change must change the query hash "
        f"(builder globals walk missed module {key})"
    )
    assert fn is spec.builder


def test_stale_hash_rotates_query_to_front(entry_mod, tmp_path, monkeypatch):
    """A green query whose sidecar hash mismatches the current hash is
    treated as unchecked and ordered into the driver's 50-entry window."""
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    victim = "hc_a5_total_summary"
    sidecar = {
        name: entry_mod.query_hash(spec) for name, spec in REGISTRY.items()
    }
    sidecar[victim] = "0" * 32  # simulate an edit since the credit was earned
    path = tmp_path / "hashes.json"
    path.write_text(json.dumps(sidecar))
    monkeypatch.setattr(entry_mod, "_HASH_SIDECAR", str(path))
    # isolate SIDECAR semantics: the newest-artifact git rule is
    # legitimately allowed to re-check the victim when the tree equals
    # the driver-tested one (tested separately below)
    monkeypatch.setattr(
        entry_mod, "_newest_artifact_tested_names", lambda: set()
    )

    checked = entry_mod._driver_checked()
    assert victim not in checked
    order = list(entry_mod.queries())
    assert order.index(victim) < 50
    # every other green query keeps its credit
    assert "hc_a2_gender_positivity" in checked

@pytest.mark.parametrize(
    ("query", "module"),
    [
        # ADVICE r4 #1: these builders import their operator modules
        # INSIDE the function body; the old globals-only walk missed
        # them, so editing the module never expired driver credit.
        ("ts_resample_interpolate", "operators.timeseries"),
        ("mm_bmp_decode_stats", "operators.multimodal"),
        ("mm_bmp_decode_stats", "sources.bmp"),
        ("mm_wav_decode_stats", "sources.wav"),
        ("sample_weighted_exp_key", "functions.hashing"),
        # transitive: the builder reaches geo.merge_pixel_regions, which
        # itself uses operators.dedup for the connected-component pass
        ("s4_polygonize_regions", "operators.dedup"),
    ],
)
def test_query_hash_covers_local_and_transitive_imports(entry_mod, query, module):
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    spec = REGISTRY[query]
    full = f"geoscale_healthflow_etl_django_analytics_spark.{module}"
    assert full in entry_mod.query_dep_modules(spec), (
        f"{query} must hash {module} (function-local/transitive import)"
    )
    before = entry_mod.query_hash(spec)
    entry_mod._module_digest_cache.clear()
    entry_mod._module_digest_cache[full] = "tampered"
    try:
        after = entry_mod.query_hash(spec)
    finally:
        entry_mod._module_digest_cache.clear()
    assert after != before, f"editing {module} must change {query}'s hash"


def test_dep_closure_excludes_registry_and_stays_bounded(entry_mod):
    """registry.py must never enter the walk (its function-local imports
    span the whole package and would fan every hash out to every module)."""
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    for spec in REGISTRY.values():
        deps = entry_mod.query_dep_modules(spec)
        assert not any(d.endswith(".registry") for d in deps)
        assert len(deps) <= 15, (
            f"{spec.name}: dep closure unexpectedly broad ({len(deps)}) — "
            "a registry-wide fan-out would make rotation churn on every edit"
        )


def test_sync_refuses_on_dirty_package_tree(entry_mod, tmp_path, monkeypatch):
    """VERDICT r4 'Next round' #3: the round-start-only invariant is
    mechanical — sync must refuse when package files are modified."""
    monkeypatch.setattr(entry_mod, "_HASH_SIDECAR", str(tmp_path / "h.json"))
    monkeypatch.setattr(
        entry_mod, "_pkg_tree_dirty", lambda: [" M geoscale_healthflow_etl_django_analytics_spark/registry.py"]
    )
    with pytest.raises(RuntimeError, match="refusing to sync"):
        entry_mod.sync_check_hashes()
    # force=True overrides (documented escape hatch)
    out = entry_mod.sync_check_hashes(force=True)
    assert isinstance(out, dict)
    # clean tree proceeds normally and stamps the hash version
    monkeypatch.setattr(entry_mod, "_pkg_tree_dirty", lambda: [])
    out = entry_mod.sync_check_hashes()
    payload = json.loads((tmp_path / "h.json").read_text())
    assert payload["__hash_version__"] == entry_mod._HASH_VERSION


def test_sync_never_resurrects_old_version_entries(entry_mod, tmp_path, monkeypatch):
    """ADVICE r6 #1: a _HASH_VERSION bump must NOT blanket-re-key the
    sidecar — an entry that had already expired in a previous round
    would be resurrected to the current hash without the driver ever
    re-testing it. Only names green in the NEWEST artifact (produced
    against the clean tree sync runs on) get fresh hashes; everything
    else keeps its recorded entry verbatim, old version or not, and
    simply stays expired until the driver re-checks it."""
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    green = entry_mod._artifact_green() & set(REGISTRY)
    assert green, "artifacts should contain green queries"
    import glob as _g

    arts = sorted(_g.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))
    newest = set(json.loads(open(arts[-1]).read())) if arts else set()
    stale = {name: "0" * 32 for name in green}
    for version in (entry_mod._HASH_VERSION - 1, entry_mod._HASH_VERSION):
        stale["__hash_version__"] = version
        path = tmp_path / "h.json"
        path.write_text(json.dumps(stale))
        monkeypatch.setattr(entry_mod, "_HASH_SIDECAR", str(path))
        monkeypatch.setattr(entry_mod, "_pkg_tree_dirty", lambda: [])
        out = entry_mod.sync_check_hashes()
        for name in out:
            if name in newest:
                assert out[name] == entry_mod.query_hash(REGISTRY[name])
            else:
                assert out[name] == "0" * 32, (
                    f"{name}: non-newest entry must be preserved verbatim "
                    f"(version {version})"
                )


def test_dep_walk_reaches_through_registry_helpers():
    """A builder reaching package modules only via registry-level
    helper functions (the roundtrip queries) still hashes them:
    editing functions/exact.py must expire s11/orc credit
    (code-review r5 finding #1)."""
    import __spark_entry__ as e
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    for q in ("orc_roundtrip_priority_revenue", "s11_json_export_roundtrip"):
        deps = e.query_dep_modules(REGISTRY[q])
        assert any(m.endswith("sources.catalog") for m in deps), (q, deps)
        assert any(m.endswith("functions.exact") for m in deps), (q, deps)


def test_dep_walk_resolves_package_init_relative_imports():
    """Relative imports inside a subpackage __init__ resolve against
    the package itself, not its parent (code-review r5 finding #2) —
    otherwise deps through re-exports silently vanish."""
    import __spark_entry__ as e

    pkg = "geoscale_healthflow_etl_django_analytics_spark"
    deps = e._module_direct_deps(f"{pkg}.sources")
    assert f"{pkg}.sources.catalog" in deps, deps


def test_functions_package_adds_no_siblings_to_closure():
    """``from ..functions import text`` walks ``functions/__init__.py``;
    that file re-exports nothing, so a query importing only
    ``functions.text`` does not hash the other function modules."""
    import __spark_entry__ as e
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    pkg = "geoscale_healthflow_etl_django_analytics_spark"
    deps = e.query_dep_modules(REGISTRY["text_lm_apply_pretrained"])
    assert f"{pkg}.functions.text" in deps, deps
    assert f"{pkg}.functions.cleaning" not in deps, deps
    assert f"{pkg}.functions.vectors" not in deps, deps


def test_never_checked_queries_outrank_expired_ones():
    """A query with NO row in any artifact sorts before one whose past
    green credit merely expired — new queries must reach the driver's
    50-entry window in their first round."""
    import __spark_entry__ as e

    order = list(e.queries())
    ever = e._artifact_green()
    fresh = [n for n in order if n not in ever]
    if fresh:  # every fresh query precedes every stale/checked one
        last_fresh = max(order.index(n) for n in fresh)
        assert last_fresh == len(fresh) - 1


def test_expired_queries_rotate_oldest_green_first(entry_mod, tmp_path, monkeypatch):
    """Within a tier, the query whose newest satisfactory row is oldest
    comes first, whatever its registry position; never-green queries
    stay ahead of all of them. Round numbers are parsed, not compared
    as text (r10 is newer than r9)."""
    late, early, refuted, fresh = (
        "hc_a1_yearly_slide_status",
        "hc_a5_total_summary",
        "hc_a2_gender_positivity",
        "hc_a4_daily_positivity",
    )
    green = {"err": None, "hash_match": True, "spark_rows": 3}
    (tmp_path / "CORRECTNESS_r9.json").write_text(
        json.dumps({late: green, early: green, refuted: green})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({late: green, refuted: {"err": "boom", "hash_match": False}})
    )
    monkeypatch.setattr(entry_mod, "_REPO_DIR", str(tmp_path))
    monkeypatch.setattr(entry_mod, "_HASH_SIDECAR", str(tmp_path / "none.json"))
    monkeypatch.setattr(entry_mod, "_newest_artifact_tested_names", lambda: set())

    assert entry_mod._newest_green_round() == {late: 10, early: 9, refuted: 9}
    order = list(entry_mod.queries())
    # the three expired names close the listing, the r10 one last
    assert set(order[-3:]) == {early, refuted, late}
    assert order[-1] == late
    assert order.index(fresh) < order.index(early)


def _git(repo, *args):
    import subprocess

    subprocess.run(
        ["git", *args], cwd=repo, check=True, capture_output=True,
        env={**os.environ,
             "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
             "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"},
    )


def test_newest_artifact_git_rule(entry_mod, tmp_path, monkeypatch):
    """The newest-artifact fallback (VERDICT r6 'What's missing' #2)
    counts the newest CORRECTNESS artifact's green rows iff git proves
    the current package tree is the one the driver tested: the
    artifact commit's PARENT is the tested tree, and any package diff
    between it and HEAD (or any uncommitted package change) must
    deactivate the rule."""
    repo = tmp_path / "repo"
    (repo / "pkgx").mkdir(parents=True)
    _git(repo, "init", "-q")
    (repo / "pkgx" / "mod.py").write_text("x = 1\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "round-end tree")
    (repo / "CORRECTNESS_r99.json").write_text(json.dumps({
        "hc_a5_total_summary": {"err": None, "hash_match": True,
                                "spark_rows": 3},
        # a no_oracle row with a recorded row count is satisfactory —
        # the registry no longer carries no-oracle entries (r10 oracle
        # hygiene), so any registered name exercises the rule here
        "udaf_trimmed_mean_vs_exact": {"err": "no_oracle", "spark_rows": 5},
        "hc_a1_yearly_slide_status": {"err": "boom", "hash_match": False},
        "not_a_registered_query": {"err": None, "hash_match": True},
    }))
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "artifacts")
    monkeypatch.setattr(entry_mod, "_REPO_DIR", str(repo))
    monkeypatch.setattr(entry_mod, "_PKG", "pkgx")

    got = entry_mod._newest_artifact_tested_names()
    assert got == {"hc_a5_total_summary", "udaf_trimmed_mean_vs_exact"}

    # an uncommitted package edit deactivates the rule
    (repo / "pkgx" / "mod.py").write_text("x = 2\n")
    assert entry_mod._newest_artifact_tested_names() == set()
    # ...and so does a committed one (tree no longer what was tested)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "in-round edit")
    assert entry_mod._newest_artifact_tested_names() == set()
    # a non-package commit on top keeps the rule ON only if pkg is
    # unchanged since the artifact's parent — here it changed, so off
    (repo / "notes.md").write_text("hi\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "docs")
    assert entry_mod._newest_artifact_tested_names() == set()


def test_newest_artifact_rule_requires_committed_artifact(
    entry_mod, tmp_path, monkeypatch
):
    """An artifact merely sitting on disk (not committed) proves
    nothing about which tree produced it — the rule must stay off."""
    repo = tmp_path / "repo"
    (repo / "pkgx").mkdir(parents=True)
    _git(repo, "init", "-q")
    (repo / "pkgx" / "mod.py").write_text("x = 1\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "tree")
    (repo / "CORRECTNESS_r99.json").write_text(json.dumps({
        "hc_a5_total_summary": {"err": None, "hash_match": True,
                                "spark_rows": 3},
    }))
    monkeypatch.setattr(entry_mod, "_REPO_DIR", str(repo))
    monkeypatch.setattr(entry_mod, "_PKG", "pkgx")
    assert entry_mod._newest_artifact_tested_names() == set()
