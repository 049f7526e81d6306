"""Every defaulted parameter of a package function is varied by some
caller: a setting that no call site changes is a constant, not an option.

Static only (``ast``, no Spark). Every function of the package is
scanned, nested functions and methods included; call sites are read in
the package, ``benchmark/``, ``tests/``, ``tools/``, the top-level bench
scripts, ``__spark_entry__.py`` and the verify skill's driver. A call
resolves to a definition by its bare name (``f(...)``, ``mod.f(...)``,
``obj.f(...)``; a class name calls its ``__init__``). Not judged:
functions whose name is defined twice in the package, functions used as
values (passed, stored or decorated rather than called), and the
parameters a ``*args``/``**kw`` call could reach. An argument restates
the default when both spell the same literal, the same name (module
prefix ignored), or a name bound to that literal at module level (in
the file at hand, else in the one package module that binds it).
"""

from __future__ import annotations

import ast
import functools
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "geoscale_healthflow_etl_django_analytics_spark"
CALLERS = (
    PKG,
    "benchmark",
    "tests",
    "tools",
    "bench.py",
    "scale_bench.py",
    "bench_calibration.py",
    "__spark_entry__.py",
    os.path.join(".claude", "skills", "verify"),
)
# (module, function) -> (exempt parameters or None for all, reason)
EXEMPT = {
    ("session.py", "get_spark"): (
        None,
        "deployment settings: the master, shuffle width and confs belong to "
        "whoever starts the session, not to the engine",
    ),
    ("pipelines.py", "health_center_etl"): (
        {"district", "sector", "years"},
        "request filters: they mirror the reference endpoint's HTTP query "
        "parameters, which its clients set per request",
    ),
}


def _py_files(root: str, rel: str) -> list[str]:
    path = os.path.join(root, rel)
    if os.path.isfile(path):
        return [path] if path.endswith(".py") else []
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return sorted(out)


@functools.lru_cache(maxsize=None)
def _parse(src: str) -> ast.Module:
    return ast.parse(src)


def _norm(node: ast.expr, consts: dict[str, object]) -> object:
    """A comparable value: the literal, a module constant's literal, a
    name with any module prefix dropped, or the expression's AST dump."""
    try:
        return ("lit", repr(ast.literal_eval(node)))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        pass
    name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
    if name is not None:
        if name in consts:
            return ("lit", repr(consts[name]))
        return ("name", name)
    return ("expr", ast.dump(node))


def _consts(src: str) -> dict[str, object]:
    """Module-level names bound to a literal."""
    out = {}
    for stmt in _parse(src).body:
        if not isinstance(stmt, ast.Assign) or len(stmt.targets) != 1:
            continue
        if isinstance(stmt.targets[0], ast.Name):
            try:
                out[stmt.targets[0].id] = ast.literal_eval(stmt.value)
            except (ValueError, TypeError, SyntaxError, RecursionError):
                pass
    return out


class _Def:
    def __init__(self, module: str, fn: ast.FunctionDef, offset: int):
        self.module, self.name, self.offset = module, fn.name, offset
        a = fn.args
        positional = a.posonlyargs + a.args
        self.positional = [p.arg for p in positional]
        with_default = positional[len(positional) - len(a.defaults):]
        self.defaults: dict[str, ast.expr] = {
            p.arg: d for p, d in zip(with_default, a.defaults)
        }
        self.defaults.update(
            {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
        )


def _defs(sources: dict[str, str]) -> tuple[dict[str, _Def], dict[str, object]]:
    """Uniquely named definitions (a class name stands for its
    ``__init__``) and the literal constants that one package module
    binds."""
    defs: dict[str, list[_Def]] = {}
    taken: dict[str, int] = {}
    bound: dict[str, list[object]] = {}
    for module, src in sources.items():
        tree = _parse(src)
        for name, value in _consts(src).items():
            bound.setdefault(name, []).append(value)

        def visit(node: ast.AST, in_class: ast.ClassDef | None) -> None:
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(
                        getattr(d, "id", None) == "staticmethod" for d in child.decorator_list
                    )
                    d = _Def(module, child, int(in_class is not None and not static))
                    if in_class is not None and child.name == "__init__":
                        defs.setdefault(in_class.name, []).append(d)
                    else:
                        defs.setdefault(child.name, []).append(d)
                        taken[child.name] = taken.get(child.name, 0) + 1
                    visit(child, None)
                elif isinstance(child, ast.ClassDef):
                    taken[child.name] = taken.get(child.name, 0) + 1
                    visit(child, child)
                else:
                    visit(child, in_class)

        visit(tree, None)
    unique = {k: ds[0] for k, ds in defs.items() if taken[k] == 1 and len(ds) == 1}
    return unique, {name: vs[0] for name, vs in bound.items() if len(vs) == 1}


def dead_parameters(
    sources: dict[str, str], callers: dict[str, str], exempt: dict | None = None
) -> list[str]:
    """``module:function(param=default)`` for every defaulted parameter
    no scanned call site passes a non-default value to."""
    exempt = EXEMPT if exempt is None else exempt
    defs, pkg_consts = _defs(sources)
    def_consts = {m: {**pkg_consts, **_consts(src)} for m, src in sources.items()}
    live: set[tuple[str, str]] = set()
    as_value: set[str] = set()
    for src in callers.values():
        nodes = list(ast.walk(_parse(src)))
        consts = {**pkg_consts, **_consts(src)}
        called = {id(c.func) for c in nodes if isinstance(c, ast.Call)}
        for node in nodes:
            ref = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
            loaded = isinstance(getattr(node, "ctx", None), ast.Load)
            if ref in defs and loaded and id(node) not in called:
                as_value.add(ref)
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            callee = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            d = defs.get(callee)
            if d is None:
                continue
            offset = d.offset if isinstance(func, ast.Attribute) or callee != d.name else 0
            passed: dict[str, ast.expr] = {}
            for i, arg in enumerate(node.args):
                if isinstance(arg, ast.Starred):
                    live.update((callee, p) for p in d.positional[offset + i:])
                    break
                if offset + i < len(d.positional):
                    passed[d.positional[offset + i]] = arg
            for kw in node.keywords:
                if kw.arg is None:
                    live.update((callee, p) for p in d.defaults if p not in passed)
                else:
                    passed[kw.arg] = kw.value
            for p, arg in passed.items():
                if p not in d.defaults:
                    continue
                if _norm(arg, consts) != _norm(d.defaults[p], def_consts[d.module]):
                    live.add((callee, p))
    dead = []
    for key, d in sorted(defs.items(), key=lambda kv: (kv[1].module, kv[0])):
        if key in as_value:
            continue
        keep, _ = exempt.get((os.path.basename(d.module), d.name), (set(), ""))
        for p, default in d.defaults.items():
            if (key, p) in live or keep is None or p in keep:
                continue
            dead.append(f"{d.module}:{key}({p}={ast.unparse(default)})")
    return dead


def _read(paths: list[str]) -> dict[str, str]:
    out = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            out[os.path.relpath(path, REPO)] = f.read()
    return out


def test_every_default_is_varied_by_a_caller():
    sources = _read(_py_files(REPO, PKG))
    callers = _read(sorted({p for rel in CALLERS for p in _py_files(REPO, rel)}))
    dead = dead_parameters(sources, callers)
    listing = "\n".join(dead)
    assert not dead, f"{len(dead)} defaulted parameters no caller varies:\n{listing}"


def test_scan_sees_a_dead_parameter():
    src = (
        "K = 3\n"
        "def f(x, k=K, n=2):\n    return x\n"
        "def g(x, k=1):\n    return f(x, k=3, n=5) + g(x)\n"
    )
    sources = {"m.py": src}
    # f's k=3 restates K; only n is varied
    assert dead_parameters(sources, sources, exempt={}) == ["m.py:f(k=K)", "m.py:g(k=1)"]
    exempt = {("m.py", "g"): ({"k"}, "")}
    assert dead_parameters(sources, sources, exempt=exempt) == ["m.py:f(k=K)"]
