"""registry.py keeps one home per builder contract: no 6-line code
window of one top-level function body repeats in another.

Static only (``ast`` + ``tokenize``, no Spark). Lines inside
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
