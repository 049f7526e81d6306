"""Sub-document segmentation units (the "line"/paragraph proxies
for segment-level dedup).  Own module (not functions/text.py) so the
text expression library's bytes — in the code path of most text
queries — stay untouched by this round's additions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import tokens


def token_window_segments(col: Column, n: int = 10) -> Column:
    """NON-overlapping n-token windows as array<string> — the
    "line"/paragraph proxy for sub-document dedup on corpora whose
    documents carry no newline structure (this test corpus is a
    single-line token stream; a real corpus would segment on
    ``split(text, '\\n')`` and feed the same downstream operator).
    Original case/spacing of each window is preserved — matching
    normalizes via :func:`fingerprint`, reassembly keeps the source
    text.  The trailing partial window is a segment of its own.
    Empty/whitespace-only docs yield an empty array (NOT a [''] —
    Spark's sequence(0, -1) would descend).  Same bound-variable
    trick as word_shingles_sql."""

    def build(t: Column) -> Column:
        n_seg = F.ceil(F.size(t) / F.lit(float(n))).cast("int")
        idx = F.sequence(F.lit(0), n_seg - 1)
        return F.when(
            F.size(t) > 0,
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(t, i * n + 1, n))
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)
