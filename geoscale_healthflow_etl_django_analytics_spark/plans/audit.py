"""Physical-plan audits: the 100 TB checklist, mechanically checked.

`.explain("formatted")` is the feedback loop this engine is tuned
with; these helpers turn the eyeball checks into assertions used by
tests/test_plans.py:

- filters reach the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema ⊆ needed columns),
- dimension joins broadcast (BroadcastHashJoin / BroadcastNestedLoop),
- aggregations have a map-side partial pass (two HashAggregate
  phases around the exchange),
- no CartesianProduct sneaks in,
- whole-stage codegen spans exist.

:func:`normalized_plan` is the plan-identity form: the formatted plan
with the text that differs between processes building identical code
rewritten to stable tokens.
"""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

from ..sources.catalog import FIXTURE_ROOT


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Process-global counters, renumbered by first appearance so two plans
# of the same shape compare equal while distinct ids stay distinct:
# expression ids (``doc_id#892L``), exchange plan ids, RDD ids and the
# lambda-variable counter (``lambda x_153``).
_COUNTERS = (
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
    re.compile(r"(lambda x_)(\d+)"),
)
# the pid suffix of a per-process fixture directory (registry
# ``_roundtrip_path``: ``json_orders_root_testdata_sf0.01_13205``)
_FIXTURE_PID = re.compile(
    rf"({re.escape(os.path.basename(FIXTURE_ROOT))}/[\w.]+?)_\d+(?=[/\],\s]|$)"
)
# the Python call site Spark records for an RDD made from Python
# (``localCheckpoint``, ``applySchemaToPythonRDD``): ``<unknown>:0`` or
# ``NativeMethodAccessorImpl.java:0`` depending on the JVM's state
_CALL_SITE = re.compile(r"( at \w+ at )(?:<unknown>|NativeMethodAccessorImpl\.java):0")


def normalize_plan(plan: str) -> str:
    """``plan`` text with the process-dependent parts (above) made
    stable."""
    for pat in _COUNTERS:
        seen: dict[str, int] = {}
        plan = pat.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen))),
            plan,
        )
    plan = _FIXTURE_PID.sub(r"\1_<pid>", plan)
    return _CALL_SITE.sub(r"\1<call site>", plan)


def normalized_plan(df: DataFrame) -> str:
    """The formatted plan of ``df`` in :func:`normalize_plan` form: equal
    for byte-identical code built in two processes."""
    return normalize_plan(formatted_plan(df))


def simple_plan(df: DataFrame) -> str:
    """Simple-mode explain — the one that carries `*(N)` whole-stage
    codegen markers (formatted mode drops them)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def scan_read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def pushed_filters(plan: str) -> list[str]:
    return [
        m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()
    ]


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_partial_aggregation(plan: str) -> bool:
    # partial+final hash aggregate around the shuffle
    return len(re.findall(r"HashAggregate", plan)) >= 2


def has_cartesian_product(plan: str) -> bool:
    return "CartesianProduct" in plan


def codegen_stage_count(plan: str) -> int:
    """Count distinct whole-stage-codegen spans; accepts either the
    simple-mode `*(N)` markers or explicit WholeStageCodegen nodes."""
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)


def scan_columns(plan: str) -> set[str]:
    cols: set[str] = set()
    for schema in scan_read_schemas(plan):
        for field in schema.split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def audit(df: DataFrame) -> dict:
    """One-call plan summary for interactive tuning."""
    plan = formatted_plan(df)
    return {
        "pushed_filters": pushed_filters(plan),
        "read_schemas": scan_read_schemas(plan),
        "broadcast_join": has_broadcast_join(plan),
        "partial_aggregation": has_partial_aggregation(plan),
        "cartesian_product": has_cartesian_product(plan),
        "codegen_stages": codegen_stage_count(plan),
    }
