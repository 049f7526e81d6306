"""Fast self-test of the benchmark.

    python3 benchmark/selftest.py [workload ...]

Run from the root of a checkout.  Runs each workload on small inputs
(``--small``), untraced and traced with the same seed, and checks that:

- the run is correct and every op passed;
- every end-to-end metric (untraced) and every per-layer metric
  (traced) of BENCHMARK.json is present with its unit;
- the written spans nest: every self time is >= 0, no child sticks out
  of its parent, and the op self share is within the stated tolerance.

Prints the tracing overhead (traced minus untraced ``op_p50_s``) per
workload.  Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 3
OP_SELF_SHARE_MAX = 0.05


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--small"],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _expect(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"FAIL: {what}")


def main(names: list[str]) -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = names or [w["name"] for w in spec["workloads"]]
    for wl in names:
        res = {t: _run(wl, t) for t in (0, 1)}
        for t, group in ((0, "end_to_end"), (1, "per_layer")):
            r = res[t]
            _expect(r["correct"] and r["failed"] == 0, f"{wl} trace={t} not correct")
            for m in spec[group]:
                got = r["metrics"].get(m["name"])
                _expect(got is not None, f"{wl}: {m['name']} missing")
                _expect(got["unit"] == m["unit"], f"{wl}: {m['name']} unit {got['unit']}")
                _expect(isinstance(got["value"], (int, float)), f"{wl}: {m['name']} value")
            _expect(set(r["metrics"]) == {m["name"] for m in spec[group]},
                    f"{wl} trace={t}: unexpected metrics")
        layer = res[1]["metrics"]
        with open(os.path.join(".bench_work", "traces", f"{wl}-s{SEED}.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        _expect(all(s["self_s"] >= -1e-9 for s in spans), f"{wl}: negative self time")
        _expect(layer["trace.nesting_errors"]["value"] == 0, f"{wl}: spans do not nest")
        share = layer["trace.op_self_share"]["value"]
        _expect(share <= OP_SELF_SHARE_MAX, f"{wl}: op self share {share:.3f}")
        jobs = sum(s["name"] == "spark.job" for s in spans)
        _expect(jobs > 0, f"{wl}: no Spark jobs attached to spans")
        overhead = layer["trace.op_p50_s"]["value"] - res[0]["metrics"]["op_p50_s"]["value"]
        print(f"{wl}: ok, {len(spans)} spans ({jobs} Spark jobs), op self share "
              f"{share:.4f}, tracing overhead {overhead:+.4f} s on op_p50_s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
