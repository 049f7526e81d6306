"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one client, closed loop:
the next op starts when the previous one (and its output check) is
done.  Spark runs as ``local[<cores>]``.  Set-up generates every input
from ``--seed`` into a fresh work directory under ``.bench_work/``,
starts the Spark session and runs one warm-up pass of every op kind at
the measured scale.  The measured loop then runs whole passes over the
op kinds, each pass in a seeded order, until ``--seconds`` have passed
and at least the workload's minimum number of passes has run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
spans around every layer call, enables Spark's event log and prints the
per-layer metrics instead.  The last stdout line is the JSON result;
the line before it carries the run's context (seed, op order, per-kind
latencies, box calibration).  See benchmark/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import subprocess
import threading
import time
import traceback

PKG = "geoscale_healthflow_etl_django_analytics_spark"
HERE = os.path.dirname(os.path.abspath(__file__))


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "etl_ingest", "curation_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="small inputs, for benchmark/selftest.py")
    return ap.parse_args(argv)


def heap_for_box() -> str:
    """A quarter of physical memory, 1-8 GiB: the session's 16g default
    is larger than small boxes' RAM."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


def _prepare_env(work: str, cores: int, heap: str) -> None:
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


# ---------------------------------------------------------------------------
# process tree: peak memory and shutdown
# ---------------------------------------------------------------------------


def _descendants(root_pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss(threading.Thread):
    """Samples the resident memory of the JVM and its Python workers."""

    def __init__(self, jvm_pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every, self.peak = jvm_pid, every_s, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(self.every):
            self.peak = max(self.peak, _rss_bytes(_descendants(self.pid)))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"no {PKG}/ in {root}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    heap = heap_for_box()
    _prepare_env(work, cores, heap)

    import spans as tr
    import workloads

    t_setup = time.perf_counter()
    from geoscale_healthflow_etl_django_analytics_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"bench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_setup
    from pyspark import SparkContext

    rss = PeakRss(SparkContext._gateway.proc.pid)
    rss.start()
    tracer = tr.Tracer(bool(args.trace), spark.sparkContext)
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer, args.small)

    rng = random.Random(args.seed)
    records: list[dict] = []

    def one_pass(tag: str) -> list[str]:
        order = list(wl.kinds)
        rng.shuffle(order)
        for kind in order:
            op_id = f"{tag}{len(records)}"
            ok, t0 = False, time.perf_counter()
            try:
                with tracer.op(op_id, kind):
                    result = wl.run_op(kind)
                dt = time.perf_counter() - t0
                ok = bool(wl.check(kind, result))
            except Exception:  # an op that raises is a failed op
                dt = time.perf_counter() - t0
                print(f"op {op_id} {kind} failed:\n{traceback.format_exc()}",
                      file=sys.stderr)
            records.append({"id": op_id, "kind": kind, "s": dt, "ok": ok, "tag": tag})
        return order

    try:
        wl.setup()
        t_warm = time.perf_counter()
        one_pass("w")
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        # whole passes, at least the workload's minimum, until --seconds
        # have passed, so every run measures the same mix of op kinds
        t_run, orders = time.perf_counter(), []
        while len(orders) < wl.min_passes or time.perf_counter() - t_run < args.seconds:
            orders.append(one_pass("m"))
        run_wall = time.perf_counter() - t_run

        # box context: the calibration cell's single-core CPU pass (its
        # Spark pass costs ~35 s on 4 cores, too much for every run)
        import bench_calibration

        calibration = {
            "version": bench_calibration.CAL_VERSION,
            "cpu_s": round(bench_calibration._cpu_pass(), 3),
        }
    finally:
        peak_rss_mb = rss.stop()
        _shutdown(spark)

    measured = [r for r in records if r["tag"] == "m"]
    warm_failed = sum(not r["ok"] for r in records if r["tag"] == "w")
    lat = [r["s"] for r in measured]
    failed = sum(not r["ok"] for r in measured)
    per_kind = {
        k: round(statistics.median([r["s"] for r in measured if r["kind"] == k]), 4)
        for k in wl.kinds
    }
    write_amp = wl.bytes_written / wl.bytes_in if wl.bytes_in else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": ((len(measured) - failed) / run_wall, "1/s"),
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "heap": heap,
        "loop": "closed, 1 client",
        "op_order": orders[0],
        "passes": len(orders),
        "pass_s": [
            round(sum(r["s"] for r in measured[i : i + len(wl.kinds)]), 3)
            for i in range(0, len(measured), len(wl.kinds))
        ],
        "ops": len(measured),
        # fewer than 20 samples leave no percentile above the median with
        # 10 samples beyond it, so the slowest op stands in for the tail
        "op_max_s": round(max(lat), 4),
        "run_wall_s": round(run_wall, 3),
        "session_start_s": round(session_start_s, 3),
        "inputs_s": round(sum(wl.gen_s.values()), 3),
        "warmup_s": round(warmup_s, 3),
        "warmup_failed": warm_failed,
        "fail_ratio": failed / len(measured),
        "write_amp": round(write_amp, 4),
        "peak_rss_mb": round(peak_rss_mb, 1),
        "per_kind_p50_s": per_kind,
        "warmup_kind_s": {r["kind"]: round(r["s"], 3) for r in records if r["tag"] == "w"},
        "calibration": calibration,
    }

    if args.trace:
        groups = tr.read_event_log(os.path.join(work, "eventlog"))
        tr.attach_jobs(tracer.spans, groups)
        ids = {r["id"] for r in measured}
        layer = tr.layer_metrics(tracer.spans, groups, ids, cores)
        context["build_share_by_kind"] = tr.build_share_by_kind(tracer.spans, ids)
        layer.update({
            "session.start_s": session_start_s,
            "scalegen.gen_s": wl.gen_s.get("scalegen.gen_s", 0.0),
            "inputs.gen_s": wl.gen_s.get("inputs.gen_s", 0.0),
            "setup.warmup_s": warmup_s,
            "staging.bytes_written": (
                sum(wl.staged_bytes) / len(wl.staged_bytes) if wl.staged_bytes else 0.0
            ),
            "upsert.changed_ratio": wl.changed / wl.rewritten if wl.rewritten else 0.0,
            "write_amp": write_amp,
            "peak_rss_mb": peak_rss_mb,
            "trace.op_p50_s": statistics.median(lat),
        })
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        tr.write_spans(
            os.path.join(root, ".bench_work", "traces",
                         f"{args.workload}-s{args.seed}.jsonl"),
            tracer.spans,
        )
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps(context))
    print(json.dumps({
        "correct": failed == 0 and warm_failed == 0,
        "attempted": len(measured),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(run(_parse_args(sys.argv[1:])))
