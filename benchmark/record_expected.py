"""Record the curation_batch reference digests.

    python3 benchmark/record_expected.py

Run from the root of a checkout.  Generates the scalegen corpus the
curation_batch workload uses (it does not depend on the seed), runs
each curation op twice, requires both runs to agree, and writes
``benchmark/expected_curation.json``.  Re-record only when a change is
meant to alter these queries' results.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path.insert(1, root)
    import run
    import spans
    import workloads

    work = os.path.join(root, ".bench_work", f"record-{os.getpid()}")
    run._prepare_env(work, len(os.sched_getaffinity(0)), run.heap_for_box())
    from geoscale_healthflow_etl_django_analytics_spark.session import get_spark

    spark = get_spark(app_name="bench-record")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = workloads.CurationBatch(spark, work, 0, spans.Tracer(False))
        from geoscale_healthflow_etl_django_analytics_spark import scalegen

        wl.data_dir = os.path.join(work, f"x{wl.multiplier}")
        scalegen.write_scale_dir(spark, wl.data_dir, wl.multiplier, only=("documents",))
        ref = {}
        for kind in wl.kinds:
            a, b = (workloads.digest(wl.run_op(kind)) for _ in range(2))
            if a != b:
                print(f"{kind}: runs disagree {a} vs {b}", file=sys.stderr)
                return 1
            ref[kind] = a
            print(kind, a)
    finally:
        run._shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(HERE, "expected_curation.json")
    with open(path) as f:
        out = json.load(f) if os.path.getsize(path) else {}
    out[f"x{wl.multiplier}"] = ref
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
