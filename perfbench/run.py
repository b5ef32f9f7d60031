"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_mor --seed 1 --seconds 4 --trace 0

Context lines come first (input sizes, run context, every metric with
its unit, any failed gate). The last line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench/`` in
the checkout; a traced run also writes its spans there. The process
exits non-zero, printing no result, when the package cannot be imported
or a workload raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers and pyarrow
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    # Spark's Python workers unpickle the package's UDFs: let them import
    # it whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="the smoke test's small sizes")
    args = ap.parse_args(argv)

    run = wl.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, wl.TINY if args.tiny else wl.FULL)
    try:
        wl.WORKLOADS[args.workload](run)
        if args.trace:
            run.tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if run.spark is not None:
            wl.stop_session(run.spark)
        shutil.rmtree(run.dir, ignore_errors=True)

    import pyspark

    run.context["pyspark"] = pyspark.__version__
    if args.trace:
        import bench

        run.context["cpu_probe_ns_per_iter"] = bench.cpu_probe()
    spec = run.spec
    sizes = {
        "seed": args.seed, "base_events": spec.base_events,
        "window_events": spec.chunk, "conversations": spec.n_convs,
    }
    print("input", json.dumps(sizes))
    print("context", json.dumps(run.context, sort_keys=True))
    shown = run.layers if args.trace else run.metrics
    for k, (v, unit) in shown.items():
        print(f"metric {k} = {v:.6g} {unit}")
    for f in run.failures:
        print("GATE FAILED", f)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
