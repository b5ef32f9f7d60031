"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [--gates-only]

1. Every correctness gate's comparison fails when handed a deliberately
   wrong expectation (no Spark needed).
2. A tiny configuration of every workload, untraced and traced, passes
   its gates and prints every metric ``BENCHMARK.json`` names, each with
   its unit, in the result line.

Runs every check and exits non-zero if any failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pandas as pd
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gates  # noqa: E402
from perfbench.inputs import CHANGE_ARROW, _write  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


FAILED: list[str] = []


def check(cond: bool, what: str) -> bool:
    print(f"{'ok' if cond else 'FAIL'}: {what}", flush=True)
    if not cond:
        FAILED.append(what)
    return cond


def _events(rows) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["ts"] = pd.to_datetime(df["ts"], unit="s", utc=True)
    return df


def gate_self_checks(tmp: str) -> None:
    day = 86400
    ev = _events([
        ("insert", 1, "c1", 0, "user", "a#1", None, 10),
        ("update", 2, "c1", 0, "user", "a#2", "bash", 20),
        ("insert", 3, "c2", 1, "tool", "b#3", None, 30),
        ("delete", 4, "c2", 1, None, None, None, 40),
        ("insert", 5, "c3", 2, "user", "c#5", None, 50),
        ("insert", 6, "c3", 2, "user", "c#6", None, 50 + day),  # same key, next day
    ])
    path = os.path.join(tmp, "events.parquet")
    _write(ev, path, CHANGE_ARROW)
    wire_path = os.path.join(tmp, "wireflat.parquet")  # as the envelope stream writes it
    _write(ev.assign(malformed=False), wire_path, CHANGE_ARROW.append(pa.field("malformed", pa.bool_())))

    flat = gates.fold_flat([path])
    check(sorted(flat["text"]) == ["a#2", "c#6"], "flat fold keeps the highest LSN per key and drops deletes")
    check(gates.rows_mismatch(flat, flat) == 0, "final-table gate passes on the right expectation")
    check(gates.rows_mismatch(flat, flat.iloc[1:]) == 1, "final-table gate fails on a missing row")
    wrong = flat.copy()
    wrong.loc[0, "text"] = "a#1"
    check(gates.rows_mismatch(flat, wrong) == 2, "final-table gate fails on a stale winner")

    tree = gates.fold_tree([wire_path])
    check(sorted(tree["text"]) == ["a#2", "c#5", "c#6"], "tree fold keeps one row per (day, key)")
    check(gates.rows_mismatch(tree, flat) == 1, "a flat-key fold fails the tree gate (non-global index)")

    fold = gates.KeyFold()
    check(fold.apply(ev.iloc[:3]) == 2, "changelog expectation counts changed keys")
    check(fold.apply(ev.iloc[3:]) == 2, "changelog expectation counts a delete and an insert")
    check(fold.state[("c3", 2)] == (6, "c#6"), "lookup expectation is the fold's winning row")
    check(fold.apply(ev.iloc[3:4]) == 0, "changelog gate would fail a pull that reports a no-op delete")


def workload_checks() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    listed = {w["name"] for w in bench["workloads"]}
    check(listed <= set(WORKLOADS), f"every workload BENCHMARK.json lists runs by name {sorted(listed)}")
    for name in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", "5",
                 "--seconds", "1", "--trace", str(trace), "--tiny"],
                capture_output=True, text=True, timeout=600, cwd=ROOT,
            )
            if not check(out.returncode == 0, f"{name} trace={trace} exits 0 ({out.stderr[-500:] if out.returncode else ''})"):
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name} trace={trace} result keys")
            gates_failed = [ln for ln in out.stdout.splitlines() if ln.startswith("GATE FAILED")]
            check(res["correct"] and res["failed"] == 0, f"{name} trace={trace} passes every gate {gates_failed}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want[trace], f"{name} trace={trace} prints every named metric with its unit")
            printed = [ln for ln in out.stdout.splitlines() if ln.startswith("metric ")]
            check(len(printed) == len(want[trace]), f"{name} trace={trace} prints each metric by name")
            if name == "ingest_wire_tree" and trace:
                zx = {k: res["metrics"][f"lake.partitioned.merge_prebucketed.{k}"]["value"]
                      for k in ("shuffle_bytes", "jobs", "partitions_touched")}
                check(zx["jobs"] > 0 and zx["partitions_touched"] > 0 and zx["shuffle_bytes"] == 0,
                      f"the tree's merge_prebucketed runs Spark jobs on touched days and shuffles 0 bytes {zx}")


def main() -> int:
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=tmp) as d:
        gate_self_checks(d)
    if "--gates-only" not in sys.argv:
        workload_checks()
    for f in FAILED:
        print("FAILED:", f)
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
