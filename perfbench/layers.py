"""Per-layer metrics of a traced run, computed from its spans and the
Spark jobs attributed to them. Times and bytes are means per call over
the measured windows; ratios are taken over sums. A layer a workload
never calls reads 0.
"""

from __future__ import annotations

import statistics

from .trace import Tracer

# name -> unit, in the order BENCHMARK.json lists them
NAMES = {
    "cdc.source.call_s": "s",
    "cdc.source.files_kept_ratio": "ratio",
    "cdc.runner.self_s": "s",
    "cdc.runner.merge_attempts": "count",
    "cdc.offsets.commit_s": "s",
    "cdc.manifests.commit_s": "s",
    "lake.table.merge.wall_s": "s",
    "lake.table.merge.driver_s": "s",
    "lake.table.merge.jobs": "count",
    "lake.table.merge.tasks": "count",
    "lake.table.merge.busy_s": "s",
    "lake.table.merge.busy_frac": "ratio",
    "lake.table.merge.input_bytes": "B",
    "lake.table.merge.shuffle_bytes": "B",
    "lake.table.merge.output_bytes": "B",
    "lake.table.merge.write_amp": "ratio",
    "lake.table.merge.useful_ratio": "ratio",
    "lake.table.merge.touched_frac": "ratio",
    "lake.table.compact.wall_s": "s",
    "lake.table.compact.output_bytes": "B",
    "lake.table.compact.deltas_folded": "count",
    "lake.table.compact.files": "count",
    "lake.bloom.build.wall_s": "s",
    "lake.bloom.build.output_bytes": "B",
    "lake.bloom.build.files": "count",
    "lake.table.lookup.wall_s": "s",
    "lake.table.lookup.driver_s": "s",
    "lake.table.lookup.jobs": "count",
    "lake.table.lookup.rows_examined_per_hit": "ratio",
    "lake.table.read.wall_s": "s",
    "lake.table.read.input_bytes": "B",
    "lake.table.read.shuffle_bytes": "B",
    "lake.table.read.pending_delta_files": "count",
    "lake.table.read_changes.wall_s": "s",
    "lake.table.read_changes.input_bytes": "B",
    "lake.table.read_changes.shuffle_bytes": "B",
    "streaming.batch_s": "s",
    "streaming.overhead_s": "s",
    "lake.partitioned.write_partitioned_wal.wall_s": "s",
    "lake.partitioned.write_partitioned_wal.shuffle_bytes": "B",
    "lake.partitioned.merge_prebucketed.wall_s": "s",
    "lake.partitioned.merge_prebucketed.driver_s": "s",
    "lake.partitioned.merge_prebucketed.jobs": "count",
    "lake.partitioned.merge_prebucketed.shuffle_bytes": "B",
    "lake.partitioned.merge_prebucketed.partitions_touched": "count",
    "lake.partitioned.merge_prebucketed.output_bytes": "B",
    "cdc.envelope.ready_ratio": "ratio",
    "cdc.envelope.dlq_rows": "count",
    "cdc.envelope.pending_rows": "count",
    "spark.gc_s": "s",
    "trace.residual_s": "s",
    "trace.read_s": "s",
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


class _Spans:
    """The spans under the measured windows, grouped by name, with
    their Spark work."""

    def __init__(self, tracer: Tracer):
        tracer.attribute()
        self.tracer = tracer
        self.roots = [s for s in tracer.spans if s["parent"] is None and s.get("phase") == "measure"]
        self.by_name: dict[str, list[dict]] = {}
        for r in self.roots:
            for s in tracer.subtree(r):
                if s is not r:
                    self.by_name.setdefault(s["name"], []).append(s)

    def get(self, name: str) -> list[dict]:
        return self.by_name.get(name, [])

    def work(self, name: str) -> list[dict]:
        return [self.tracer.span_work(s) for s in self.get(name)]

    def wall(self, name: str) -> float:
        return _mean(s["end"] - s["start"] for s in self.get(name))


def _common(run, sp: _Spans) -> dict:
    # per-layer self time per window: these and trace.residual_s add up
    # to the window's wall time
    self_s: dict[str, float] = {}
    for name, spans in sp.by_name.items():
        self_s[name] = sum(sp.tracer.self_time(s) for s in spans) / max(len(sp.roots), 1)
    run.context["self_s_per_window"] = {k: round(v, 4) for k, v in sorted(self_s.items())}
    m = {k: 0.0 for k in NAMES}
    m["spark.gc_s"] = run.context["spark_gc_s"]
    # a window's layer self-times add up to its wall time; what is left
    # is the window span's own self time: on the flat table the harness
    # between the layers, on the tree the stream's own work
    m["trace.residual_s"] = _mean(sp.tracer.self_time(r) for r in sp.roots)
    m["trace.read_s"] = sp.tracer.overhead_s / max(len(sp.roots), 1)
    m["cdc.manifests.commit_s"] = sp.wall("cdc.manifests.commit")
    return m


def _work_means(m: dict, prefix: str, work: list[dict], keys) -> None:
    for k in keys:
        m[f"{prefix}.{k}"] = _mean(w[k] for w in work)


def flat(run, tracer: Tracer, stream) -> None:
    sp = _Spans(tracer)
    m = _common(run, sp)
    calls = sp.get("cdc.source.call")
    m["cdc.source.call_s"] = sp.wall("cdc.source.call")
    m["cdc.source.files_kept_ratio"] = sum(s["kept"] for s in calls) / max(sum(s["total"] for s in calls), 1)
    m["cdc.runner.self_s"] = _mean(tracer.self_time(s) for s in sp.get("cdc.runner.run_window"))
    merges = sp.get("lake.table.merge")
    m["cdc.runner.merge_attempts"] = len(merges) / max(len(sp.get("cdc.runner.run_window")), 1)
    m["cdc.offsets.commit_s"] = sp.wall("cdc.offsets.commit")

    work = sp.work("lake.table.merge")
    _work_means(m, "lake.table.merge", work, ("wall_s", "driver_s", "jobs", "tasks", "busy_s", "input_bytes", "shuffle_bytes", "output_bytes"))
    cores = run.context["nproc"]
    m["lake.table.merge.busy_frac"] = sum(w["busy_s"] for w in work) / max(sum(w["wall_s"] for w in work) * cores, 1e-9)
    window_bytes = sum(s["in_bytes"] for s in calls)
    m["lake.table.merge.write_amp"] = sum(w["output_bytes"] for w in work) / max(window_bytes, 1)
    useful = sum(
        r["rows_inserted"] + r["rows_updated"] + r["rows_deleted"] + r["rows_delta"]
        for r in (s["result"] for s in merges)
    )
    m["lake.table.merge.useful_ratio"] = useful / max(len(merges) * stream.spec.chunk, 1)
    m["lake.table.merge.touched_frac"] = _mean(len(s["result"]["touched_buckets"]) / s["num_buckets"] for s in merges)

    compacts = sp.get("lake.table.compact")
    m["lake.table.compact.wall_s"] = sp.wall("lake.table.compact")
    m["lake.table.compact.output_bytes"] = _mean(w["output_bytes"] for w in sp.work("lake.table.compact"))
    m["lake.table.compact.deltas_folded"] = _mean(s["deltas_before"] for s in compacts)
    m["lake.table.compact.files"] = _mean(s["files"] for s in compacts)
    blooms = sp.get("lake.bloom.build")
    m["lake.bloom.build.wall_s"] = sp.wall("lake.bloom.build")
    m["lake.bloom.build.output_bytes"] = _mean(s["output_bytes"] for s in blooms)
    m["lake.bloom.build.files"] = _mean(s["files"] for s in blooms)

    work = sp.work("lake.table.lookup")
    _work_means(m, "lake.table.lookup", work, ("wall_s", "driver_s", "jobs"))
    hits = sum(s["hits"] for s in sp.get("lake.table.lookup"))
    m["lake.table.lookup.rows_examined_per_hit"] = sum(w["input_records"] for w in work) / max(hits, 1)
    _work_means(m, "lake.table.read", sp.work("lake.table.read"), ("wall_s", "input_bytes", "shuffle_bytes"))
    m["lake.table.read.pending_delta_files"] = _mean(s["pending_delta_files"] for s in sp.get("lake.table.read"))
    _work_means(m, "lake.table.read_changes", sp.work("lake.table.read_changes"), ("wall_s", "input_bytes", "shuffle_bytes"))
    run.layers = {k: (v, NAMES[k]) for k, v in m.items()}


def tree(run, tracer: Tracer, progress: list[dict], arrived: int, dlq: int, pending: list[int]) -> None:
    sp = _Spans(tracer)
    m = _common(run, sp)
    durations = [p["durationMs"] for p in progress]
    m["streaming.batch_s"] = _mean(d.get("addBatch", 0) / 1000.0 for d in durations)
    m["streaming.overhead_s"] = _mean((d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000.0 for d in durations)
    _work_means(
        m, "lake.partitioned.write_partitioned_wal",
        sp.work("lake.partitioned.write_partitioned_wal"), ("wall_s", "shuffle_bytes"),
    )
    _work_means(
        m, "lake.partitioned.merge_prebucketed",
        sp.work("lake.partitioned.merge_prebucketed"), ("wall_s", "driver_s", "jobs", "shuffle_bytes", "output_bytes"),
    )
    m["lake.partitioned.merge_prebucketed.partitions_touched"] = _mean(
        s["partitions_touched"] for s in sp.get("lake.partitioned.merge_prebucketed")
    )
    m["cdc.envelope.ready_ratio"] = (arrived - dlq - (pending[-1] if pending else 0)) / max(arrived, 1)
    m["cdc.envelope.dlq_rows"] = dlq
    m["cdc.envelope.pending_rows"] = max(pending, default=0)
    run.layers = {k: (v, NAMES[k]) for k, v in m.items()}
