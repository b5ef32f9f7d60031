"""The benchmark's workloads: closed loops with one client each.

Every workload preloads a base during set-up, applies one tail window
as warm-up and then measures whole units of work -- single windows,
whole compaction cycles, or odd/even envelope-file pairs -- until the
run's seconds are spent. The next window starts only after the
previous one (and the reads that follow it) has completed. See
README.md for why each workload is in the set.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from . import gates
from .inputs import ChangeStream, EnvelopeStream, StreamSpec
from .trace import Tracer

KEY = ["conv_id", "turn_idx"]
NUM_BUCKETS = 8
SETUP_REPS = 2  # base loads in set-up; setup_s takes the median
LOOKUPS = 1  # point reads after each serve_mor window
COMPACT_EVERY = 2  # serve_mor: windows per compaction cycle


FULL = StreamSpec(chunk=4000, base_chunks=6, n_convs=1500)
# the smoke test's configuration: every code path, seconds not minutes
TINY = StreamSpec(chunk=400, base_chunks=2, n_convs=60, txn_per_file=4, txn_spanning=2)


class Run:
    """One run's inputs, results and correctness verdicts."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, spec: StreamSpec):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spec = spec
        self.dir = os.path.join(work, "runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.metrics: dict[str, tuple[float, str]] = {}  # end to end
        self.layers: dict[str, tuple[float, str]] = {}  # per layer (traced)
        self.context: dict = {"nproc": nproc()}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer: Tracer | None = None
        self.spark = None  # set by start_session; run.py stops it

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


# ------------------------------------------------------------- helpers
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run: Run):
    from oregonwaterdataportal_etl_spark.session import get_spark

    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    run.spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # keep the JVM's temp files and perf-data file inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return run.spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections: the memory
    the run leaves behind (caches, registrations, plans)."""
    jvm = spark.sparkContext._gateway.jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def timed(fn, *args):
    """(fn(*args), seconds it took)."""
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


@contextmanager
def commit_clock():
    """Yield a list that gets the time each ``OffsetLog.commit``
    returns. A window is fresh once its offset is committed; the
    runner's compaction comes after that."""
    from oregonwaterdataportal_etl_spark.cdc import OffsetLog

    times: list[float] = []
    orig = OffsetLog.commit

    def commit(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        times.append(time.perf_counter())
        return out

    OffsetLog.commit = commit
    try:
        yield times
    finally:
        OffsetLog.commit = orig


def host_cpu() -> tuple[int, int]:
    """(stolen, busy) CPU ticks of the host so far, from /proc/stat:
    ``steal`` and every non-idle column."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def steal_share(cpu0: tuple[int, int]) -> float:
    """Share of the CPU time this host wanted since ``cpu0`` that the
    hypervisor gave to other guests: the run's clock ran, its cores
    did not."""
    stolen, busy = (b - a for a, b in zip(cpu0, host_cpu()))
    return round(stolen / max(busy, 1), 3)


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path)) if os.path.isdir(path) else 0


def tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest of p99/p95/p90/p75 with at
    least ten samples beyond it; the median when none has."""
    n = len(samples)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return float(np.percentile(samples, p)), p
    return float(np.median(samples)), 50


def timed_setup(run: Run, load):
    """Start the session, then build the base ``SETUP_REPS`` times on
    fresh tables (the repeats are also the JIT/codegen warm-up of the
    load path). Returns the session and the last table; the caller
    finishes set-up with ``warmed_up``."""
    t0 = time.perf_counter()
    spark = start_session(run)
    session_s = time.perf_counter() - t0
    loads, table = [], None
    for r in range(SETUP_REPS):
        t = time.perf_counter()
        table = load(spark, os.path.join(run.dir, f"table{r}"))
        loads.append(time.perf_counter() - t)
    run.context["setup"] = {"session_s": session_s, "base_loads_s": loads}
    return spark, table


def warmed_up(run: Run, warmup_s: float) -> None:
    """setup_s = session start + median base load + the warm-up: the
    first tail window, run before the measured loop so its windows are
    warm."""
    st = run.context["setup"]
    run.metric("setup_s", st["session_s"] + statistics.median(st["base_loads_s"]) + warmup_s, "s")
    st["warmup_s"] = warmup_s
    run.context["setup"] = {k: [round(x, 3) for x in v] if isinstance(v, list) else round(v, 3) for k, v in st.items()}


def snapshot_bytes(table, version: int | None = None) -> int:
    snap = table.snapshot(version)
    return sum(
        os.path.getsize(f)
        for coll in ("files", "deltas", "tombstones")
        for fl in (snap.get(coll) or {}).values()
        for f in fl
    )


def ingest_metrics(run: Run, spark, windows, rounds, events, stored_bytes, live_rows, gc0) -> None:
    run.metric("ingest_events_per_s", events / sum(windows), "1/s")
    run.metric("window_p50_s", statistics.median(windows), "s")
    run.metric("round_p50_s", statistics.median(rounds), "s")
    run.metric("stored_bytes_per_row", stored_bytes / max(live_rows, 1), "B/row")
    run.context["peak_rss_mb"] = round(peak_rss_mb(spark), 1)  # before the forced collections
    run.metric("retained_heap_mb", retained_heap_mb(spark), "MB")
    value, pct = tail(windows)
    run.context["window_tail_s"] = {"value": round(value, 4), "percentile": pct, "samples": len(windows)}
    run.context["window_s"] = [round(x, 3) for x in windows]
    run.context["round_s"] = [round(x, 3) for x in rounds]
    run.context["events_applied"] = events
    run.context["live_rows"] = live_rows
    run.context["spark_gc_s"] = round(gc_seconds(spark) - gc0, 3)


# --------------------------------------------------- flat-table ingest
def _flat_load(base_path: str):
    def load(spark, path):
        from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_DICT_COLS, TRANSCRIPT_SCHEMA
        from oregonwaterdataportal_etl_spark.lake import LakeTable

        t = LakeTable.create(path, TRANSCRIPT_SCHEMA, key_cols=KEY, num_buckets=NUM_BUCKETS, dict_cols=TRANSCRIPT_DICT_COLS)
        t.merge(spark.read.parquet(base_path))
        return t

    return load


def _wrap_flat(tracer: Tracer) -> None:
    from oregonwaterdataportal_etl_spark.cdc import CdcRunner, LsnRangedParquetSource, ManifestLog, OffsetLog
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    def source_files(s, args, kwargs, out):
        src, lo, hi = args[0], args[1], args[2]
        keep, total = src.files_for(lo, hi)
        s["kept"], s["total"] = len(keep), total
        s["in_bytes"] = sum(os.path.getsize(f) for f in keep)

    def merge_counts(s, args, kwargs, res):
        s["result"] = res.as_dict()
        s["num_buckets"] = args[0].snapshot()["num_buckets"]

    def compact_pre(args, kwargs):
        snap = args[0].snapshot()
        return {"deltas_before": sum(len(v) for v in (snap.get("deltas") or {}).values())}

    def compact_post(s, args, kwargs, res):
        s["files"] = res

    tracer.wrap(LsnRangedParquetSource, "__call__", "cdc.source.call", on_result=source_files)
    tracer.wrap(CdcRunner, "run_window", "cdc.runner.run_window")
    tracer.wrap(OffsetLog, "commit", "cdc.offsets.commit")
    tracer.wrap(ManifestLog, "begin", "cdc.manifests.begin")
    tracer.wrap(ManifestLog, "commit", "cdc.manifests.commit")
    tracer.wrap(LakeTable, "merge", "lake.table.merge", on_result=merge_counts)
    tracer.wrap(LakeTable, "compact", "lake.table.compact", on_call=compact_pre, on_result=compact_post)
    tracer.wrap(LakeTable, "expire_tombstones", "lake.table.expire_tombstones")


def _flat_ingest(run: Run, mode: str) -> None:
    from pyspark.sql import functions as F

    from oregonwaterdataportal_etl_spark.cdc import CdcRunner, LsnRangedParquetSource, ManifestLog, OffsetLog

    stream = ChangeStream(run.work, run.spec, run.seed)
    base = stream.base_path()
    for w in range(3):
        stream.window_path(w)
    run.context["input_bytes"] = {"base": os.path.getsize(base), "window": os.path.getsize(stream.window_path(1))}
    spark, table = timed_setup(run, _flat_load(base))
    src_dir = os.path.join(run.dir, "stream")
    os.makedirs(src_dir)
    offsets = OffsetLog(os.path.join(run.dir, "offsets"))
    manifests = ManifestLog(os.path.join(run.dir, "manifests"))
    source = LsnRangedParquetSource(spark, src_dir)
    serve = mode == "mor"
    fold = gates.KeyFold()
    fold.apply(pd.read_parquet(base))
    files = [base]
    tracer = run.tracer = Tracer(spark, False, "")
    rng = np.random.default_rng((run.seed, 17))
    reads: dict[str, list[float]] = {"lookup": [], "scan": [], "changelog": []}
    rows_read = {"scan": 0, "changelog": 0}

    def client_round(runner, w: int, compacts: bool) -> dict[str, float]:
        """Window ``w`` and, on serve_mor, the reads after it. The
        oracle's expectations are computed before the timed calls and
        checked after them."""
        path = stream.window_path(w)
        os.link(path, os.path.join(src_dir, os.path.basename(path)))
        files.append(path)
        v0 = table.current_version()
        changed = fold.apply(pd.read_parquet(path))
        if serve:
            live = fold.live_keys()
            keys = [live[(int(r) - 1) % len(live)] for r in rng.zipf(1.3, size=LOOKUPS)]
            want_rows = [[fold.state[k][1]] for k in keys]
            want_scan = (len(fold.state), sum(len(t) for _, t in fold.state.values()))
        run.attempted += 1
        t: dict[str, float] = {}
        with tracer.span("window", phase="measure"), commit_clock() as commits:
            t0 = time.perf_counter()
            runner.run_window(*stream.window_range(w))
            t1 = time.perf_counter()
            t["window"], t["maintain"] = commits[-1] - t0, t1 - commits[-1]
            if serve:
                if compacts:
                    with tracer.span("lake.bloom.build") as s:
                        before = _dir_bytes(table.bloom_dir)
                        s["files"], t["bloom"] = timed(table.build_blooms, spark)
                        s["output_bytes"] = _dir_bytes(table.bloom_dir) - before
                got_rows = []
                for key in keys:
                    with tracer.span("lake.table.lookup") as s:
                        rows, dt = timed(lambda: table.lookup(spark, conv_id=key[0], turn_idx=key[1]).collect())
                        s["hits"] = len(rows)
                    reads["lookup"].append(dt)
                    got_rows.append([r["text"] for r in rows])
                pending = table.stats()["delta_files"]
                with tracer.span("lake.table.read", pending_delta_files=pending):
                    (n, chars), dt = timed(lambda: table.read(spark).agg(F.count("*"), F.sum(F.length("text"))).first())
                reads["scan"].append(dt)
                with tracer.span("lake.table.read_changes"):
                    m, dt = timed(lambda: table.read_changes(spark, v0).count())
                reads["changelog"].append(dt)
            t["round"] = time.perf_counter() - t0
        if serve:
            for key, got, want in zip(keys, got_rows, want_rows):
                run.attempted += 1
                run.gate("lookup", got == want, f"{key}: {got} vs {want}")
            run.attempted += 2
            rows_read["scan"] += n
            rows_read["changelog"] += m
            run.gate("scan", (n, chars) == want_scan, f"{(n, chars)} vs {want_scan}")
            run.gate("changelog", m == changed, f"window {w}: {m} vs {changed}")
        return t

    # warm-up: the first round runs every call path except compaction
    # once (JIT, codegen), through a runner that never compacts, so the
    # measured runner's compaction cycles start with the measurement
    t = time.perf_counter()
    client_round(CdcRunner(table, offsets, manifests, source, mode=mode), 0, False)
    warmed_up(run, time.perf_counter() - t)
    for v in reads.values():
        v.clear()
    rows_read.update(scan=0, changelog=0)

    tracer = run.tracer = Tracer(spark, run.trace, f"{run.workload}-{run.seed}")
    _wrap_flat(tracer)
    cycle = COMPACT_EVERY if serve else 1
    runner = CdcRunner(table, offsets, manifests, source, mode=mode, compact_every=COMPACT_EVERY if serve else 0)
    rounds: list[dict[str, float]] = []
    gc0, cpu0 = gc_seconds(spark), host_cpu()
    t_end = time.perf_counter() + run.seconds
    # whole compaction cycles on serve_mor, so every run holds plain and
    # compaction rounds in the same proportion
    while not rounds or len(rounds) % cycle or time.perf_counter() < t_end:
        k = len(rounds) + 1
        rounds.append(client_round(runner, k, serve and k % cycle == 0))
    run.context["host_steal_share"] = steal_share(cpu0)
    tracer.restore()
    run.context["window_range"] = [stream.window_range(1)[0], stream.window_range(len(rounds))[1]]

    # untimed gates: the final table against DuckDB's fold of the same files
    actual = table.read(spark).toPandas()
    expected = gates.fold_flat(files)
    bad = gates.rows_mismatch(actual, expected)
    run.gate("final_table", bad == 0, f"{bad} rows differ from the fold ({len(actual)} vs {len(expected)})")
    windows = [r["window"] for r in rounds]
    events = len(windows) * run.spec.chunk
    ingest_metrics(run, spark, windows, [r["round"] for r in rounds], events, snapshot_bytes(table), len(actual), gc0)
    run.context["maintain_s"] = [round(r["maintain"] + r.get("bloom", 0.0), 3) for r in rounds]
    if serve:
        lk_value, lk_pct = tail(reads["lookup"])
        run.context["lookup_p50_ms"] = round(1000 * statistics.median(reads["lookup"]), 3)
        run.context["lookup_tail_ms"] = {"value": round(1000 * lk_value, 3), "percentile": lk_pct, "samples": len(reads["lookup"])}
        run.context["scan_rows_per_s"] = round(rows_read["scan"] / sum(reads["scan"]), 1)
        run.context["changelog_rows_per_s"] = round(rows_read["changelog"] / sum(reads["changelog"]), 1)
    if run.trace:
        from . import layers

        layers.flat(run, tracer, stream)


def ingest_cow(run: Run) -> None:
    _flat_ingest(run, "cow")


def serve_mor(run: Run) -> None:
    _flat_ingest(run, "mor")


# ------------------------------------------------ envelopes into a tree
def _tree_load(base_path: str):
    def load(spark, path):
        from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_DICT_COLS, TRANSCRIPT_SCHEMA
        from oregonwaterdataportal_etl_spark.lake import PartitionedLakeTable, write_partitioned_wal

        t = PartitionedLakeTable.create(
            path, TRANSCRIPT_SCHEMA, key_cols=KEY, partition_col="ts",
            num_buckets=NUM_BUCKETS, dict_cols=TRANSCRIPT_DICT_COLS,
        )
        batch = write_partitioned_wal(spark.read.parquet(base_path), path + "-wal", t)
        t.merge_prebucketed(spark, batch)
        shutil.rmtree(path + "-wal", ignore_errors=True)
        return t

    return load


def _wrap_tree(tracer: Tracer) -> None:
    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.lake import PartitionedLakeTable, partitioned

    def touched(s, args, kwargs, res):
        s["partitions_touched"] = len(res.partitions)

    tracer.wrap(ManifestLog, "begin", "cdc.manifests.begin")
    tracer.wrap(ManifestLog, "commit", "cdc.manifests.commit")
    # the stream module imports the WAL writer from its module at call time
    tracer.wrap(partitioned, "write_partitioned_wal", "lake.partitioned.write_partitioned_wal")
    tracer.wrap(PartitionedLakeTable, "merge_prebucketed", "lake.partitioned.merge_prebucketed", on_result=touched)


def _pending_rows(spark, pending_dir: str) -> int:
    states = sorted(glob.glob(os.path.join(pending_dir, "state-*")), key=lambda p: int(p.rsplit("-", 1)[1]))
    return spark.read.parquet(states[-1]).count() if states else 0


def ingest_wire_tree(run: Run) -> None:
    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
    from oregonwaterdataportal_etl_spark.streaming import read_dlq, start_envelope_stream

    wire = EnvelopeStream(run.work, run.spec, run.seed)
    base = wire.changes.base_path()
    for w in range(3):
        wire.files(w)
    run.context["input_bytes"] = {"base": os.path.getsize(base), "window": os.path.getsize(wire.files(1)[0])}
    spark, tree = timed_setup(run, _tree_load(base))
    d = {k: os.path.join(run.dir, k) for k in ("stream", "ckpt", "dlq", "pending", "wal", "manifests")}
    os.makedirs(d["stream"])
    manifests = ManifestLog(d["manifests"])
    files, counts = [base], {"malformed": 0, "arrived": 0}

    def arrive(w: int) -> None:
        wire_p, flat_p = wire.files(w)
        os.link(wire_p, os.path.join(d["stream"], os.path.basename(wire_p)))
        files.append(flat_p)
        flags = pd.read_parquet(flat_p, columns=["malformed"])["malformed"]
        counts["malformed"] += int(flags.sum())
        counts["arrived"] += len(flags)

    def drain():
        """One AvailableNow run over the newly arrived file; it returns
        once the file's batch is committed to the tree and the
        checkpoint."""
        q = start_envelope_stream(
            spark, d["stream"], tree, d["ckpt"], manifests, TRANSCRIPT_SCHEMA,
            dlq_dir=d["dlq"], pending_dir=d["pending"], available_now=True,
            max_files_per_trigger=1, zero_exchange=True, wal_dir=d["wal"],
        )
        q.awaitTermination()
        return q

    arrive(0)
    run.attempted += 1
    t = time.perf_counter()
    drain()
    warmed_up(run, time.perf_counter() - t)

    tracer = run.tracer = Tracer(spark, run.trace, f"{run.workload}-{run.seed}")
    _wrap_tree(tracer)
    # pending: rows held back for their transaction's other half, after
    # each file
    windows, progress, pending = [], [], []
    gc0, cpu0 = gc_seconds(spark), host_cpu()
    t_end = time.perf_counter() + run.seconds
    w = 0
    # an odd file leaves half of its spanning transactions pending, so
    # the loop measures whole odd/even pairs
    while w == 0 or w % 2 or time.perf_counter() < t_end:
        w += 1
        arrive(w)
        run.attempted += 1
        # the span's own time is the stream's work outside the wrapped
        # layers: query start, envelope parse, DLQ and pending writes
        with tracer.span("streaming.run", phase="measure"):
            q, dt = timed(drain)
        windows.append(dt)
        progress.extend(p for p in q.recentProgress if p.get("numInputRows"))
        if run.trace:
            pending.append(_pending_rows(spark, d["pending"]))
    run.context["host_steal_share"] = steal_share(cpu0)
    tracer.restore()

    actual = tree.read(spark).toPandas()
    expected = gates.fold_tree(files)
    bad = gates.rows_mismatch(actual, expected)
    run.gate("final_tree", bad == 0, f"{bad} rows differ from the (day, key) fold ({len(actual)} vs {len(expected)})")
    dlq = read_dlq(spark, d["dlq"]).count()
    malformed, arrived = counts["malformed"], counts["arrived"]
    run.gate("dlq_rows", dlq == malformed, f"{dlq} quarantined vs {malformed} injected")
    left = _pending_rows(spark, d["pending"])
    run.gate("pending_empty", left == 0, f"{left} rows still pending")
    stored = sum(snapshot_bytes(tree.partition_table(day), v) for day, v in tree.partitions().items())
    ingest_metrics(run, spark, windows, windows, len(windows) * run.spec.chunk, stored, len(actual), gc0)
    run.context["envelopes"] = {"arrived": arrived, "malformed": malformed, "dlq": dlq}
    if run.trace:
        from . import layers

        layers.tree(run, tracer, progress, arrived, dlq, pending)


WORKLOADS = {
    "ingest_cow": ingest_cow,
    "ingest_wire_tree": ingest_wire_tree,
    "serve_mor": serve_mor,
}
