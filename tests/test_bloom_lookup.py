"""Round 5: per-file key blooms — point-lookup FILE skipping.

A MOR bucket accumulates one delta file per merge; a key that was only
ever touched by one batch lives in one of them. Blooms must (a) never
change lookup results (no false negatives, pinned by equality against
the bloom-less path), (b) measurably cut the files actually read
(runtime numFiles over ALL scan leaves), (c) read zero files for a
key the table never saw, (d) degrade conservatively when a sidecar is
missing, and (e) be swept by vacuum once their data file is gone.
"""

import glob
import hashlib
import os
import random
import shutil
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.bloom import (
    FileBloom,
    _positions,
    bloom_hash_cols,
    bloom_words,
    load_sidecar,
    n_bits_for,
    sidecar_name,
)

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def _batch(spark, tag: str, lsn0: int, n: int = 40):
    rows = [
        (f"c{tag}_{i:03d}", i % 5, f"{tag}/{i}#{lsn0 + i}", "update", lsn0 + i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, op string, lsn long"
    )


def _files_read(df) -> int:
    """Sum runtime numFiles over every scan node after execution,
    unwrapping AQE (AdaptiveSparkPlanExec / QueryStageExec) layers."""
    df.collect()

    total = 0

    def walk(node):
        nonlocal total
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        try:
            total += node.metrics().apply("numFiles").value()
        except Exception:
            pass
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bloomtab")
    path = str(root / "tab")
    t = LakeTable.create(path, SCHEMA, ["conv_id", "turn_idx"], num_buckets=2)
    # 3 MOR merges -> compact (base + possible tombstones) -> 3 more
    for i in range(3):
        t.merge(_batch(spark, str(i), 1000 * (i + 1)), mode="mor")
    # a delete for one batch-1 key, then compaction retains a tombstone
    dele = spark.createDataFrame(
        [("c1_005", 0, None, "delete", 9000)],
        "conv_id string, turn_idx int, text string, op string, lsn long",
    )
    t.merge(dele, mode="mor")
    t.compact(spark)
    for i in range(3, 6):
        t.merge(_batch(spark, str(i), 1000 * (i + 1)), mode="mor")
    return t


def test_build_blooms_is_idempotent(spark, table):
    built = table.build_blooms(spark)
    assert built > 0
    assert table.build_blooms(spark) == 0  # sidecars exist -> no work
    snap = table.snapshot(table.current_version())
    all_files = [
        f
        for coll in (snap["files"], snap.get("tombstones", {}),
                     snap.get("deltas", {}))
        for fl in coll.values()
        for f in fl
    ]
    for f in all_files:
        assert os.path.exists(os.path.join(table.bloom_dir, sidecar_name(f)))


def test_lookup_with_blooms_equals_without_and_reads_fewer_files(spark, table):
    table.build_blooms(spark)
    # keys from early/late batches, incl. one overwritten only once
    for key in [("c0_003", 3), ("c4_011", 1), ("c5_039", 4)]:
        with_b = table.lookup(spark, conv_id=key[0], turn_idx=key[1])
        without = table.lookup(
            spark, use_blooms=False, conv_id=key[0], turn_idx=key[1]
        )
        rows_b = sorted(map(tuple, with_b.collect()))
        rows_n = sorted(map(tuple, without.collect()))
        assert rows_b == rows_n and len(rows_b) == 1
    # the file-skip pin: a single-batch key must not read every delta
    with_b = table.lookup(spark, conv_id="c4_011", turn_idx=1)
    without = table.lookup(spark, use_blooms=False, conv_id="c4_011", turn_idx=1)
    n_bloom, n_plain = _files_read(with_b), _files_read(without)
    assert n_bloom < n_plain, f"blooms read {n_bloom} vs plain {n_plain}"


def test_absent_key_reads_zero_files(spark, table):
    table.build_blooms(spark)
    out = table.lookup(spark, conv_id="never_seen", turn_idx=0)
    assert out.collect() == []
    assert _files_read(out) == 0


def test_deleted_key_stays_deleted_through_blooms(spark, table):
    table.build_blooms(spark)
    out = table.lookup(spark, conv_id="c1_005", turn_idx=0)
    assert out.collect() == []  # tombstone wins through the bloom path


def test_missing_sidecar_is_conservative(spark, table):
    table.build_blooms(spark)
    snap = table.snapshot(table.current_version())
    # drop one base-file sidecar; lookups must still be exact
    victim = next(iter(snap["files"].values()))[0]
    os.remove(os.path.join(table.bloom_dir, sidecar_name(victim)))
    got = sorted(
        map(tuple, table.lookup(spark, conv_id="c2_007", turn_idx=2).collect())
    )
    ref = sorted(
        map(
            tuple,
            table.lookup(
                spark, use_blooms=False, conv_id="c2_007", turn_idx=2
            ).collect(),
        )
    )
    assert got == ref
    table.build_blooms(spark)  # rebuild for later tests


def test_vacuum_sweeps_dead_sidecars(spark, tmp_path):
    path = str(tmp_path / "sweep")
    t = LakeTable.create(path, SCHEMA, ["conv_id", "turn_idx"], num_buckets=2)
    t.merge(_batch(spark, "a", 100), mode="mor")
    t.build_blooms(spark)
    before = set(os.listdir(t.bloom_dir))
    assert before
    t.compact(spark)  # rewrites: delta files become dead
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    live = {
        sidecar_name(p)
        for p in glob.glob(os.path.join(t.data_dir, "**", "*.parquet"),
                           recursive=True)
    }
    after = set(os.listdir(t.bloom_dir))
    assert all(s in live for s in after if s.endswith(".bloom"))
    # rebuilt sidecars serve the compacted layout exactly
    t.build_blooms(spark)
    got = t.lookup(spark, conv_id="ca_001", turn_idx=1).collect()
    assert len(got) == 1 and got[0]["text"] == "a/1#101"


# ---- build/probe properties --------------------------------------

NULLABLE_KEYS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def _all_files(t):
    snap = t.snapshot(t.current_version())
    return [
        f
        for coll in (snap["files"], snap.get("tombstones", {}),
                     snap.get("deltas", {}))
        for fl in coll.values()
        for f in fl
    ]


def _file_limbs(spark, f):
    """(h1, h2) of every key stored in one data file, by the limb
    expressions the build and the probe share."""
    rows = (
        spark.read.parquet(f)
        .select(*bloom_hash_cols(["conv_id", "turn_idx"]))
        .collect()
    )
    return [(r["__bh1"], r["__bh2"]) for r in rows]


def test_no_false_negatives_random_keys_with_nulls(spark, tmp_path):
    """Every key of every file is in that file's sidecar, and point
    lookups through the blooms return exactly what the bloom-less
    path does — random string+int keys, null key parts included,
    several delta files per bucket. The sidecar bytes also equal a
    bitmap laid out in Python from `_positions`."""
    rng = random.Random(7)
    t = LakeTable.create(
        str(tmp_path / "rnd"), NULLABLE_KEYS, ["conv_id", "turn_idx"],
        num_buckets=2,
    )
    keys = set()
    while len(keys) < 240:
        cid = None if rng.random() < 0.05 else f"k{rng.randrange(10**6)}é"
        tix = None if rng.random() < 0.05 else rng.randrange(-5, 1000)
        keys.add((cid, tix))
    keys = sorted(keys, key=repr)
    for i in range(4):  # 4 MOR merges: up to 4 delta files per bucket
        part = keys[i::4]
        rows = [(c, x, f"v{i}/{c}/{x}", "update", 100 * (i + 1) + j)
                for j, (c, x) in enumerate(part)]
        t.merge(
            spark.createDataFrame(
                rows,
                "conv_id string, turn_idx int, text string, op string, lsn long",
            ),
            mode="mor",
        )
    assert t.build_blooms(spark) == len(_all_files(t))
    for f in _all_files(t):
        side = load_sidecar(t.bloom_dir, f)
        assert side is not None
        limbs = _file_limbs(spark, f)
        assert all(side.might_contain(h1, h2) for h1, h2 in limbs)
        want = np.zeros(((side.n_bits + 7) // 8) * 8, dtype=bool)
        for h1, h2 in limbs:
            want[_positions(h1, h2, side.k, side.n_bits)] = True
        assert side.bits.tobytes() == np.packbits(want, bitorder="little").tobytes()
    sample = [k for k in keys if None in k][:4] + rng.sample(keys, 6)
    for cid, tix in sample:
        got = t.lookup(spark, conv_id=cid, turn_idx=tix).collect()
        ref = t.lookup(spark, use_blooms=False, conv_id=cid, turn_idx=tix).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
        assert len(got) == 1 and got[0]["text"].endswith(f"/{cid}/{tix}")


def test_build_split_across_jobs_writes_identical_sidecars(
    spark, tmp_path, monkeypatch
):
    """A build over more files than one job takes runs as several jobs
    and writes byte-identical sidecars."""
    from oregonwaterdataportal_etl_spark.lake import table as table_mod

    t = LakeTable.create(
        str(tmp_path / "split"), SCHEMA, ["conv_id", "turn_idx"], num_buckets=2
    )
    for i in range(3):
        t.merge(_batch(spark, str(i), 1000 * (i + 1)), mode="mor")
    files = _all_files(t)
    assert len(files) > 2

    def sidecars():
        out = {}
        for f in files:
            with open(os.path.join(t.bloom_dir, sidecar_name(f)), "rb") as fh:
                out[f] = fh.read()
        return out

    assert t.build_blooms(spark) == len(files)
    one_job = sidecars()
    shutil.rmtree(t.bloom_dir)
    monkeypatch.setattr(table_mod, "_BLOOM_BUILD_FILES", 2)
    assert t.build_blooms(spark) == len(files)
    assert sidecars() == one_job


def test_false_positive_rate_at_ten_bits_per_key(spark):
    present = spark.range(2000).select(
        F.concat(F.lit("in_"), F.col("id").cast("string")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
    )
    absent = spark.range(5000).select(
        F.concat(F.lit("out_"), F.col("id").cast("string")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
    )
    hashed = present.select(
        F.lit("f").alias("__file"),
        F.lit(n_bits_for(2000, 10)).cast("long").alias("__n"),
        *bloom_hash_cols(["conv_id", "turn_idx"]),
    )
    rows = bloom_words(hashed, 7).collect()
    bloom = FileBloom.from_words(
        [r["__word"] for r in rows], [r["__bits"] for r in rows],
        n_bits_for(2000, 10), 7,
    )
    limbs = absent.select(*bloom_hash_cols(["conv_id", "turn_idx"])).collect()
    fp = sum(bloom.might_contain(r["__bh1"], r["__bh2"]) for r in limbs)
    assert fp / len(limbs) <= 0.02, fp


def test_older_format_sidecar_reads_as_missing_and_is_rebuilt(spark, tmp_path):
    """An LBF1 sidecar (the previous position layout), at its old name
    or planted at the current name, is never consulted: lookups stay
    exact and build_blooms replaces it."""
    path = str(tmp_path / "old")
    t = LakeTable.create(path, SCHEMA, ["conv_id", "turn_idx"], num_buckets=2)
    t.merge(_batch(spark, "a", 100), mode="mor")
    t.merge(_batch(spark, "b", 500), mode="mor")
    files = _all_files(t)
    old = b"LBF1" + struct.pack("<IB", 64, 7) + bytes(8)  # all-zero bits
    os.makedirs(t.bloom_dir)
    for f in files:
        tail = "/".join(f.rstrip("/").split("/")[-3:])
        legacy = hashlib.sha1(tail.encode()).hexdigest() + ".bloom"
        for name in (legacy, sidecar_name(f)):
            with open(os.path.join(t.bloom_dir, name), "wb") as fh:
                fh.write(old)
    # an all-zero LBF1 bitmap would drop every file if it were read
    got = t.lookup(spark, conv_id="ca_001", turn_idx=1).collect()
    assert len(got) == 1 and got[0]["text"] == "a/1#101"
    assert t.build_blooms(spark) == len(files)
    for f in files:
        with open(os.path.join(t.bloom_dir, sidecar_name(f)), "rb") as fh:
            assert fh.read(4) == b"LBF2"
    got = t.lookup(spark, conv_id="cb_002", turn_idx=2).collect()
    assert len(got) == 1 and got[0]["text"] == "b/2#502"
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert not [n for n in os.listdir(t.bloom_dir) if n.endswith(".bloom")
                and not n.endswith(".lbf2.bloom")]


def test_bloom_build_plan_runs_no_python(spark, tmp_path, monkeypatch):
    """Plan pin: the build is one JVM aggregate — no pandas group map,
    no Arrow or batch Python evaluation anywhere in its plan."""
    from oregonwaterdataportal_etl_spark.lake import bloom as bloom_mod

    t = LakeTable.create(
        str(tmp_path / "pin"), SCHEMA, ["conv_id", "turn_idx"], num_buckets=2
    )
    t.merge(_batch(spark, "a", 100), mode="mor")
    seen = []
    real = bloom_mod.bloom_words

    def spy(hashed, k):
        out = real(hashed, k)
        seen.append(out)
        return out

    monkeypatch.setattr(bloom_mod, "bloom_words", spy)
    assert t.build_blooms(spark) > 0
    assert len(seen) == 1
    qe = seen[0]._jdf.queryExecution()
    plans = qe.toString() + qe.executedPlan().toString()
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "PythonUDF"):
        assert node not in plans, node


def test_lookup_submits_no_job_before_its_scan(spark, table):
    """The probe (bucket id + bloom limbs) is constant-folded over an
    inline VALUES relation: building a lookup runs no Spark job."""
    table.build_blooms(spark)
    sc = spark.sparkContext
    group = "lookup-probe-pin"
    sc.setJobGroup(group, "lookup build")
    try:
        df = table.lookup(spark, conv_id="c4_011", turn_idx=1)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert len(df.collect()) == 1
        assert list(sc.statusTracker().getJobIdsForGroup(group))  # the scan
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_probe_bucket_matches_layout_for_null_key_parts(spark, tmp_path):
    """Keys with a null part land in the bucket the probe computes: a
    bloom-less lookup reads only that bucket, so a mismatch would come
    back empty. Eight buckets make a wrong bucket likely to show."""
    t = LakeTable.create(
        str(tmp_path / "nulls"), NULLABLE_KEYS, ["conv_id", "turn_idx"],
        num_buckets=8,
    )
    keys = [(None, i) for i in range(6)] + [(f"n{i}", None) for i in range(6)]
    keys.append((None, None))
    rows = [(c, x, f"{c}|{x}", "insert", 10 + j) for j, (c, x) in enumerate(keys)]
    t.merge(
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string, op string, lsn long"
        )
    )
    for cid, tix in keys:
        got = t.lookup(spark, use_blooms=False, conv_id=cid, turn_idx=tix).collect()
        assert [r["text"] for r in got] == [f"{cid}|{tix}"], (cid, tix)
