"""Driver-side cost of the MOR serving round and the dictionary codec
it rides on.

Dictionary columns (``dict_cols``) cross the resolve as a smallint
code plus a fallback string, each built as ONE SQL ``CASE`` per column.
The values here are the ones an escaping bug would corrupt: quotes,
backslashes, non-ASCII text, values outside the dictionary and null.

The guard at the end counts py4j round trips while ``read()``,
``read_changes()`` and ``lookup()`` BUILD their plans (no job runs).
The counts are deterministic, so a per-value ``when()`` chain coming
back, or PySpark's per-call call-site capture being switched on again
(``spark.python.sql.dataFrameDebugging.enabled``), fails here loudly.
"""

import math

import pytest
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)
KEY = ["conv_id", "turn_idx"]
DICTS = {
    "role": ["user", "it's", "back\\slash", "naïve ünïcode", "a'\\'b", "\\u0041"],
    "tool": ["search", "calc", "code", "browse", "fetch", "shell"],
}
# dictionary values, then values outside the dictionary (the fallback),
# then null
ROLE_VALUES = DICTS["role"] + ["out'side\\", "ünïcode only", "USER", None]
EVENT_DDL = (
    "conv_id string, turn_idx int, role string, tool string, text string, "
    "op string, lsn long"
)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENT_DDL)


@pytest.mark.parametrize("escaped_literals", ["false", "true"])
def test_dict_codes_are_dictionary_indexes(spark, escaped_literals):
    """Each dictionary value encodes to its index with a null fallback;
    anything else to the sentinel with the original in the fallback;
    decoding restores every value — under either setting of the
    parser's escapedStringLiterals."""
    evolved = T.StructType([SCHEMA["role"]])
    df = spark.createDataFrame([(v,) for v in ROLE_VALUES], "role string")
    conf = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(conf)
    spark.conf.set(conf, escaped_literals)
    try:
        tagged = df.select(
            *LakeTable("unused")._tag_select(df.columns, evolved, DICTS)
        )
        n = len(DICTS["role"])
        got = [(r["__c_role"], r["__f_role"]) for r in tagged.collect()]
        want = [(i, None) for i in range(n)] + [
            (n, v) for v in ROLE_VALUES[n:]
        ]
        assert got == want
        back = tagged.select(*LakeTable._payload_out(evolved, DICTS)).collect()
        assert [r["role"] for r in back] == ROLE_VALUES
    finally:
        spark.conf.set(conf, before)


def test_dict_values_round_trip_through_merge_and_every_read(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "dict"), SCHEMA, KEY, num_buckets=2, dict_cols=DICTS
    )
    tools = DICTS["tool"] + ["tool'x\\", None]
    first = [
        (f"c{i}", i % 3, role, tools[i % len(tools)], f"t{i}", "insert", 100 + i)
        for i, role in enumerate(ROLE_VALUES)
    ]
    t.merge(_events(spark, first))  # copy-on-write: codec into the base
    v1 = t.current_version()
    # MOR updates rotate the values, so read() resolves deltas against
    # the base through the codec on both sides
    second = [
        (f"c{i}", i % 3, ROLE_VALUES[(i + 1) % len(ROLE_VALUES)],
         tools[(i + 3) % len(tools)], f"u{i}", "update", 500 + i)
        for i in range(0, len(ROLE_VALUES), 2)
    ]
    t.merge(_events(spark, second), mode="mor")
    want = {(r[0], r[1]): r[2:5] for r in first}
    want.update({(r[0], r[1]): r[2:5] for r in second})

    got = {(r["conv_id"], r["turn_idx"]): (r["role"], r["tool"], r["text"])
           for r in t.read(spark).collect()}
    assert got == want
    for key in [("c0", 0), ("c1", 1), ("c7", 1), ("c8", 2), ("c9", 0)]:
        rows = t.lookup(spark, conv_id=key[0], turn_idx=key[1]).collect()
        assert [(r["role"], r["tool"], r["text"]) for r in rows] == [want[key]]
    changes = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["tool"], r["text"])
        for r in t.read_changes(spark, v1).collect()
    }
    assert changes == {(r[0], r[1]): r[2:5] for r in second}


def _py4j_calls(spark, fn) -> int:
    """py4j commands sent while fn runs, object-release messages left
    out (those follow Python's garbage-collector timing)."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    n = 0

    def counted(command, *a, **k):
        nonlocal n
        if not command.startswith("m\n"):
            n += 1
        return real(command, *a, **k)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = real
    return n


# Counts measured on this table with the one-expression codec and
# call-site capture off, plus 25% headroom. The per-value when() chain
# with call-site capture on measured 2652 / 3748 / 2893.
BUDGET = {
    "read": math.ceil(360 * 1.25),
    "read_changes": math.ceil(666 * 1.25),
    "lookup": math.ceil(449 * 1.25),
}


def test_serving_plan_builds_stay_within_py4j_budget(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "budget"), SCHEMA, KEY, num_buckets=4, dict_cols=DICTS
    )
    rows = [
        (f"c{i % 40}", i % 5, ROLE_VALUES[i % len(ROLE_VALUES)],
         DICTS["tool"][i % 6], f"x{i}", "update", 1000 + i)
        for i in range(200)
    ]
    t.merge(_events(spark, rows[:100]), mode="mor")
    t.compact(spark)
    v = t.current_version()
    t.merge(_events(spark, rows[100:]), mode="mor")
    t.build_blooms(spark)
    builds = {
        "read": lambda: t.read(spark),
        "read_changes": lambda: t.read_changes(spark, v),
        "lookup": lambda: t.lookup(spark, conv_id="c3", turn_idx=3),
    }
    for build in builds.values():
        build()  # first builds may resolve JVM classes once
    counts = {name: _py4j_calls(spark, build) for name, build in builds.items()}
    print("py4j round trips:", counts)
    over = {n: (c, BUDGET[n]) for n, c in counts.items() if c > BUDGET[n]}
    assert not over, f"plan builds over their py4j budget: {over}"
