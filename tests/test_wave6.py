"""Wave-6 operators: Debezium decode (S5), status register (§2.9),
column rules (P1), topic naming (F8), streaming stateful registry."""

from __future__ import annotations

import os
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.entry_queries import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["customer", "orders", "lineitem", "part", "nation"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "debezium_decode",
        "status_register",
        "column_rule_projection",
        "topic_naming",
        "miss_table_detection",
    ],
)
def test_wave6_matches_oracle(spark, duck, name):
    got = {tuple(map(str, r)) for r in QUERIES[name](spark, SF_DIR).collect()}
    want = {tuple(map(str, r)) for r in duck.execute(ORACLES[name]).fetchall()}
    assert got == want


def test_debezium_decode_semantics(spark):
    """Delete events resolve the key from the before-image; malformed
    payloads are dropped (DataConsolidationServiceImpl.java:1-247)."""
    from opengauss_tools_datachecker_performance_spark.sources.debezium import (
        consolidate_changed_keys,
        decode_debezium,
    )

    rows = [
        ('{"after":{"id":"1"},"source":{"db":"d","table":"t1"},"op":"c","ts_ms":10}',),
        ('{"before":{"id":"2"},"source":{"db":"d","table":"t1"},"op":"d","ts_ms":20}',),
        ('{"before":{"id":"1"},"after":{"id":"1"},"source":{"db":"d","table":"t1"},"op":"u","ts_ms":5}',),
        ("not json at all",),
        ('{"op":"c","ts_ms":1}',),  # no source.table → dropped
    ]
    dec = decode_debezium(
        spark.createDataFrame(rows, "value string"), payload_col="value"
    )
    got = {(r.table_name, r.op, r.key) for r in dec.collect()}
    assert got == {("t1", "c", "1"), ("t1", "d", "2"), ("t1", "u", "1")}
    logs = {
        (r.table_name, r.key): (r.begin_offset, r.n_events)
        for r in consolidate_changed_keys(dec).collect()
    }
    # key 1 seen twice, earliest offset 5 kept
    assert logs[("t1", "1")] == (5, 2)
    assert logs[("t1", "2")] == (20, 1)


def test_column_rule_exclude_keeps_pk(spark):
    from opengauss_tools_datachecker_performance_spark.checks.rules import ColumnRule

    df = spark.range(3).select(
        F.col("id").alias("pk"), F.lit("a").alias("x"), F.lit("b").alias("y")
    )
    out = ColumnRule(exclude=["pk", "y"]).apply(df, pk_cols=["pk"])
    assert [f.name for f in out.schema.fields] == ["pk", "x"]


def test_streaming_status_register_accumulates_across_batches(spark, tmp_path):
    """Keyed state survives micro-batch boundaries: a slice whose
    source/sink/checked reports arrive in separate batches still
    reaches ready(3)/done(7) — TableStatusRegister.java semantics."""
    from opengauss_tools_datachecker_performance_spark.streaming.status_register import (
        track_slice_status,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    # batch files: slice 0 gets 1 then 2 then 4 (done); slice 1 gets 1,2
    # (ready); slice 2 only 1 (pending) — one file per wave
    spark.createDataFrame(
        [(0, 1), (1, 1), (2, 1)], "slice_no int, st int"
    ).coalesce(1).write.parquet(feed + "/w0")
    spark.createDataFrame(
        [(0, 2), (1, 2)], "slice_no int, st int"
    ).coalesce(1).write.parquet(feed + "/w1")
    spark.createDataFrame([(0, 4)], "slice_no int, st int").coalesce(1).write.parquet(
        feed + "/w2"
    )
    stream = (
        spark.readStream.schema("slice_no int, st int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/w*")
    )
    q = (
        track_slice_status(stream)
        .writeStream.format("memory")
        .queryName("slice_status")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        final = {}
        while time.monotonic() < deadline:
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT slice_no, max(status) AS status FROM slice_status GROUP BY slice_no"
            ).collect()
            final = {r.slice_no: r.status for r in rows}
            if final.get(0) == 7:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert final == {0: 7, 1: 3, 2: 1}
    # the update log shows slice 0 *passing through* ready before done
    seen = [
        (r.status, r.ready_for_check, r.done)
        for r in spark.sql(
            "SELECT * FROM slice_status WHERE slice_no = 0 ORDER BY status"
        ).collect()
    ]
    assert (3, True, False) in seen and (7, False, True) in seen


def test_streaming_status_register_state_is_bounded(spark, tmp_path):
    """A slice's keyed state is dropped at DONE(7): across batches that
    each complete ten slices, the state store keeps only the one slice
    still in flight instead of growing by ten per batch."""
    from opengauss_tools_datachecker_performance_spark.streaming.status_register import (
        track_slice_status,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    for b in range(4):
        rows = [(10 * b + i, st) for i in range(10) for st in (1, 2, 4)]
        if b == 0:
            rows.append((100, 1))  # reported by the source only: stays
        spark.createDataFrame(rows, "slice_no int, st int").coalesce(1).write.parquet(
            f"{feed}/w{b}"
        )
    stream = (
        spark.readStream.schema("slice_no int, st int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/w*")
    )
    q = (
        track_slice_status(stream)
        .writeStream.format("memory")
        .queryName("slice_status_bounded")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        totals = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    assert totals == [1, 1, 1, 1]
    done = spark.sql(
        "SELECT count(*) FROM slice_status_bounded WHERE done"
    ).collect()[0][0]
    assert done == 40
