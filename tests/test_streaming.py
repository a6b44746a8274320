"""Structured-Streaming incremental check (streaming/incremental.py)."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
    IncrementalChecker,
    check_changed_keys,
    file_change_source,
)


def test_check_changed_keys_only_touches_listed(corpus, spark):
    src, sink = corpus["docs_source"], corpus["docs_sink"]
    # pick one known-differing key (missing_doc: in src, absent in sink)
    bad = [
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "missing_doc")
        .limit(1)
        .collect()
    ]
    good = [
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "clean")
        .limit(2)
        .collect()
    ] or [
        r.doc_id
        for r in src.join(
            corpus["violations_expected"], "doc_id", "left_anti"
        ).limit(2).collect()
    ]
    keys = spark.createDataFrame([(k,) for k in bad + good], "doc_id string")
    out = check_changed_keys(keys, src, sink).collect()
    got = {r.key: r.diff_type for r in out}
    assert set(got) == set(bad)
    assert got[bad[0]] == "insert"  # src-only ⇒ insert set


def test_secondary_check_confirms_on_second_sight(corpus, spark, tmp_path):
    src, sink = corpus["docs_source"], corpus["docs_sink"]
    bad = [
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "corrupt_text")
        .limit(2)
        .collect()
    ]
    chk = IncrementalChecker(src, sink, str(tmp_path))
    batch = spark.createDataFrame([(k,) for k in bad], "doc_id string")
    chk.process_batch(batch, 0)
    # first sighting: pending, not confirmed (replication-lag filter)
    assert not chk.confirmed and set(chk.pending) == set(bad)
    # second batch with NO new keys still re-checks pending ones
    chk.process_batch(spark.createDataFrame([], "doc_id string"), 1)
    assert {k for k, _, _ in chk.confirmed} == set(bad)
    assert not chk.pending
    out = os.path.join(str(tmp_path), "incremental_violations.parquet")
    assert spark.read.parquet(out).count() == 2


def test_streaming_end_to_end_file_source(corpus, spark, tmp_path):
    src, sink = corpus["docs_source"], corpus["docs_sink"]
    bad = [
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "missing_doc")
        .limit(3)
        .collect()
    ]
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir, exist_ok=True)
    keys_df = spark.createDataFrame([(k,) for k in bad], "doc_id string")
    # two identical drops → the key diffs in two consecutive batches
    keys_df.coalesce(1).write.mode("overwrite").parquet(feed_dir + "/b0")
    chk = IncrementalChecker(src, sink, str(tmp_path))
    stream = file_change_source(spark, feed_dir + "/b0")
    q = chk.start(stream, str(tmp_path / "ckpt"), trigger_seconds=1)
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not chk.pending and not chk.confirmed:
            time.sleep(0.5)
        # second sighting via a manual batch (stream keeps running)
        chk.process_batch(spark.createDataFrame([], "doc_id string"), 99)
    finally:
        q.stop()
    assert {k for k, _, _ in chk.confirmed} == set(bad)


def test_debezium_avro_json_decode(spark):
    """Avro JSON-encoded envelopes (union wrappers, record-fullname row
    image keys — DebeziumAvroHandler.java fixture shape): creates read
    after, deletes fall back to before, transaction markers and DDL
    (no op/table) are dropped."""
    from opengauss_tools_datachecker_performance_spark.sources.debezium import (
        decode_debezium_avro_json,
    )

    create = (
        '{"before":null,'
        '"after":{"srv0.db1.widgets.Value":{"id":7,"k":11,"c":"x","pad":"y"}},'
        '"source":{"version":"1.8.1.Final","connector":"mysql","name":"srv0",'
        '"ts_ms":1000,"db":"db1","table":{"string":"widgets"}},'
        '"op":"c","ts_ms":{"long":2000}}'
    )
    delete = (
        '{"before":{"srv0.db1.widgets.Value":{"id":9}},"after":null,'
        '"source":{"db":"db1","table":{"string":"widgets"}},'
        '"op":"d","ts_ms":{"long":2500}}'
    )
    txn_marker = '{"status":"END","id":"tx-1","event_count":2}'
    no_table = '{"op":"c","source":{"db":"db1"},"ts_ms":{"long":1}}'
    df = spark.createDataFrame(
        [(create,), (delete,), (txn_marker,), (no_table,)], "value string"
    )
    rows = {
        (r["table_name"], r["op"], r["key"], r["ts_ms"])
        for r in decode_debezium_avro_json(df).collect()
    }
    assert rows == {
        ("widgets", "c", "7", 2000),
        ("widgets", "d", "9", 2500),
    }


def test_debezium_avro_binary_gated(spark):
    """Without the spark-avro connector jar the binary path must fail
    fast with an actionable NotImplementedError (pip pyspark does not
    bundle spark-avro_2.13)."""
    import pytest

    from opengauss_tools_datachecker_performance_spark.sources.debezium import (
        decode_debezium_avro_binary,
    )

    schema = (
        '{"type":"record","name":"Envelope","fields":['
        '{"name":"op","type":["null","string"],"default":null}]}'
    )
    df = spark.createDataFrame([(bytearray(b"\x00"),)], "value binary")
    try:
        out = decode_debezium_avro_binary(df, schema)
    except NotImplementedError as e:
        assert "spark-avro" in str(e)
    else:
        # connector present (cluster deploy): the plan must analyze
        assert set(out.columns) == {"table_name", "op", "key", "ts_ms"}


def test_watermark_window_rate_drops_late_and_survives_restart(spark, tmp_path):
    """§2.9 watermark semantics end-to-end: append-mode windowed agg
    over a file stream, two availableNow runs sharing a checkpoint.

    Run 1 sees windows A(10:00) + C(13:00); nothing emits (watermark
    trails by one batch) but the watermark (13:00 - 10min) persists to
    the checkpoint. Run 2 replays a LATE event into A (10:15 < the
    restored watermark -> dropped) plus a fresh on-time event; window A
    finalizes and emits exactly once WITHOUT the late row.
    """
    import datetime as dt

    from opengauss_tools_datachecker_performance_spark.streaming.windows import (
        windowed_change_rate,
    )

    feed = str(tmp_path / "feed")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    d = dt.datetime
    schema = "ts timestamp, value double"

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "10"
        ).parquet(feed)
        q = (
            windowed_change_rate(
                stream, time_col="ts", window="30 minutes",
                watermark="10 minutes", value_col="value",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop([
        (d(2024, 1, 1, 10, 5), 1.0),
        (d(2024, 1, 1, 10, 10), 2.0),
        (d(2024, 1, 1, 13, 0), 4.0),
    ])
    run_once()
    drop([
        (d(2024, 1, 1, 10, 15), 100.0),  # late: watermark is 12:50
        (d(2024, 1, 1, 13, 5), 8.0),     # on-time, window C stays open
    ])
    run_once()

    got = {r["window_start"]: r for r in spark.read.parquet(out).collect()}
    # window A emitted exactly once, late row excluded
    assert set(got) == {"2024-01-01 10:00:00"}
    a = got["2024-01-01 10:00:00"]
    assert a["n_events"] == 2
    assert a["sum_value"] == "3.0000"
    assert a["events_per_sec"] == "0.001111"


def test_plan_change_source_kafka_options():
    """The production Kafka route shares plan_change_source with the
    file double: topic/offset/trigger plumbing is pinned here even
    though the sandbox has no broker (reference
    IncrementDataAnalysisService.java:102-170 dual threshold)."""
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        plan_change_source,
    )

    fmt, options, path, schema = plan_change_source(
        "kafka://b1:9092,b2:9092/cdc_docs",
        starting_offsets="earliest",
        max_offsets_per_trigger=5000,
    )
    assert fmt == "kafka" and path is None and schema is None
    assert options == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "cdc_docs",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
        "maxOffsetsPerTrigger": "5000",
    }
    # rate cap disabled -> option absent entirely, not "None"
    _, opts2, _, _ = plan_change_source(
        "kafka://b:9092/t", max_offsets_per_trigger=None
    )
    assert "maxOffsetsPerTrigger" not in opts2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="kafka://"):
        plan_change_source("kafka://only-servers-no-topic")


def test_plan_change_source_file_double():
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        plan_change_source,
    )

    fmt, options, path, schema = plan_change_source("/tmp/changes")
    assert fmt == "parquet" and path == "/tmp/changes"
    assert options == {"maxFilesPerTrigger": "4"}
    assert schema == "doc_id string"


def test_streaming_demo_cli_end_to_end(corpus, spark, tmp_path):
    """--streaming-demo: the full CLI lifecycle — change-key files →
    micro-batch IN-list re-check → two-pass confirm → violation sink +
    summary JSON (IncrementCheckThread.java:140-232 as one job)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    src, sink = corpus["docs_source"], corpus["docs_sink"]
    bad = sorted(
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "missing_doc")
        .limit(2)
        .collect()
    )
    good = [
        r.doc_id
        for r in src.join(
            corpus["violations_expected"], "doc_id", "left_anti"
        ).limit(1).collect()
    ]
    src_path = str(tmp_path / "src.parquet")
    sink_path = str(tmp_path / "sink.parquet")
    src.write.mode("overwrite").parquet(src_path)
    sink.write.mode("overwrite").parquet(sink_path)
    feed = tmp_path / "feed"
    feed.mkdir()
    # the bad keys appear in BOTH drops: with maxFilesPerTrigger=1 each
    # file is one micro-batch, so they diff in two consecutive batches
    # and must confirm regardless of file pickup order
    for name, keys in (("b0.parquet", bad + good), ("b1.parquet", bad)):
        pq.write_table(
            pa.table({"doc_id": pa.array(keys, type=pa.string())}),
            str(feed / name),
        )
    out_dir = tmp_path / "out"
    rc = main(
        [
            "--source", src_path,
            "--sink", sink_path,
            "--report-dir", str(out_dir),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--streaming-demo", str(feed),
        ],
        spark=spark,
    )
    assert rc == 1  # confirmed diffs ⇒ verdict exit code
    summary = json.load(open(out_dir / "streaming_demo.json"))
    assert summary["n_confirmed"] == 2
    assert sorted(c["key"] for c in summary["confirmed"]) == bad
    assert summary["batches_with_data"] == 2
    assert summary["n_pending_secondary"] == 0
    viol = spark.read.parquet(
        str(out_dir / "incremental_violations.parquet")
    )
    assert sorted(r["key"] for r in viol.collect()) == bad
    # the clean key must never be reported
    assert good[0] not in {r["key"] for r in viol.collect()}


def test_streaming_demo_requires_sink_and_checkpoint():
    import pytest as _pytest

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    with _pytest.raises(SystemExit) as exc:
        main(
            [
                "--source", "s.parquet",
                "--report-dir", "out",
                "--streaming-demo", "feed/",
            ]
        )
    assert exc.value.code == 2


def test_streaming_demo_checkpoint_resume(corpus, spark, tmp_path):
    """A restarted --streaming-demo run picks up the stream checkpoint:
    already-processed change files are NOT re-read (no duplicate
    confirmations), new drops are; confirmations from the first run
    survive on disk."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    src, sink = corpus["docs_source"], corpus["docs_sink"]
    # two DIFFERENT violation classes: the planted missing_doc set can
    # be as small as the two keys the first run consumes
    first = sorted(
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "missing_doc")
        .limit(2)
        .collect()
    )
    second = sorted(
        r.doc_id
        for r in corpus["violations_expected"]
        .filter(F.col("vclass") == "corrupt_text")
        .limit(2)
        .collect()
    )
    assert len(first) == 2 and len(second) == 2
    bad = sorted(first + second)
    src_path = str(tmp_path / "src.parquet")
    sink_path = str(tmp_path / "sink.parquet")
    src.write.mode("overwrite").parquet(src_path)
    sink.write.mode("overwrite").parquet(sink_path)
    feed = tmp_path / "feed"
    feed.mkdir()

    def drop(name, keys):
        pq.write_table(
            pa.table({"doc_id": pa.array(keys, type=pa.string())}),
            str(feed / name),
        )

    argv = [
        "--source", src_path,
        "--sink", sink_path,
        "--report-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--streaming-demo", str(feed),
    ]
    drop("b0.parquet", first)
    drop("b1.parquet", first)
    assert main(argv, spark=spark) == 1
    s1 = json.load(open(tmp_path / "out" / "streaming_demo.json"))
    assert sorted(c["key"] for c in s1["confirmed"]) == first

    # restart with two NEW drops: the old files are behind the stream
    # checkpoint, so run 2 sees exactly two batches and confirms only
    # the second key pair (pending state is driver-memory: the new
    # keys need their own two sightings, which b2+b3 provide)
    drop("b2.parquet", second)
    drop("b3.parquet", second)
    assert main(argv, spark=spark) == 1
    s2 = json.load(open(tmp_path / "out" / "streaming_demo.json"))
    assert sorted(c["key"] for c in s2["confirmed"]) == second
    assert s2["batches_with_data"] == 2  # b0/b1 NOT re-processed
    # first run's confirmations survive in the violation sink
    # alongside the second run's (per-batch subdirs are append-safe)
    viol = spark.read.parquet(
        str(tmp_path / "out" / "incremental_violations.parquet")
    )
    assert sorted({r["key"] for r in viol.collect()}) == sorted(bad)


def test_streaming_demo_malformed_kafka_uri_is_argparse_error():
    import pytest as _pytest

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    with _pytest.raises(SystemExit) as exc:
        main(
            [
                "--source", "s.parquet",
                "--sink", "k.parquet",
                "--report-dir", "out",
                "--checkpoint-dir", "ckpt",
                "--streaming-demo", "kafka://brokeronly",  # no /topic
            ]
        )
    assert exc.value.code == 2


def test_status_demo_full_orchestration_cycle(corpus, spark, tmp_path):
    """--status-demo: report → ready → check → done, end to end.
    Slice 0 receives source(1)+sink(2) reports in separate files →
    READY fires the slice check → the demo's own CHECKED(4) report
    drives the register to DONE(7). Slice 1 receives only source(1)
    and must stay pending, unchecked."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    src, sink = corpus["docs_source"], corpus["docs_sink"]
    src_path = str(tmp_path / "src.parquet")
    sink_path = str(tmp_path / "sink.parquet")
    src.write.mode("overwrite").parquet(src_path)
    sink.write.mode("overwrite").parquet(sink_path)
    feed = tmp_path / "status"
    feed.mkdir()

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "slice_no": pa.array([r[0] for r in rows], type=pa.int32()),
                    "st": pa.array([r[1] for r in rows], type=pa.int32()),
                }
            ),
            str(feed / name),
        )

    drop("e0.parquet", [(0, 1), (1, 1)])  # source extracts reported
    drop("e1.parquet", [(0, 2)])  # sink extract for slice 0 only
    out_dir = tmp_path / "out"
    rc = main(
        [
            "--source", src_path,
            "--sink", sink_path,
            "--report-dir", str(out_dir),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--status-demo", str(feed),
        ],
        spark=spark,
    )
    summary = json.load(open(out_dir / "status_demo.json"))
    # slice 0 completed the full cycle; slice 1 never left source-reported
    assert summary["slice_status"]["0"] == 7
    assert summary["slice_status"]["1"] == 1
    assert summary["n_checked"] == 1
    verdicts = spark.read.parquet(
        str(out_dir / "slice_verdicts.parquet")
    ).collect()
    assert [r["slice_no"] for r in verdicts] == [0]
    # the seeded corpus plants violations in every partition → the
    # checked slice must fail and the exit code must say so
    assert verdicts[0]["verdict"] == "failed" and rc == 1


def test_status_demo_resume_advances_new_slices(corpus, spark, tmp_path):
    """A --status-demo run resumed from its checkpoint must still see
    its own CHECKED reports: a slice that turns READY after the restart
    reaches DONE(7), not READY(3)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    src_path = str(tmp_path / "src.parquet")
    sink_path = str(tmp_path / "sink.parquet")
    corpus["docs_source"].write.mode("overwrite").parquet(src_path)
    corpus["docs_sink"].write.mode("overwrite").parquet(sink_path)
    feed = tmp_path / "status"
    feed.mkdir()

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "slice_no": pa.array([r[0] for r in rows], type=pa.int32()),
                    "st": pa.array([r[1] for r in rows], type=pa.int32()),
                }
            ),
            str(feed / name),
        )

    out_dir = tmp_path / "out"
    argv = [
        "--source", src_path,
        "--sink", sink_path,
        "--report-dir", str(out_dir),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--status-demo", str(feed),
    ]
    drop("e0.parquet", [(0, 1), (1, 1)])
    drop("e1.parquet", [(0, 2)])
    main(argv, spark=spark)
    drop("e2.parquet", [(1, 2)])  # slice 1's sink extract, after restart
    main(argv, spark=spark)
    summary = json.load(open(out_dir / "status_demo.json"))
    assert summary["slice_status"]["1"] == 7

def test_status_demo_requires_sink_and_checkpoint():
    import pytest as _pytest

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    with _pytest.raises(SystemExit) as exc:
        main(
            [
                "--source", "s.parquet",
                "--report-dir", "out",
                "--status-demo", "status/",
            ]
        )
    assert exc.value.code == 2
