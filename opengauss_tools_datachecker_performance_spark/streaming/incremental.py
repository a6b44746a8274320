"""Incremental (CDC-style) checking via Structured Streaming.

Reference lifecycle (SURVEY.md §3.3): Debezium topic → per-table
changed-PK logs (SourceDataLog) → IN-list re-query of both endpoints →
bucket/Merkle/diff of only those keys → secondary re-check of the
first diff set to absorb replication lag
(datachecker-extract/.../debezium/IncrementDataAnalysisService.java:102-170,
datachecker-check/.../modules/check/IncrementCheckThread.java:140-232).

Spark-native shape:
* change feed = any streaming DataFrame with a ``doc_id`` column
  (file source in tests; kafka source in production — same code path,
  only ``readStream.format`` differs);
* micro-batch trigger ≈ the reference's dual time/count threshold
  (trigger(processingTime=...) + maxFilesPerTrigger/maxOffsetsPerTrigger);
* per batch (``foreachBatch``): semi-join both tables on the changed
  keys (the IN-list fetch, SelectDmlBuilder.java:108-137 analogue),
  run the same digest diff, and write per-batch verdicts to the
  report sink — ONE check implementation for batch and streaming;
* secondary check: diff keys of batch N are re-queued and re-checked
  in batch N+1; only diffs that survive both passes are reported
  final (replication-lag noise filter).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.operators.diff import diff_docs

#: one ``batch=<id>`` subdir of incremental_violations.parquet
_VIOLATION_SCHEMA = pa.schema(
    [("key", pa.string()), ("diff_type", pa.string()), ("batch_id", pa.int64())]
)


def check_changed_keys(
    changed_keys: DataFrame, docs_source: DataFrame, docs_sink: DataFrame
) -> DataFrame:
    """IN-list re-check of one batch of changed doc_ids →
    (key, diff_type). Broadcast semi-join: the key list is the small
    side by construction, and both sides share one broadcast. Duplicate
    keys need no distinct (a semi-join ignores them), so the keys add
    no shuffle; the diff of the fetched rows is the only one."""
    keys = F.broadcast(
        changed_keys.select(F.col("doc_id").cast("string").alias("doc_id"))
    )
    src = docs_source.join(keys, "doc_id", "left_semi")
    sink = docs_sink.join(keys, "doc_id", "left_semi")
    # two-phase pruning is counterproductive on a tiny keyed subset
    return diff_docs(src, sink, two_phase=False)


class IncrementalChecker:
    """foreachBatch driver with the reference's secondary-check ledger.

    ``pending`` holds diff keys seen once; a key is only emitted as a
    confirmed violation when it diffs in two consecutive checks
    (IncrementCheckThread.secondaryCheckCompare:197-210 semantics).
    ``increment-max-diff-count`` analogue: a key that keeps
    FLIP-FLOPPING (re-entering the pending cycle more than
    ``max_retries`` times without ever confirming) is force-reported.

    Durability: each batch appends its NEWLY confirmed keys to a
    ``batch=<id>`` subdir of ``incremental_violations.parquet`` —
    idempotent under checkpoint replays (same batch id overwrites its
    own subdir) and earlier batches' confirmations survive a stream
    restart. The ``pending``/flap counters are driver-memory only: a
    restart resets them, which errs conservative (a key needs two
    FRESH sightings again — no false confirmations, at worst a
    delayed one)."""

    def __init__(
        self,
        docs_source: DataFrame,
        docs_sink: DataFrame,
        out_dir: str,
        max_retries: int = 3,
        max_batch_keys: int = 1_000_000,
        flap_ttl_batches: int = 10,
    ):
        self.docs_source = docs_source
        self.docs_sink = docs_sink
        self.out_dir = out_dir
        self.max_retries = max_retries
        # driver-memory bound: the per-batch key set is collect()ed, so a
        # caller feeding a full-table "batch" must fail loudly, not OOM
        self.max_batch_keys = max_batch_keys
        # a flap entry whose key stayed out of pending this many batches
        # is dropped (lag absorbed for good) — keeps the dict bounded on
        # long streams with many transient diffs
        self.flap_ttl_batches = flap_ttl_batches
        self.pending: dict[str, tuple[str, int]] = {}  # key -> (diff_type, seen)
        self.flaps: dict[str, tuple[int, int]] = {}  # key -> (cycles, last_batch)
        self.confirmed: list[tuple[str, str, int]] = []  # (key, diff_type, batch)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Re-check this batch's keys ∪ the keys pending a secondary
        check. The batch keys are collected once (the only read of
        ``batch_df``) and the union is held on the driver; it re-enters
        the plan as one Arrow-backed frame (a Python list would become a
        parallelized Python RDD, a Python worker per batch), so the
        check itself is one broadcast and one diff."""
        spark = batch_df.sparkSession
        cap = self.max_batch_keys
        # limit+1 bounds the driver transfer BEFORE collecting; the cap
        # is a contract violation, not a squelch — fail with the remedy.
        # The rows are not deduplicated, so duplicates count against the
        # cap: a truncated collect can never pass for the whole batch.
        rows = (
            batch_df.select(F.col("doc_id").cast("string"))
            .limit(cap + 1)
            .collect()
        )
        checked = {r[0] for r in rows} | set(self.pending)
        if len(rows) > cap or len(checked) > cap:
            raise ValueError(
                f"incremental batch {batch_id} carries more than "
                f"max_batch_keys={cap} changed keys (pending "
                "re-checks included); this checker is for CDC-sized "
                "batches — run the full validate_docs plan for "
                "table-scale re-checks, or raise max_batch_keys explicitly"
            )
        diffs = {}
        if checked:
            keys = spark.createDataFrame(
                pa.table({"doc_id": pa.array(list(checked), pa.string())})
            )
            diffs = {r["key"]: r["diff_type"] for r in check_changed_keys(
                keys, self.docs_source, self.docs_sink
            ).collect()}
        nxt: dict[str, tuple[str, int]] = {}
        newly: list[tuple[str, str, int]] = []
        for k in checked:
            if k in diffs:
                dt = diffs[k]
                seen = self.pending.get(k, (dt, 0))[1] + 1
                if seen == 1:
                    cycles = self.flaps.get(k, (0, batch_id))[0] + 1
                    self.flaps[k] = (cycles, batch_id)
                else:
                    prev_cycles = self.flaps.get(k, (0, batch_id))[0]
                    self.flaps[k] = (prev_cycles, batch_id)
                if seen >= 2 or self.flaps.get(k, (0, 0))[0] > self.max_retries:
                    newly.append((k, dt, batch_id))
                    self.flaps.pop(k, None)
                else:
                    nxt[k] = (dt, seen)
            # keys that no longer diff simply drop out (lag absorbed)
        self.pending = nxt
        # evict stale flap entries: not pending and silent for TTL batches
        self.flaps = {
            k: (c, b)
            for k, (c, b) in self.flaps.items()
            if k in self.pending or batch_id - b < self.flap_ttl_batches
        }
        self.confirmed.extend(newly)
        if newly:
            records = [dict(zip(_VIOLATION_SCHEMA.names, v)) for v in newly]
            spark.createDataFrame(
                pa.Table.from_pylist(records, schema=_VIOLATION_SCHEMA)
            ).write.mode("overwrite").parquet(
                os.path.join(
                    self.out_dir,
                    "incremental_violations.parquet",
                    f"batch={batch_id}",
                )
            )

    def start(
        self,
        change_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int = 1,
    ):
        """Wire the stream: change feed → foreachBatch(process_batch)."""
        return (
            change_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )


def plan_change_source(
    uri: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 10_000,
    max_files_per_trigger: int = 4,
    schema: str = "doc_id string",
) -> tuple[str, dict[str, str], str | None, str | None]:
    """→ (format, options, load_path, schema): the reader config for a
    change feed — ONE code path for the production Kafka source and the
    file-based test double, so the option plumbing the sandbox can't
    exercise against a broker is still test-pinned.

    ``kafka://host1:9092,host2:9092/topic`` → the Structured-Streaming
    Kafka source (reference S5: DataConsolidationServiceImpl consumes
    the Debezium topic; the per-trigger cap is the rate half of
    IncrementDataAnalysisService.java:102-170's dual threshold —
    records-count × time window).  Anything else is a directory of
    parquet files (maxFilesPerTrigger plays the same batching role).
    """
    if uri.startswith("kafka://"):
        rest = uri[len("kafka://"):]
        servers, sep, topic = rest.partition("/")
        if not sep or not topic or not servers:
            raise ValueError(
                f"kafka change-source uri must be kafka://<servers>/<topic>, got {uri!r}"
            )
        options = {
            "kafka.bootstrap.servers": servers,
            "subscribe": topic,
            "startingOffsets": starting_offsets,
            # replaying from a compacted/expired offset must surface,
            # not silently skip: a missed change is a missed check
            "failOnDataLoss": "true",
        }
        if max_offsets_per_trigger is not None:
            options["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
        # Kafka source has a fixed schema (key/value binary, topic,
        # partition, offset, timestamp) — never user-supplied
        return "kafka", options, None, None
    return (
        "parquet",
        {"maxFilesPerTrigger": str(max_files_per_trigger)},
        uri,
        schema,
    )


def open_change_source(spark: SparkSession, uri: str, **plan_kwargs) -> DataFrame:
    """Materialize :func:`plan_change_source` into a streaming frame of
    (doc_id).  A Kafka feed carries Debezium envelopes in ``value`` —
    decoded with sources.debezium.decode_debezium, keys projected; the
    file double already IS (doc_id) rows."""
    fmt, options, path, schema = plan_change_source(uri, **plan_kwargs)
    reader = spark.readStream.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path) if path is not None else reader.load()
    if fmt == "kafka":
        from opengauss_tools_datachecker_performance_spark.sources.debezium import (
            decode_debezium,
        )

        df = decode_debezium(df).select(F.col("key").alias("doc_id"))
    return df


def file_change_source(spark: SparkSession, dir_path: str) -> DataFrame:
    """Test/demo change feed: parquet files of (doc_id) appearing in a
    directory — the file-double route through
    :func:`plan_change_source` (``kafka://`` uris take the broker
    route with the same call)."""
    return open_change_source(spark, dir_path)
