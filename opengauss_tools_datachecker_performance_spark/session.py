"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for the multi-executor cluster; every
config here is chosen to behave the same way on a 1000-executor
cluster: AQE on (runtime coalescing + skew-join splitting), shuffle
partitions sized to cores (not the 200 default), Arrow enabled for
the few pandas-UDF paths, session timezone pinned (the reference
pins GMT+8 at read time — datachecker-extract/.../SimpleTypeHandlerFactory.java:165-172;
we pin UTC and keep all canonicalization TZ-explicit).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _driver_mem(extra_conf: dict[str, str] | None) -> str:
    """Resolved driver heap: explicit extra_conf wins, then env, then
    12g — also used to pin -Xms so -Xms can never exceed -Xmx."""
    if extra_conf and "spark.driver.memory" in extra_conf:
        return extra_conf["spark.driver.memory"]
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")


def get_spark(
    app_name: str = "datachecker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the bench harness can run the identical job at two parallelism
    levels for the N vs 4N scaling-efficiency evidence.
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # no pre-existing JVM gateway → not under spark-submit: default
        # to local[N] for the bench/test harness. Under spark-submit
        # (PythonRunner exports PYSPARK_GATEWAY_PORT) leave master unset
        # so the submit-provided spark.master wins.
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE default-on (skew-join splitting + runtime coalescing are
        # essential at cluster scale). Env-togglable because AQE's
        # per-stage driver re-planning is a CONSTANT ~15 s for our
        # multi-branch validation DAG — irrelevant against hours-long
        # 100 TB jobs, but it swamps minute-scale sandbox benches, so
        # the scaling-efficiency evidence measures with AQE off (both
        # numbers reported in BENCH/BASELINE.md).
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "true"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the two-phase diff broadcasts the mismatched-bucket set, whose
        # subtree contains the full digest aggregation — on a loaded
        # host that can exceed the 300 s default and kill the job
        .config("spark.sql.broadcastTimeout", "3600")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the fused validation DAG generates ~190 codegen units per run;
        # the default 100-entry Janino cache thrashes on repeated runs
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # Fixed-size, pre-touched heap. Two reasons, both of which also
        # hold on a real cluster:
        # (a) executors should run fixed heaps — lazily grown heaps make
        #     the first heavy stage pay allocation + first-touch cost;
        # (b) this sandbox is a microVM where FIRST TOUCH of new guest
        #     pages is pathologically expensive under host contention
        #     (measured: a heap-growth storm put 98% of 32 cores into
        #     kernel time and inflated a 30 s job to 460 s). -Xms=-Xmx
        #     + AlwaysPreTouch moves that cost to session startup, out
        #     of every measured/production query. 12g is deliberately
        #     modest: the engine persists digest projections (a few
        #     longs per row), never doc bodies, so heap need stays flat.
        .config("spark.driver.memory", _driver_mem(extra_conf))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                f"-Xms{_driver_mem(extra_conf)} -XX:+AlwaysPreTouch",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: the open cache scopes of this thread, innermost last; each holds the
#: release callbacks of the frames cached while it was innermost
_SCOPES: ContextVar[tuple] = ContextVar("cache_scopes", default=())


@contextmanager
def cache_scope():
    """The one lifetime of every frame the engine caches: frames cached
    (:func:`cached`) or checkpointed (:func:`checkpointed`) while this
    scope is the innermost one are released when it exits, on an
    exception too, newest first. Usable as a decorator: a function that
    materializes its result before returning opens its own scope; one
    that returns lazy frames over cached intermediates leaves them to
    its caller's scope.

    The stack is a ``ContextVar``, so a worker thread (the digest
    barrier's pool, a ``foreachBatch`` callback) sees no outer scope."""
    held: list = []
    token = _SCOPES.set(_SCOPES.get() + (held,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for release in reversed(held):
            release()


def cached(df: DataFrame) -> DataFrame:
    """``df`` persisted until the innermost :func:`cache_scope` exits.
    Outside any scope ``df`` comes back unchanged and lazy: nothing is
    cached that no one would release."""
    scopes = _SCOPES.get()
    if not scopes:
        return df
    df = df.persist()
    scopes[-1].append(df.unpersist)
    return df


def checkpointed(df: DataFrame) -> DataFrame:
    """An eager ``localCheckpoint`` of ``df`` (lineage truncated), whose
    RDD the innermost :func:`cache_scope` releases when it exits;
    ``DataFrame.unpersist`` does not reach it, the checkpointed plan's
    RDD does. The one exception to the scope rule: outside any scope
    the lineage is still truncated, and Spark's ContextCleaner
    reclaims the RDD once nothing references it."""
    df = df.localCheckpoint(eager=True)
    scopes = _SCOPES.get()
    if scopes:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        scopes[-1].append(lambda: rdd.unpersist(True))
    return df
