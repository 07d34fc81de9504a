"""SparkSession construction with scale-appropriate defaults.

The session is configured for correctness-stable, large-scale
execution: AQE on (runtime coalescing + skew-join splitting), UTC
session timezone (oracle comparability), Arrow enabled for the
Pandas-UDF paths. ``spark.sql.shuffle.partitions`` defaults to the
local core count; on a real cluster it should be ~2-3x total cores
(AQE coalesces the excess, so erring high is safe).
"""

from __future__ import annotations

import os
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any, Callable

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_frame_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]``; on a
    cluster the master comes from the environment (spark-submit), so
    ``master`` is only applied when nothing is configured yet.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # non-ANSI: invalid arithmetic (x/0, bad casts) yields NULL —
        # matches the reference's NA-propagation model (SURVEY §1.3)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_facets(spark: SparkSession, facets: dict[str, Callable[[], Any]]) -> list:
    """Run independent facet thunks concurrently, one thread each;
    return their results in ``facets`` order.

    A family query's facets build disjoint subtrees, and several of
    them run Spark jobs while building (collects, eager checkpoints).
    Building them from separate threads lets those jobs overlap
    instead of leaving the cluster idle during each other's
    round-trips. Results never depend on the schedule.

    Every facet thread joins the caller's job group, with description
    ``"<group>/<facet>"``, so the facets' jobs are counted and
    cancelled with the caller's, and carries a job tag unique to this
    call. The first facet that raises cancels its siblings' running
    jobs by that tag, and its exception reaches the caller at once: the
    caller does not wait for the siblings to finish.
    """
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    interrupt = sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
    tag = f"facets-{uuid.uuid4().hex}"

    def in_thread(name: str, thunk: Callable[[], Any]) -> Any:
        sc.setJobGroup(group, f"{group}/{name}" if group else name, interrupt)
        sc.addJobTag(tag)
        return thunk()

    pool = ThreadPoolExecutor(max_workers=len(facets))
    futures = [pool.submit(in_thread, name, fn) for name, fn in facets.items()]
    try:
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f in done and f.exception() is not None:
                raise f.exception()
    except BaseException:
        sc.cancelJobsWithTag(tag)
        pool.shutdown(wait=False, cancel_futures=True)
        raise
    pool.shutdown()
    return [f.result() for f in futures]


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver table.

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS)
    (scanned as a raw long via ``nanosAsLong``) or plain
    ``timestamp[us]``; both are normalized to the same three columns:
    ``ts_ns`` (exact nanos, BIGINT), ``ts_us`` (exact micros, BIGINT)
    and ``ts`` (micro-precision TimestampType). Oracle SQL uses
    DuckDB ``epoch_ns(ts)``, which equals ``ts_ns`` either way.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # epoch extraction below must not depend on the caller's
        # session timezone (TIMESTAMP_NTZ -> epoch goes through a
        # wall-clock interpretation; the stored values are UTC).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            return (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            )
        return (
            df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, register: bool = True):
    """Load the driver-provisioned parquet tables from ``sf_dir``.

    Returns a dict name -> DataFrame; also registers each as a temp
    view so ``spark.sql`` queries run against them.
    """
    out = {}
    for name in TPCH_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = load_table(spark, sf_dir, name)
            if register:
                df.createOrReplaceTempView(name)
            out[name] = df
    return out
