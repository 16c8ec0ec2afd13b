"""SparkSession factory with engine defaults.

The engine runs under two session regimes:

1. Sessions we create (tests, bench, pipeline jobs) — built here with
   UTC timestamps, AQE, and right-sized shuffle partitions.
2. Sessions handed to us (the driver's verify harness) — we cannot
   rebuild those, so every entry point calls
   :func:`doin_fine_ance__spark.compat.ensure_compat` which applies the
   same semantics via runtime-settable confs.

:func:`local_frame` is the one way the engine turns rows held in Python
into a DataFrame, under either regime.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .compat import ensure_compat


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "doin-fine-ance-spark",
    cpus: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local mode uses ``local[cpus]``, and shuffle partitions are the
    core count (the 200 default over-parallelizes local runs and
    under-parallelizes large clusters — on a real cluster AQE coalesces
    upward from this anyway).
    """
    cpus = cpus or default_parallelism()
    spark = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode = driver IS the executor: its block manager holds
        # every localCheckpoint (the dedup pipelines materialize band
        # keys / token stores / CC labels there). At 8g those blocks
        # drive stop-the-world full GCs that stall unrelated queries
        # for tens of seconds; size the single-JVM heap like the
        # executor it stands in for.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Shuffle files + spilled checkpoint blocks go to spark.local.dir;
        # on this box the root disk is burst-throttled block storage and
        # shuffle-heavy pipelines stall seconds in D-state once credits
        # run out, while RAM sits idle. Prefer tmpfs when it exists —
        # exactly what a tuned cluster does with NVMe/ramdisk scratch.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-scratch" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The ContextCleaner deletes a query's shuffle files only after
        # the JVM garbage-collects their RDD references, and the stock
        # periodic-GC interval is 30 MINUTES — a session that runs
        # hundreds of queries back-to-back (the bench, a sweep, a real
        # multi-query pipeline) accumulates every dead query's shuffle
        # files on spark.local.dir until then. With tmpfs scratch that
        # is RAM: measured 97 GB of dead shuffle files during the sf10
        # bench before the kernel OOM-killed the JVM. A tight periodic
        # GC keeps scratch bounded by the WORKING set, not the session
        # history; the minor-GC cost is noise next to any real query.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # One BLAS thread per Python worker (see package __init__ —
        # each worker is one task slot; self-threading BLAS pools
        # oversubscribe and spin). executorEnv carries the pin to
        # cluster-mode executors; local mode inherits the driver env.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS",
                os.environ.get("OPENBLAS_NUM_THREADS", "1"))
        .config("spark.executorEnv.OMP_NUM_THREADS",
                os.environ.get("OMP_NUM_THREADS", "1"))
        .config("spark.executorEnv.MKL_NUM_THREADS",
                os.environ.get("MKL_NUM_THREADS", "1"))
        .getOrCreate()
    )
    ensure_compat(spark)
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """DataFrame over Python-side ``rows`` (tuples in ``schema`` field
    order), built as a JVM local relation.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    ``parallelize`` RDD, so every action over the frame runs a Spark
    stage whose tasks go through Python workers. Handing Spark a
    ``pyarrow.Table`` instead yields a ``LocalRelation``: building and
    collecting it runs no job, and the optimizer has its size, so a
    join against it can broadcast. This holds whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.

    ``schema`` is a ``StructType`` or a DDL string. Values are checked
    against it by Arrow: a row of the wrong width, a wrong type or a
    null in a non-nullable field raises, as the list path does.

    Timestamp rule: a naive ``datetime`` in a ``TimestampType`` field is
    read as UTC (the engine's ``utcnow()`` convention), independent of
    the session and process time zones. The list path read it in the
    Python process's local zone; the two agree only where that zone is
    UTC. Aware datetimes keep their instant on both paths.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row must have the schema's {width} fields")
    columns = zip(*rows) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
