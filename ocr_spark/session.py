"""SparkSession construction with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB design point and merely *tested*
on local[N]: AQE for runtime re-planning and skew-join splitting, Arrow for
the Python exchange, bounded Arrow batches so multi-MB transcript turns
don't blow executor-python memory, and a shuffle-partition count that the
caller scales with cluster size.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # the default for wide queries (joins, aggregates); the extraction
        # job sizes its own map stage to the task slots
        # (``ExtractionJob.partitions_per_group``), so this knob does not
        # set its Python task count
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce tiny shuffle partitions, split skewed ones at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow exchange for pandas UDFs; bound batch size for long turns
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 measured best on the 1.9M-turn job (108.7 s vs 123.6 s at
        # 1024 and 131.4 s at 8192, same box/day): big batches serialize
        # the JVM->Python pipeline into lumpy tails, tiny ones pay
        # per-batch overhead
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_ARROW_BATCH", "2048"))
        # target split size for the initial scan: extraction does ~1000x
        # more compute per byte than a plain scan, so splits must be sized
        # for CPU balance, not IO efficiency — 16 MB keeps every core busy
        # from the first stage (128 MB coalesced a 300 MB input to 3 tasks,
        # serializing the scan+shuffle stage; measured 2026-08-17)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # lz4 parquet sink: encode CPU is the asymmetric cost when cores
        # are scarce — at 12 Python-UDF slots on the 32-core box the sink
        # eats ~14% of full-job throughput (vs ~5% at 3 slots), and
        # lz4-vs-snappy buys +3.5% full-job at local[12] (8,608 vs 8,320
        # turns/s median, same input/day) while local[3] is unchanged
        # within noise. At 100 TB the same arithmetic holds wherever
        # executor cores are the binding resource; text compresses
        # comparably under either codec. ``lz4_raw``, not ``lz4``: Spark's
        # ``lz4`` writes Hadoop-framed blocks, which pyarrow misreads once
        # a page passes ~256 KB ("Corrupt Lz4 compressed data") and DuckDB
        # rejects outright; ``lz4_raw`` is the parquet-standard LZ4 both
        # read. On a 3,000-turn job output the two wrote within 1% of each
        # other in 8 files, and lz4_raw 8% less as one file.
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_PARQUET_CODEC", "lz4_raw"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # pre-commit and pre-touch the heap: the first big-shuffle stage
        # otherwise pays the heap-growth tax — threads stall off-CPU in
        # allocation/page faults while the JVM grows from its initial
        # size (stage forensics: 4355 s task runtime / 1550 s CPU cold
        # vs 224/218 warm on the IDENTICAL stage; a cold sf1 winnow run
        # drops 112-292 s -> 48 s with a pre-touched heap). Pre-touch
        # costs seconds once at startup, linear in heap size. In
        # spark-submit deployments the driver JVM is already up when
        # this builder runs — set the same flags on the submit command.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_DRIVER_MEMORY", "8g")
            + " -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
