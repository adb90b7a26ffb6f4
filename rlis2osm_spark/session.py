"""SparkSession factory with scale-oriented defaults.

Test/bench runs are single-JVM ``local[N]``; the configs below are the ones
that matter identically on a 1000-executor cluster: AQE (runtime re-plan +
skew-join splitting), Arrow for every pandas UDF exchange, explicit shuffle
parallelism, and broadcast threshold tuned so dimension tables broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "rlis2osm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{len(os.sched_getaffinity(0))}]"
    if shuffle_partitions is None:
        # local mode: match cores; on a real cluster this would be
        # 2-3x total executor cores (or left to AQE coalescing).
        n = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = int(n) if n.isdigit() else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128m is right for TB-scale inputs; callers over MB-sized files
        # pass a smaller value in ``extra_conf`` so scans get the task
        # count a real input would naturally have
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Align Spark's whole-stage-codegen fallback with the JVM JIT's
        # 8000-byte DontCompileHugeMethods threshold. The default (65535)
        # leaves methods in the 8k-64k range codegen'd but never JIT'd —
        # they execute as INTERPRETED bytecode, slower than Spark's
        # interpreted-expression fallback. The wide tag-translation
        # projections (T12-T20 when-chains) sit exactly in that range:
        # t13_t20_trails measured 2.9s -> 0.58s at sf0.1 from this alone
        # (r4). Identical reasoning applies on a real cluster.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
