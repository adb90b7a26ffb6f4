"""SparkSession factory with scale-oriented defaults.

Test/bench runs are single-JVM ``local[N]``; the configs below are the ones
that matter identically on a 1000-executor cluster: AQE (runtime re-plan +
skew-join splitting), Arrow for every Python UDF exchange, explicit shuffle
parallelism, and broadcast threshold tuned so dimension tables broadcast.

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``): with it on, every
``F.*`` and Column call walks the Python stack and makes about five extra
py4j round trips, which doubles the cost of building the wide
tag-translation plans. The trade-off: an analysis or runtime error still
carries Spark's SQL context (the failing expression and plan fragment) but
no longer the Python ``file:line`` of the call that built it.

The driver JVM runs the Parallel collector: a batch conversion waits on
no pause, and where G1 grows eden to 60% of the heap, Parallel keeps its
young generation at a third, in one reused range (JVM peak RSS 2.4 ->
1.5 GB under perfbench's 2 GB heap). ``MetaspaceSize=256m`` stops the
"Metadata GC Threshold" full GCs class loading triggers under it. The
flags sit in ``spark.driver.defaultJavaOptions``, ahead of a caller's
``spark.driver.extraJavaOptions``. They apply only when this call launches
the JVM, and only to the driver (also the executor in local mode).
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
        .config("spark.driver.defaultJavaOptions",
                "-XX:+UseParallelGC -XX:MetaspaceSize=256m")
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
        # Spark caches generated classes in one JVM-wide cache of 100
        # entries by default, split into 4 LRU segments; an entry is keyed
        # by source text and class loader, so in local mode a whole-stage
        # class is cached once for the driver and once for the executor.
        # The engine's working set is far larger: 271 entries for the 17
        # headline queries, about 590 for all 50 queries, 85 for the
        # pipeline. At 100, every warm query_suite pass recompiled ~310
        # classes with Janino (which the JIT then compiled again) and
        # every warm pipeline repetition 20-27. 2048 is about 3x the
        # largest single-session set (50 queries + pipeline, ~680), with
        # room for uneven segments. Static conf: it takes effect with the
        # first session in the JVM; the same reasoning holds for executors
        # on a real cluster.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Whole-stage classes are by default named after their codegen
        # stage id. Under AQE that id follows the order in which query
        # stages get planned, which races with shuffle-stage completion,
        # so a repeated query could renumber its pipelines and miss the
        # cache (q04_semi_anti_join, s8_proximity_joins: 4 classes on some
        # second runs). With one fixed name, identical pipelines share one
        # entry; explain output still shows the stage ids.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
