"""SparkSession factory with scale-appropriate defaults.

The engine targets a 1000-executor cluster reading ~100 TB; tests run on
local[N]. The same conf set works for both: AQE handles runtime re-planning
(skew joins, partition coalescing), and the shuffle-partition default is
sized from the env so the driver's bench harness can pin CPU counts.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tidb-lightning-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # the static shuffle-partition count is always wrong for some stage;
        # AQE fixes it per-stage from map-output stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF hop (SQL-dump parse, fingerprints).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 256 MiB scan splits — mirrors the reference's max-region-size
        # (lightning/config/const.go:24) as the per-task input unit.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        # Broadcast threshold: dims up to 64 MiB go broadcast; on the real
        # cluster the TPC-H-ish dims (region/nation/supplier) always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's per-API-call origin capture does a Python stack walk
        # plus an extra JVM round trip per Column/DataFrame op; our
        # transform chains build thousands of Column expressions, where
        # this costs ~1s of pure driver time per table. Error context is
        # a debugging nicety, not worth it on the hot path.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Whole-stage codegen fuses the MySQL cast chain (per-column
        # try_cast + regexp fallback + clamp) into ONE generated method;
        # for a wide table that method exceeds the JVM JIT's
        # HugeMethodLimit (8000 bytecodes), so HotSpot runs it
        # INTERPRETED — measured 3x slower than per-operator codegen on
        # the lineitem ingest chain (4.5s -> 1.4s per pass at sf0.1 x10).
        # Matching Spark's fallback threshold to the JVM's real limit
        # makes stages that cannot be JIT'd use per-operator projections
        # (which split into JIT-able methods) instead. Narrow-expression
        # stages (all the TPC-H plans) stay fused as before.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "false")
        # catalog tables (saveAsTable) should never litter the CWD
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "tls_spark_warehouse"),
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
