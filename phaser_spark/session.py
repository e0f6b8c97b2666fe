"""SparkSession factory with engine defaults.

Engine addition (the reference is single-process pure Python and has no
session concept).  Defaults follow the tuning guidance for local[N] test
runs while staying correct on a real cluster:

* AQE on (runtime re-planning, skew-join handling),
* shuffle partitions sized to the local core count instead of 200,
* UTC session timezone so timestamp results are comparable with external
  oracles (DuckDB timestamps are UTC-naive),
* Arrow enabled for pandas ingest and ``toPandas``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "phaser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 (guide §3.1/§9, VERDICT r12 item 3): let the planner pick a
        # shuffled-hash join when its size conditions hold — same
        # exchanges as sort-merge but no per-partition sorts; AQE skew
        # splitting applies to SHJ too.  Swept at sf0.1: exactly one
        # bench join flips (dsir_importance_docs' final LeftOuter,
        # corpus x per-doc scores — both corpus-sized, so the skipped
        # sorts grow with the corpus); every other join either
        # broadcasts or keeps SMJ under the planner's build-side rule.
        # Differential suite + full oracle parity green under the flip.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # keep catalog-table data (bucketed sinks) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "phaser_spark_warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
