"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime coalesce / skew-join /
broadcast re-plan), Arrow on for the Pandas-UDF slow path, UTC session
timezone so timestamps compare bit-exactly against external oracles.

On a real cluster the same builder applies — only master/memory change;
AQE picks shuffle partition counts dynamically at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: the session's cache of compiled
#: generated classes. Spark's default of 100 is below one pipeline pass
#: (~212 distinct classes for perfbench ``etl_dataflow``, ~224 for
#: ``llm_curation``): at 100 the LRU evicts a pipeline's classes before it
#: runs again, and every re-run pays Janino, class loading and JIT again.
#: The 49 runnable catalog queries compile ~1,380 distinct classes in one
#: sf0.001 session, and Guava splits the bound over 4 LRU segments, hence
#: 2048. Heap cost: ~20-28 KB per cached class (NOTES invariant 25).
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "ssis_to_pyspark_agent_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # r12 (guide §2.4/§6): let AQE re-optimize the plan that MATERIALIZES
    # a persisted frame — off (Spark default) every .persist() freezes the
    # static shuffle width (spark.sql.shuffle.partitions) into the cached
    # relation, so a 256-row pairs cache occupies 32 partitions and every
    # downstream scan pays 32 tasks; on, the cache fill coalesces to the
    # data's actual size and downstream stages follow. Partitioning only —
    # values unchanged (oracle-gated). At cluster scale the same setting
    # right-sizes cached TB-frames instead of inheriting a too-small
    # static width.
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable conf to an externally provided session.

    Used by ``__spark_entry__`` where the driver owns the builder: pins the
    session timezone (oracle comparison) and right-sizes shuffle
    parallelism for the gate's data volumes (the 200 default wastes task
    overhead at sf<=0.1; AQE still re-coalesces at runtime).

    Static SQL confs cannot be set on a session that already exists, so
    none of ``get_spark``'s static settings reach an externally built
    session: ``spark.sql.codegen.cache.maxEntries`` keeps Spark's 100
    there, and re-runs in that session recompile what the cache evicted.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass  # conf may be immutable on some deployments; defaults are fine
    return spark
