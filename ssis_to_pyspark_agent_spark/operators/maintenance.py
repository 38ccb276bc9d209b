"""Table maintenance + ingest patterns for a long-lived 100 TB lakehouse.

Not in the reference's component set (SSIS delegates these to SQL Server),
but any engine replacing it needs them: small-file compaction, sort-based
clustering for data skipping, incremental high-watermark loads, and
row-level data-quality gates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator
from ssis_to_pyspark_agent_spark.operators.dedup import _local_frame


@operator("maintenance.compact")
def compact(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Small-file compaction: rewrite a parquet dataset into
    ~`target_mb`-sized files (the lakehouse OPTIMIZE analogue; without it a
    streaming/foreachBatch sink accretes thousands of tiny files and scan
    planning dominates query time).

    Reads the dataset, computes the file count from the on-disk bytes, and
    rewrites via coalesce (no shuffle) or repartition (`shuffle=True`, for
    rebalancing skewed files). All filesystem traffic (sizing listing,
    rename-swap with rollback, concurrent-append guard) goes through the
    Hadoop FileSystem API shared with ``maintenance.compact_band_store``
    — local / HDFS / object stores alike; ``os.rename`` would be a crash
    on exactly the filesystems a 100 TB compaction runs on."""
    import math

    from ssis_to_pyspark_agent_spark.fs import (
        count_data_files,
        hadoop_fs,
        list_data_files,
        swap_compacted,
    )

    path = config["path"]
    target_mb = config.get("target_mb", 128)
    fs, _, root = hadoop_fs(spark, path)
    # snapshot BEFORE the read resolves its file index: an append landing
    # in between fails the post-swap check (false positive, safe) instead
    # of silently missing from the compacted copy
    snapshot = list_data_files(fs, root)
    total = sum(snapshot.values())
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    out = df.repartition(n_files) if config.get("shuffle") else df.coalesce(n_files)
    tmp = path.rstrip("/") + "._compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    swap_compacted(spark, path, tmp, snapshot, label="maintenance.compact")
    context[config.get("into", "_compacted_files")] = count_data_files(fs, root)
    return spark.read.parquet(path)


@operator("maintenance.vacuum")
def vacuum(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Age-guarded cleanup of the scratch this engine's own machinery
    accumulates next to live datasets: failed-swap move-asides
    (``<ds>._<label>_old`` — after a rollback failure the original
    data LIVES there, hence the age guard and dry-run default) and
    rewrite temps (``<ds>._*_tmp``). Any other directory name, e.g. a
    consumed streaming checkpoint, is cleaned only when ``patterns``
    names it.

    config:
      path             — directory to scan (never itself a candidate)
      patterns         — fnmatch list matched against BASENAMES;
                         default ['*._*_old', '*._*_tmp'] (the engine's
                         own swap scratch; streaming checkpoints are
                         live state — opt in explicitly)
      older_than_hours — age guard on the Hadoop modification time
                         (default 24). Meaningful for the engine's own
                         scratch BECAUSE fs.move_aside re-stamps each
                         move-aside to its creation time — a bare
                         rename preserves the dataset's last-write
                         mtime, which would make a seconds-old
                         move-aside look weeks old; tmp dirs carry
                         their write time naturally.
      max_depth        — how deep to look for candidates (default 2:
                         children + grandchildren — scratch sits next
                         to each dataset under a warehouse root); never
                         recurses INTO a matched entry
      dry_run          — default True: list, don't delete

    Returns a DataFrame (path, size_bytes, modified_ts, deleted) of the
    candidates — the audit record either way. Pure metadata traffic
    through the Hadoop FileSystem API (one listStatus per directory
    level, one delete per stale candidate); no dataset bytes are read,
    so the cost at 100 TB is the namespace walk, bounded by max_depth.

    Reference has no counterpart (SSIS leaves file hygiene to
    maintenance plans) — NEW per SURVEY §2.12's lakehouse-maintenance
    family, closing the loop its own compact/rewrite scratch opens.
    """
    import fnmatch
    import time as _time

    from ssis_to_pyspark_agent_spark.fs import hadoop_fs

    path = config["path"]
    patterns = config.get("patterns", ["*._*_old", "*._*_tmp"])
    if isinstance(patterns, str):
        patterns = [patterns]
    if not patterns:
        raise ValueError("maintenance.vacuum: patterns must be non-empty")
    hours = float(config.get("older_than_hours", 24))
    if hours < 0:
        raise ValueError(
            f"maintenance.vacuum: older_than_hours must be >= 0, "
            f"got {hours}")
    max_depth = int(config.get("max_depth", 2))
    if max_depth < 1:
        raise ValueError(
            f"maintenance.vacuum: max_depth must be >= 1, got {max_depth}")
    dry_run = config.get("dry_run", True)
    cutoff_ms = (_time.time() - hours * 3600.0) * 1000.0

    fs, hpath, root = hadoop_fs(spark, path)
    if not fs.exists(root):
        raise ValueError(f"maintenance.vacuum: {path} does not exist")

    rows = []
    frontier = [(root, 1)]
    while frontier:
        d, depth = frontier.pop()
        for st in fs.listStatus(d):
            p = st.getPath()
            name = p.getName()
            if any(fnmatch.fnmatch(name, pat) for pat in patterns):
                if st.getModificationTime() >= cutoff_ms:
                    continue  # too fresh — possibly in use
                size = (
                    fs.getContentSummary(p).getLength()
                    if st.isDirectory() else st.getLen()
                )
                deleted = False
                if not dry_run:
                    deleted = bool(fs.delete(p, True))
                rows.append((
                    p.toUri().getPath(), int(size),
                    int(st.getModificationTime()), deleted,
                ))
            elif st.isDirectory() and depth < max_depth:
                frontier.append((p, depth + 1))
    return _local_frame(
        spark,
        rows,
        "path string, size_bytes bigint, modified_ts bigint, "
        "deleted boolean",
    )


@operator("maintenance.cluster")
def cluster(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Sort-based clustering for data skipping: range-partition on the
    cluster keys and sort within partitions, so parquet row-group min/max
    stats prune reads on those keys (the poor-man's Z-order; single-key
    workloads get near-Delta-OPTIMIZE-ZORDER behavior from plain sorting).
    Returns the clustered frame for a sink step to write."""
    df: DataFrame = inputs[0]
    keys = config["keys"]
    n = config.get("n") or spark.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *keys).sortWithinPartitions(*keys)


@operator("incremental_load")
def incremental_load(spark: SparkSession, inputs, config, context) -> DataFrame:
    """High-watermark incremental ingest (the SSIS pattern of a variable-
    driven WHERE clause on the source): keep rows with
    `watermark_col > context[var]`, then advance the variable to the new
    max. The filter is a plain predicate — pushdown prunes partitions/row
    groups at the scan.

    `eager=True` computes the new watermark now (an action); otherwise the
    caller advances it after the sink runs, from `RunResult.metrics()`-style
    inspection."""
    df: DataFrame = inputs[0]
    col = config["watermark_col"]
    var = config.get("var", "watermark")
    current = context.get(var)
    out = df.filter(F.col(col) > F.lit(current)) if current is not None else df
    if config.get("eager", True):
        new_wm = out.agg(F.max(col)).first()[0]
        if new_wm is not None:
            context[var] = new_wm
    return out


@operator("quality_check")
def quality_check(spark: SparkSession, inputs, config, context):
    """Row-level data-quality gate. `rules`: name -> SQL/SSIS predicate a
    GOOD row satisfies. Modes: 'redirect' (default) returns
    {'out': passing, 'error': failing rows + `_failed_rules` array),
    'fail' raises if any row violates, 'flag' adds the array column only.

    `into=<name>` attaches per-rule violation counts as an ``observe``
    metric (CollectMetrics rides the sink's own action — zero extra scans
    at 100 TB, same discipline as row_count); read them from
    ``RunResult.metrics()``. 'fail' mode must act now by definition, but
    uses one short-circuiting ``take(3)`` (stops at the first matches)
    instead of a full count + collect pair."""
    from ssis_to_pyspark_agent_spark.functions.expr import (
        ExpressionCompiler,
        schema_of,
    )

    df: DataFrame = inputs[0]
    comp = ExpressionCompiler(schema=schema_of(df), variables=context)
    checks: dict[str, Column] = {}
    for name, pred in config["rules"].items():
        if isinstance(pred, Column):
            checks[name] = pred
        elif config.get("sql"):
            checks[name] = F.expr(pred)
        else:
            checks[name] = comp.compile(pred)

    failed = F.filter(
        F.array(
            *[
                F.when(~c | c.isNull(), F.lit(n)).otherwise(F.lit(None))
                for n, c in checks.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    flagged = df.withColumn("_failed_rules", failed)
    if var := config.get("into"):
        from pyspark.sql import Observation

        obs = Observation(var)
        flagged = flagged.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.when(~c | c.isNull(), 1).otherwise(0))
                .cast("long")
                .alias(n)
                for n, c in checks.items()
            ],
        )
        context.setdefault("_observations", {})[var] = obs
    mode = config.get("mode", "redirect")
    if mode == "flag":
        return flagged
    good = flagged.filter(F.size("_failed_rules") == 0).drop("_failed_rules")
    bad = flagged.filter(F.size("_failed_rules") > 0)
    if mode == "fail":
        sample = bad.select("_failed_rules").take(3)
        if sample:
            raise ValueError(
                "quality_check: rows failed rules, e.g. "
                f"{[r['_failed_rules'] for r in sample]}"
            )
        return good
    return {"out": good, "error": bad}
