"""Row-level transformations (SURVEY §2.3).

Derived Column, Data Conversion, Copy Column, Character Map, Checksum,
Audit, Row Count — all narrow (no shuffle), all JVM-side Column expressions
so they fuse into one whole-stage-codegen span over the scan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.functions.expr import (
    DT_TYPE_MAP,
    ExpressionCompiler,
    schema_of,
)
from ssis_to_pyspark_agent_spark.operators import operator


def _compiler(df: DataFrame, context: dict[str, Any]) -> ExpressionCompiler:
    return ExpressionCompiler(schema=schema_of(df), variables=context)


@operator("derived_column")
def derived_column(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Add/replace columns from SSIS expressions (reference parse
    data_engineering_parser.py:719-729, codegen enhanced_json_mapper.py:
    1806-1843 chained withColumn). `columns` is an ordered mapping
    name -> expression string (or a pyspark Column). One `withColumns`
    batch per operator keeps the logical plan shallow."""
    df: DataFrame = inputs[0]
    comp = _compiler(df, context)
    cols: dict[str, Column] = {}
    for name, expr in config["columns"].items():
        cols[name] = expr if isinstance(expr, Column) else comp.compile(expr)
    return df.withColumns(cols)


@operator("filter")
def filter_op(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Predicate filter; `predicate` is an SSIS expression or SQL string
    (`sql=True`). Declarative -> Catalyst pushes it to the scan."""
    df: DataFrame = inputs[0]
    pred = config["predicate"]
    if isinstance(pred, Column):
        return df.filter(pred)
    if config.get("sql"):
        return df.filter(pred)
    return df.filter(_compiler(df, context).compile(pred))


@operator("data_conversion")
def data_conversion(spark: SparkSession, inputs, config, context):
    """Cast columns (reference parse :1173-1177, map enhanced_json_mapper.py
    :262-269). `casts`: out_name -> (source_col, type). Type may be a DT_*
    name or a Spark DDL type. SSIS keeps the original column and adds
    'Copy of X' by default; we take explicit out names.

    SSIS error-output semantics: `on_error='redirect'` returns
    {'out': converted rows, 'error': rows where any cast failed} using
    try_cast (a failed cast = null result from a non-null input);
    'fail' raises on the first bad row (ANSI cast); default 'null'
    nulls bad values like Spark's lenient cast."""
    df: DataFrame = inputs[0]
    on_error = config.get("on_error", "null")
    out: dict[str, Column] = {}
    failed: Column | None = None
    for out_name, (src, typ) in config["casts"].items():
        t = DT_TYPE_MAP.get(typ.upper(), typ) if isinstance(typ, str) else typ
        if on_error == "fail":
            out[out_name] = F.col(src).cast(t)
            continue
        c = F.try_cast(F.col(src), t) if hasattr(F, "try_cast") else F.col(src).try_cast(t)
        out[out_name] = c
        bad = F.col(src).isNotNull() & c.isNull()
        failed = bad if failed is None else (failed | bad)
    if on_error == "redirect":
        assert failed is not None
        # `failed` references only source columns, so it filters the input
        # BEFORE conversion: error port carries the original rows untouched
        return {
            "out": df.filter(~failed).withColumns(out),
            "error": df.filter(failed),
        }
    return df.withColumns(out)


@operator("copy_column")
def copy_column(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Duplicate columns (reference type-only :1090). `copies`: new -> old."""
    df: DataFrame = inputs[0]
    return df.withColumns({new: F.col(old) for new, old in config["copies"].items()})


@operator("character_map")
def character_map(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Character Map (reference :1091): string transforms per column.
    `maps`: col -> one of upper|lower|reverse|trim. In-place unless
    `out` prefix given."""
    df: DataFrame = inputs[0]
    fns = {"upper": F.upper, "lower": F.lower, "reverse": F.reverse, "trim": F.trim}
    out: dict[str, Column] = {}
    for colname, op_name in config["maps"].items():
        target = config.get("out", {}).get(colname, colname)
        out[target] = fns[op_name](F.col(colname))
    return df.withColumns(out)


@operator("checksum")
def checksum(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Row checksum over columns for change detection (reference
    enhanced_json_mapper.py:300-308 uses ``hash(*cols)``; the Medium fixture
    computes ``(DT_I4)(a+b+c)`` as a derived column,
    Sample_Medium_Package.dtsx:326-331).

    `algorithm`: 'xxhash64' (default; stable across Spark versions and
    partitionings), 'hash' (32-bit Murmur3), 'md5'/'sha2' (hex string,
    portable to any engine), or 'sum' (the fixture's additive checksum).
    """
    df: DataFrame = inputs[0]
    cols = [F.col(c) for c in config["columns"]]
    algo = config.get("algorithm", "xxhash64")
    out = config.get("out", "checksum")
    if algo == "xxhash64":
        c = F.xxhash64(*cols)
    elif algo == "hash":
        c = F.hash(*cols)
    elif algo == "md5":
        c = F.md5(F.concat_ws("\x1f", *[x.cast("string") for x in cols]))
    elif algo == "sha2":
        c = F.sha2(F.concat_ws("\x1f", *[x.cast("string") for x in cols]), 256)
    elif algo == "sum":
        c = cols[0].cast("long")
        for x in cols[1:]:
            c = c + x.cast("long")
        c = c.cast("int")
    else:
        raise ValueError(f"unknown checksum algorithm {algo!r}")
    return df.withColumn(out, c)


@operator("audit")
def audit(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Audit columns (reference :1123): execution metadata stamped per row.
    Values come from context (run_id, package name) + current_timestamp."""
    df: DataFrame = inputs[0]
    cols: dict[str, Column] = {}
    for name, kind in config.get("columns", {"audit_ts": "timestamp"}).items():
        if kind == "timestamp":
            cols[name] = F.current_timestamp()
        elif kind.startswith("context:"):
            cols[name] = F.lit(context.get(kind.split(":", 1)[1]))
        else:
            cols[name] = F.lit(kind)
    return df.withColumns(cols)


@operator("row_count")
def row_count(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Row Count (reference :1069-1082; codegen 2776-2824 emits
    ``df.count()`` per counter — an extra action/job each).

    Default mode uses ``df.observe`` so the count rides whatever action the
    sink triggers (zero extra scans at 100 TB); the metric lands in context
    lazily via a deferred getter. `eager=True` forces a count() now and
    binds the variable immediately (needed when a downstream precedence
    expression reads it).
    """
    df: DataFrame = inputs[0]
    var = config["into"]
    if config.get("eager"):
        context[var] = df.count()
        return df
    from pyspark.sql import Observation

    obs = Observation(var)
    out = df.observe(obs, F.count(F.lit(1)).alias("n"))
    context.setdefault("_observations", {})[var] = obs
    return out


@operator("cache")
def cache(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Cache Transform (reference :1115) / explicit Multicast persistence."""
    return inputs[0].persist()


@operator("per_row_command")
def per_row_command(spark: SparkSession, inputs, config, context) -> DataFrame:
    """OLE DB Command parity shim (reference parse :878-917, codegen
    :2849-2973 — literally one parameterized UPDATE/DELETE per row).

    Set-based rewrite per SURVEY §2.5 "Never per-row": action='update' ->
    merge_upsert, action='delete' -> merge_delete, with `param_mapping`
    ({target_col: input_col}) standing in for the @piX parameter binds.
    inputs: [target, command_rows]."""
    from ssis_to_pyspark_agent_spark.operators.scd import merge_delete, merge_upsert

    target, rows_df = inputs[0], inputs[1]
    mapping: dict[str, str] = config["param_mapping"]
    projected = rows_df.select(
        *[F.col(src).alias(dst) for dst, src in mapping.items()]
    )
    keys = config["keys"]
    if config["action"] == "delete":
        return merge_delete(
            spark, [target, projected],
            {"keys": keys, **({"soft": config["soft"]} if config.get("soft") else {})},
            context,
        )
    if config["action"] == "update":
        # UPDATE only touches existing keys (an SSIS UPDATE of a missing
        # key affects 0 rows) — the left join below already guarantees
        # that: a command row whose key has no target row matches nothing.
        # Columns not named in the mapping keep their target values.
        merged = target.alias("t").join(
            projected.alias("u"), keys, "left"
        ).select(
            *[
                F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c)
                if c in mapping and c not in keys
                else F.col(f"t.{c}")
                for c in target.columns
            ]
        )
        return merged
    raise ValueError(f"unknown per-row command action {config['action']!r}")


@operator("repartition")
def repartition(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Explicit layout control: hash (`by`), range (`range_by`), or
    round-robin (`n` only); `coalesce=True` shrinks without a shuffle.
    The knob for co-locating a downstream join/agg or sizing output files."""
    df: DataFrame = inputs[0]
    n = config.get("n")
    if config.get("coalesce"):
        return df.coalesce(n)
    if by := config.get("by"):
        return df.repartition(n, *by) if n else df.repartition(*by)
    if rb := config.get("range_by"):
        return df.repartitionByRange(n, *rb) if n else df.repartitionByRange(*rb)
    return df.repartition(n)


@operator("select")
def select(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Projection / rename. `columns`: list of names or mapping out->in.
    Explicit pruning keeps the parquet ReadSchema minimal."""
    df: DataFrame = inputs[0]
    cols = config["columns"]
    if isinstance(cols, dict):
        return df.select(*[F.col(src).alias(out) for out, src in cols.items()])
    return df.select(*cols)
