"""Workload definitions: which pipelines a pass runs, and the generated
control-flow package.

A pipeline is a callable ``(spark, data_dir, run_dir) -> DataFrame`` that
builds the pipeline through the engine's public entry points and returns
its output frame, un-actioned. The harness ends every pipeline with the
same full-row digest action, which is both the timed terminal action and
the correctness check.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable
from xml.sax.saxutils import quoteattr

from pyspark.sql import DataFrame, SparkSession

Build = Callable[[SparkSession, str, str], DataFrame]


@dataclass(frozen=True)
class PipelineDef:
    name: str
    build: Build
    # source tables the pipeline scans, once per scan
    sources: tuple[str, ...]


def _catalog(full_name: str) -> Build:
    def build(spark: SparkSession, data_dir: str, run_dir: str) -> DataFrame:
        from ssis_to_pyspark_agent_spark.queries import QUERIES

        return QUERIES[full_name](spark, data_dir)

    return build


# ---------------------------------------------------------------------------
# generated package: the Simple-package shape, written as .dtsx
# ---------------------------------------------------------------------------

# (modulus, residue, Name rewrite): the seed picks one variant; each has its
# own recorded digest. Every variant keeps rows, so the guarded
# insert-defaults task always runs.
PACKAGE_VARIANTS = (
    (3, 1, "UPPER([Name])"),
    (4, 0, "SUBSTRING([Name],1,12)"),
    (5, 2, "LOWER([Name])"),
    (7, 3, "REPLACE([Name],\"#\",\"-\")"),
)
PACKAGE_TARGET = "perfbench_dst_output"


def package_variant(seed: int) -> int:
    return seed % len(PACKAGE_VARIANTS)


def _sql_task(name: str, sql: str) -> str:
    return (
        f'<DTS:Executable DTS:ObjectName="{name}" '
        'DTS:ExecutableType="Microsoft.ExecuteSQLTask"><DTS:ObjectData>'
        f"<SQLTask:SqlTaskData SQLTask:SqlStatementSource={quoteattr(sql)}/>"
        "</DTS:ObjectData></DTS:Executable>"
    )


def package_xml(variant: int) -> str:
    """A package shaped like the Simple sample: drop + create the target,
    a dataflow (source query -> derived column -> eager row count into
    ``User::SourceRowCount`` -> table destination), then insert-defaults
    guarded on ``@[User::SourceRowCount] > 0``."""
    mod, res, name_expr = PACKAGE_VARIANTS[variant]
    cols = ["ID", "Name", "Value", "Status"]
    dft = "Package\\DFT_LoadData"
    src_cols = "".join(f'<outputColumn name="{c}"/>' for c in cols)
    ext_cols = "".join(
        f'<externalMetadataColumn refId="ext{i}" name="{c}"/>'
        for i, c in enumerate(cols)
    )
    dst_inputs = "".join(
        f'<inputColumn cachedName="{c}" externalMetadataColumnId="ext{i}"/>'
        for i, c in enumerate(cols)
    )
    source_sql = (
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
        f"FROM [dbo].[SRC_InputTable] WHERE c_custkey % {mod} <> {res}"
    )
    dataflow = (
        '<DTS:Executable DTS:ObjectName="DFT_LoadData" '
        'DTS:ExecutableType="Microsoft.Pipeline"><DTS:ObjectData><pipeline>'
        "<components>"
        f'<component refId="{dft}\\SRC" name="SRC_InputTable" '
        'componentClassID="Microsoft.OLEDBSource"><properties>'
        '<property name="AccessMode">2</property>'
        f'<property name="SqlCommand">{_esc(source_sql)}</property>'
        "</properties><outputs><output name=\"OLE DB Source Output\">"
        f"<outputColumns>{src_cols}</outputColumns></output></outputs>"
        "</component>"
        f'<component refId="{dft}\\DER" name="DER_Clean" '
        'componentClassID="Microsoft.DerivedColumn"><inputs><input '
        'name="Derived Column Input"><inputColumns>'
        '<inputColumn cachedName="Name"><properties>'
        f'<property name="FriendlyExpression">{_esc(name_expr)}</property>'
        "</properties></inputColumn></inputColumns></input></inputs>"
        "</component>"
        f'<component refId="{dft}\\CNT" name="CNT_SourceRows" '
        'componentClassID="Microsoft.RowCount"><properties>'
        '<property name="VariableName">User::SourceRowCount</property>'
        "</properties></component>"
        f'<component refId="{dft}\\DST" name="DST_OutputTable" '
        'componentClassID="Microsoft.OLEDBDestination"><properties>'
        '<property name="OpenRowset">[dbo].[DST_OutputTable]</property>'
        "</properties><inputs><input name=\"OLE DB Destination Input\">"
        f"<inputColumns>{dst_inputs}</inputColumns>"
        f"<externalMetadataColumns>{ext_cols}</externalMetadataColumns>"
        "</input></inputs></component>"
        "</components><paths>"
        f'<path startId="{dft}\\SRC.Outputs[OLE DB Source Output]" '
        f'endId="{dft}\\DER.Inputs[Derived Column Input]"/>'
        f'<path startId="{dft}\\DER.Outputs[Derived Column Output]" '
        f'endId="{dft}\\CNT.Inputs[Row Count Input]"/>'
        f'<path startId="{dft}\\CNT.Outputs[Row Count Output]" '
        f'endId="{dft}\\DST.Inputs[OLE DB Destination Input]"/>'
        "</paths></pipeline></DTS:ObjectData></DTS:Executable>"
    )
    target = "[dbo].[DST_OutputTable]"
    return (
        '<?xml version="1.0"?>'
        '<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" '
        'xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask" '
        'DTS:ObjectName="Perfbench_Simple_Package">'
        "<DTS:Variables>"
        '<DTS:Variable DTS:ObjectName="SourceRowCount">'
        "<DTS:VariableValue>0</DTS:VariableValue></DTS:Variable>"
        "</DTS:Variables><DTS:Executables>"
        + _sql_task("SQL_DropTable", f"DROP TABLE IF EXISTS {target}")
        + _sql_task(
            "SQL_TruncateTable",
            f"CREATE TABLE {target} "
            "(ID bigint, Name string, Value double, Status string)",
        )
        + dataflow
        + _sql_task(
            "SQL_InsertDefaults",
            f"INSERT INTO {target} VALUES "
            "(-1, 'Unknown', 0.0, 'DEFAULT'), "
            "(-2, 'Not Applicable', 0.0, 'DEFAULT')",
        )
        + "</DTS:Executables><DTS:PrecedenceConstraints>"
        '<DTS:PrecedenceConstraint DTS:From="Package\\SQL_DropTable" '
        'DTS:To="Package\\SQL_TruncateTable"/>'
        '<DTS:PrecedenceConstraint DTS:From="Package\\SQL_TruncateTable" '
        'DTS:To="Package\\DFT_LoadData"/>'
        '<DTS:PrecedenceConstraint DTS:From="Package\\DFT_LoadData" '
        'DTS:To="Package\\SQL_InsertDefaults" DTS:EvalOp="3" '
        'DTS:Expression="@[User::SourceRowCount] &gt; 0"/>'
        "</DTS:PrecedenceConstraints></DTS:Executable>"
    )


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def package_oracle_sql(variant: int) -> str:
    """DuckDB SQL for the package's final target table."""
    mod, res, _ = PACKAGE_VARIANTS[variant]
    name = {
        0: "upper(c_name)",
        1: "substring(c_name, 1, 12)",
        2: "lower(c_name)",
        3: "replace(c_name, '#', '-')",
    }[variant]
    return (
        f"SELECT c_custkey AS ID, {name} AS Name, c_acctbal AS Value, "
        f"c_mktsegment AS Status FROM customer WHERE c_custkey % {mod} <> {res} "
        "UNION ALL SELECT -1, 'Unknown', 0.0, 'DEFAULT' "
        "UNION ALL SELECT -2, 'Not Applicable', 0.0, 'DEFAULT'"
    )


def _package(variant: int) -> Build:
    def build(spark: SparkSession, data_dir: str, run_dir: str) -> DataFrame:
        from ssis_to_pyspark_agent_spark import parsing
        from ssis_to_pyspark_agent_spark.plans import control

        path = os.path.join(run_dir, f"package_v{variant}.dtsx")
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(package_xml(variant))
        spark.read.parquet(f"{data_dir}/customer.parquet") \
            .createOrReplaceTempView("perfbench_src_input")
        pkg = parsing.parse_package(path, table_map={
            "src_inputtable": "perfbench_src_input",
            "dst_outputtable": PACKAGE_TARGET,
        })
        results, ctx = control.run_task_graph(spark, pkg.task_graph)
        bad = {k: r.status for k, r in results.items() if r.status != "success"}
        if bad:
            raise RuntimeError(f"package tasks did not succeed: {bad}")
        if not ctx.get("SourceRowCount"):
            raise RuntimeError("package row count guard did not fire")
        return spark.table(PACKAGE_TARGET)

    return build


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

_CATALOG = {
    "q01": ("q01_agg_pricing_summary", ("lineitem",)),
    "q03": ("q03_lookup_chain", ("customer", "nation", "region")),
    "q05": ("q05_merge_join_full", ("customer", "supplier")),
    "q08": ("q08_join_theta_range", ("orders", "lineitem")),
    "q09": ("q09_conditional_split_route", ("orders",)),
    "q15": ("q15_topk_per_group", ("orders",)),
    "q17": ("q17_pivot_unpivot_roundtrip", ("orders",)),
    "q19": ("q19_multilevel_aggregates", ("lineitem",)),
    "q24": ("q24_merge_dml", ("customer", "orders")),
    "q26": ("q26_scd2", ("customer",)),
    "q30": ("q30_dedup_exact_digest", ("documents",)),
    "q31": ("q31_dedup_ngram_cluster", ("documents",)),
    "q32": ("q32_dedup_minhash_lsh", ("documents",)),
    "q34": ("q34_text_features", ("documents",)),
    "q37": ("q37_ann_topk", ("embeddings",)),
    "q40": ("q40_dedup_embedding_pairs", ("embeddings",)),
    "q41": ("q41_events_windows_json", ("events",)),
    "q42": ("q42_sessionization", ("events",)),
    "q44": ("q44_data_hygiene", ("documents",)),
    "q50": ("q50_medium_package_flow", ("customer",)),
    "q57": ("q57_bigjoin_revenue", ("orders", "lineitem")),
    "q67": ("q67_multimodal_plumbing", ("documents",)),
    "q78": ("q78_stream_stream_join", ("events", "events")),
    "q80": ("q80_embedding_kmeans", ("embeddings",)),
}

WORKLOADS: dict[str, tuple[str, ...]] = {
    # SSIS dataflows on the read path (lookup chain, conditional split,
    # multi-level aggregates, top-k per group, pivot/unpivot, media column
    # plumbing) and on the write path (merge upsert/delete, stream-stream
    # replay with state-store commits, and the generated package: parse ->
    # control flow -> table sink)
    "etl_dataflow": ("q03", "q09", "q15", "q17", "q19", "q24", "q67", "q78",
                     "pkg"),
    # curation: n-gram dedup with connected components, text features,
    # approximate nearest neighbours, k-means clustering with pruning
    "llm_curation": ("q31", "q34", "q37", "q80"),
}


def catalog_pipeline(short: str) -> PipelineDef:
    full, sources = _CATALOG[short]
    return PipelineDef(full, _catalog(full), sources)


def package_pipeline(variant: int) -> PipelineDef:
    return PipelineDef(f"pkg_simple_v{variant}", _package(variant), ("customer",))


def pipelines(workload: str, seed: int) -> list[PipelineDef]:
    """The workload's pipelines in the seed's pass order."""
    out = [
        package_pipeline(package_variant(seed)) if p == "pkg"
        else catalog_pipeline(p)
        for p in WORKLOADS[workload]
    ]
    random.Random(seed).shuffle(out)
    return out
