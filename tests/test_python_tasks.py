"""Python tasks cost a fixed worker set-up each (0.16-0.25 CPU-s on a
4-core host), so frames built from driver rows must not be Python RDDs,
and passes feeding a numpy kernel must not fan out to every core on
kilobytes of input.

- ``_local_frame``: driver rows become an Arrow ``LocalRelation``,
  identical to ``createDataFrame(rows, schema)`` in schema and rows;
- ``_spread(by_bytes=True)``: an AQE rebalance sized by shuffled bytes;
- a source guard: no ``createDataFrame`` outside the helper.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import ssis_to_pyspark_agent_spark
from ssis_to_pyspark_agent_spark.operators.dedup import _local_frame, _spread
from tests.conftest import assert_local_scan

_CASES = [
    ("k bigint, n int", [(1, 2), (None, None), (-(2**40), 7)]),
    ("x double, s string", [(0.5, "a"), (None, None), (-1e300, "é")]),
    ("b boolean, a array<bigint>", [(True, [1, None]), (None, None),
                                    (False, [])]),
    (StructType([StructField("id", LongType(), False),
                 StructField("tags", ArrayType(StringType()), True)]),
     [(1, ["x"]), (2, None)]),
    ("k bigint, s string, a array<bigint>", []),
]


def _jvm_schema(df):
    # a fresh frame: the schema comes from the JVM plan, not the schema
    # the Python side cached when it built ``df``
    return df.select("*").schema


class TestLocalFrame:
    @pytest.mark.parametrize("schema,data", _CASES)
    def test_matches_create_data_frame(self, spark, schema, data):
        got = _local_frame(spark, data, schema)
        want = spark.createDataFrame(data, schema)
        assert _jvm_schema(got) == _jvm_schema(want)
        assert got.collect() == want.collect()
        assert_local_scan(got)


class TestSpreadByBytes:
    def test_tiny_vector_input_runs_one_task(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assert emb.rdd.getNumPartitions() == 1
        out = _spread(spark, emb, by_bytes=True)
        assert out.rdd.getNumPartitions() == 1
        # JVM-expression passes keep the core-count spread
        cores = spark.sparkContext.defaultParallelism
        assert _spread(spark, emb).rdd.getNumPartitions() == cores

    def test_narrow_input_over_min_size_spreads(self, spark):
        conf = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        min_bytes = int(spark.conf.get(conf).rstrip("b"))
        # 8 random doubles per row (incompressible): 4x min size shuffled
        n = 4 * min_bytes // 64
        narrow = spark.range(0, n, 1, 1).select(
            "id", *[F.rand(i).alias(f"c{i}") for i in range(8)]
        )
        out = _spread(spark, narrow, by_bytes=True)
        assert out.rdd.getNumPartitions() > 1

    def test_wide_input_gets_no_exchange(self, spark):
        cores = spark.sparkContext.defaultParallelism
        wide = spark.range(0, 100, 1, cores)
        for by_bytes in (True, False):
            out = _spread(spark, wide, by_bytes=by_bytes)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan


# source.excel builds its frame from untyped xlsx cells and lets Spark
# infer the schema; Arrow would infer the same cells differently (e.g. a
# column mixing ints and floats), so it keeps createDataFrame.
_ALLOWED = {("dedup.py", "_local_frame"), ("sources_sinks.py", "excel_source")}


def _create_calls(path: Path):
    """(enclosing function, line) of every ``.createDataFrame(`` call."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((fn, child.lineno))
            visit(child, inner)

    visit(ast.parse(path.read_text()), None)
    return found


def test_driver_rows_go_through_local_frame():
    pkg = Path(ssis_to_pyspark_agent_spark.__file__).parent
    files = sorted((pkg / "operators").glob("*.py")) + [pkg / "queries.py"]
    bad = [
        f"{path.name}:{line} ({fn})"
        for path in files
        for fn, line in _create_calls(path)
        if (path.name, fn) not in _ALLOWED
    ]
    assert not bad, (
        "createDataFrame on driver rows starts a Python task per slice "
        f"on every scan; use dedup._local_frame: {bad}"
    )
