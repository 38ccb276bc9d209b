"""Pipeline runner tests: topo order, ports, variables, fan-out persist,
disabled steps, error surfaces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.plans import Pipeline, run_pipeline
from ssis_to_pyspark_agent_spark.plans.spec import Step


def test_out_of_order_definition_is_fine(spark):
    p = Pipeline("x")
    p.step("b", "filter", "a", predicate="[v] > 1")
    p.step("a", "source.dataframe", df=spark.createDataFrame([(1,), (2,)], "v int"))
    assert run_pipeline(spark, p).df("b").count() == 1


def test_duplicate_step_rejected(spark):
    p = Pipeline("x").step("a", "source.dataframe", df=spark.range(1))
    p.step("a", "source.dataframe", df=spark.range(1))
    with pytest.raises(ValueError, match="duplicate"):
        run_pipeline(spark, p)


def test_unknown_input_rejected(spark):
    p = Pipeline("x").step("a", "filter", "ghost", predicate="1 == 1")
    with pytest.raises(ValueError, match="unknown input"):
        run_pipeline(spark, p)


def test_port_selection_and_ambiguity(spark):
    df = spark.createDataFrame([(1,), (2,)], "v int")
    p = (
        Pipeline("x")
        .step("src", "source.dataframe", df=df)
        .step("sp", "conditional_split", "src", outputs={"hi": "[v] > 1"})
    )
    res = run_pipeline(spark, p)
    assert res.df("sp.hi").count() == 1
    with pytest.raises(KeyError, match="ports"):
        res.df("sp")  # ambiguous: hi + default


def test_variables_flow_through_context(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    p = Pipeline("x", variables={"cut": 5})
    p.step("src", "source.dataframe", df=df)
    p.step("f", "filter", "src", predicate="[v] >= @[User::cut]")
    p.step("rc", "row_count", "f", into="n_after", eager=True)
    res = run_pipeline(spark, p)
    assert res.context["n_after"] == 5
    assert res.context["cut"] == 5


def test_disabled_step_skipped(spark):
    p = Pipeline("x")
    p.step("src", "source.dataframe", df=spark.range(3))
    p.steps.append(
        Step(name="dead", op="filter", inputs=["src"],
             config={"predicate": "1 == 1"}, enabled=False)
    )
    res = run_pipeline(spark, p)
    assert "dead" not in res.outputs


def test_fanout_persist_and_unpersist(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    p = (
        Pipeline("x")
        .step("src", "source.dataframe", df=df)
        .step("a", "filter", "src", predicate="[v] > 1")
        .step("b", "filter", "src", predicate="[v] < 5")
    )
    res = run_pipeline(spark, p)
    assert res.df("src").storageLevel.useMemory  # fan-out of 2 -> persisted
    res.release_caches()
    assert not res.df("src").storageLevel.useMemory


def test_fanout_persists_a_multicast_frame_once(spark, monkeypatch):
    # multicast returns one frame on every port: the fan-out persist
    # must cache it once (a second persist logs "Asked to cache already
    # cached data" and double-books the run's cache ledger)
    from pyspark import StorageLevel

    cls = type(spark.range(1))  # pyspark.sql.DataFrame is only its base
    orig = cls.persist
    again = []

    def persist(self, *a, **k):
        if self.storageLevel != StorageLevel.NONE:
            again.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "persist", persist)
    p = (
        Pipeline("x")
        .step("src", "source.dataframe",
              df=spark.range(10).selectExpr("id", "'mc-once' AS tag"))
        .step("mc", "multicast", "src", outputs=2)
        .step("a", "filter", "mc.out1", predicate="[id] > 1")
        .step("b", "filter", "mc.out2", predicate="[id] < 5")
    )
    res = run_pipeline(spark, p)
    try:
        assert res.df("a").count() == 8 and res.df("b").count() == 5
        assert not again, f"{len(again)} frame(s) persisted twice"
        assert len(res.context["_op_persists"]) == 1
    finally:
        res.release_caches()


def test_sql_task_result_binding(spark):
    p = Pipeline("x")
    p.step("t", "sql.task", sql="SELECT 41 + 1 AS answer",
           result_bindings={"TheAnswer": "answer"})
    res = run_pipeline(spark, p)
    assert res.context["TheAnswer"] == 42


def test_pipeline_json_round_trip(spark, sf_dir):
    import json

    from ssis_to_pyspark_agent_spark.plans import run_pipeline
    from ssis_to_pyspark_agent_spark.plans.spec import Pipeline

    p = Pipeline("json_spec", variables={"MinQty": 30.0})
    p.step("li", "source.parquet", path=f"{sf_dir}/lineitem.parquet")
    p.step("flt", "filter", "li", predicate="[l_quantity] > @[User::MinQty]")
    p.step("agg", "aggregate", "flt", keys=["l_returnflag"],
           aggs={"n": ["count", "*"]})

    wire = json.dumps(p.to_dict())          # serializable end-to-end
    p2 = Pipeline.from_dict(json.loads(wire))
    a = run_pipeline(spark, p).df("agg")
    b = run_pipeline(spark, p2).df("agg")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_metrics_collects_observations(spark):
    p = (
        Pipeline("m")
        .step("src", "source.dataframe", df=spark.range(10))
        .step("rc", "row_count", "src", into="n_src")
        .step("f", "filter", "rc", predicate="[id] > 3")
        .step("rc2", "row_count", "f", into="n_kept", eager=True)
    )
    res = run_pipeline(spark, p)
    res.df("rc2").count()  # the action the observation rides
    m = res.metrics()
    assert m["n_src"] == 10 and m["n_kept"] == 6


def test_pipeline_to_dot(spark):
    p = (
        Pipeline("dotty")
        .step("src", "source.parquet", path="/x.parquet")
        .step("split", "conditional_split", "src", outputs={"a": "1 == 1"})
        .step("out", "sink.parquet", "split.a", path="/y")
    )
    dot = p.to_dot()
    assert 'digraph "dotty"' in dot
    assert '"src" -> "split"' in dot
    assert '"split" -> "out" [label="a"]' in dot
    assert "cylinder" in dot  # sources/sinks visually distinct


def test_runner_explain(spark, sf_dir):
    from ssis_to_pyspark_agent_spark.plans import Runner

    p = (
        Pipeline("x")
        .step("li", "source.parquet", path=f"{sf_dir}/lineitem.parquet")
        .step("f", "filter", "li", predicate="[l_quantity] > 40.0")
        .step("prj", "select", "f", columns=["l_orderkey", "l_quantity"])
    )
    plan = Runner(spark).explain(p, "prj")
    assert "PushedFilters" in plan and "l_quantity" in plan
