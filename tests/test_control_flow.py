"""Control-flow tests: precedence constraints, guards, failure routing,
foreach containers (SURVEY §2.11)."""

from __future__ import annotations

import pytest

from ssis_to_pyspark_agent_spark.plans import Pipeline
from ssis_to_pyspark_agent_spark.plans.control import (
    ControlFlowError,
    Foreach,
    TaskGraph,
    run_task_graph,
)


def _df_pipeline(spark, name, n, into=None):
    p = Pipeline(name)
    p.step("src", "source.dataframe", df=spark.range(n))
    if into:
        p.step("rc", "row_count", "src", into=into, eager=True)
    return p


def test_success_chain_and_variable_flow(spark):
    g = TaskGraph("pkg")
    g.task("load", "pipeline", _df_pipeline(spark, "load", 5, into="RowCnt"))
    g.task("after", "sql", "SELECT 1 AS one")
    g.edge("load", "after", on="success")
    results, ctx = run_task_graph(spark, g)
    assert results["after"].status == "success"
    assert ctx["RowCnt"] == 5


def test_expression_guard_blocks_and_allows(spark):
    # the Medium-fixture pattern: run downstream only if SourceRowCount > 0
    for n, expected in [(0, "skipped"), (3, "success")]:
        g = TaskGraph("pkg")
        g.task("load", "pipeline", _df_pipeline(spark, "load", n, into="SourceRowCount"))
        g.task("process", "sql", "SELECT 1 AS one")
        g.edge("load", "process", on="success",
               condition="@[User::SourceRowCount] > 0")
        results, _ = run_task_graph(spark, g)
        assert results["process"].status == expected, n


def test_failure_edge_routes(spark):
    def boom(spark_, ctx):
        raise RuntimeError("boom")

    hit = {}

    def handler(spark_, ctx):
        hit["handled"] = True

    g = TaskGraph("pkg")
    g.task("bad", "python", boom)
    g.task("onfail", "python", handler)
    g.task("onsuccess", "sql", "SELECT 1")
    g.edge("bad", "onfail", on="failure")
    g.edge("bad", "onsuccess", on="success")
    results, _ = run_task_graph(spark, g)
    assert results["bad"].status == "failure"
    assert results["onfail"].status == "success" and hit["handled"]
    assert results["onsuccess"].status == "skipped"


def test_unhandled_failure_aborts(spark):
    def boom(spark_, ctx):
        raise RuntimeError("boom")

    g = TaskGraph("pkg").task("bad", "python", boom)
    with pytest.raises(ControlFlowError, match="no failure-handling edge"):
        run_task_graph(spark, g)


def test_completion_edge_fires_after_failure(spark):
    def boom(spark_, ctx):
        raise RuntimeError("boom")

    g = TaskGraph("pkg")
    g.task("bad", "python", boom)
    g.task("cleanup", "sql", "SELECT 1")
    g.edge("bad", "cleanup", on="completion")
    results, _ = run_task_graph(spark, g)
    assert results["cleanup"].status == "success"


def test_and_vs_or_logic(spark):
    def boom(spark_, ctx):
        raise RuntimeError("x")

    for logic, expected in [("and", "skipped"), ("or", "success")]:
        g = TaskGraph("pkg")
        g.task("a", "sql", "SELECT 1")
        g.task("b", "python", boom)
        g.task("fail_sink", "sql", "SELECT 1")
        g.task("join", "sql", "SELECT 1", logic=logic)
        g.edge("b", "fail_sink", on="failure")  # absorb the failure
        g.edge("a", "join", on="success")
        g.edge("b", "join", on="success")
        results, _ = run_task_graph(spark, g)
        assert results["join"].status == expected, logic


def test_foreach_pipeline_accumulates(spark):
    body = Pipeline("body")
    body.step("src", "source.dataframe", df=spark.range(10))
    # filter uses the loop variable bound into context
    body.step("f", "filter", "src", predicate="[id] < @[User::cut]")
    body.step("rc", "row_count", "f", into="last_count", eager=True)

    g = TaskGraph("pkg")
    g.task("loop", "foreach", Foreach(var="cut", items=[1, 5, 9], body=body))
    _, ctx = run_task_graph(spark, g)
    assert ctx["last_count"] == 9  # last iteration cut=9


def test_foreach_releases_fanout_caches(spark):
    # the body's filter feeds two row counts, so the runner persists it
    # each iteration; the run's cache ledger must free it when the body
    # ends — the session holds no more cached RDDs after the loop
    jsc = spark.sparkContext._jsc
    body = Pipeline("fan")
    body.step("src", "source.dataframe",
              df=spark.range(100).selectExpr("id", "'fanout' AS tag"))
    body.step("f", "filter", "src", predicate="[id] < @[User::cut]")
    body.step("all", "row_count", "f", into="n_all", eager=True)
    body.step("ev", "filter", "f", predicate="[id] % 2 == 0")
    body.step("rc", "row_count", "ev", into="n_even", eager=True)
    g = TaskGraph("pkg")
    g.task("loop", "foreach", Foreach(var="cut", items=[10, 20, 30], body=body))
    before = jsc.getPersistentRDDs().size()
    _, ctx = run_task_graph(spark, g)
    assert (ctx["n_all"], ctx["n_even"]) == (30, 15)
    assert jsc.getPersistentRDDs().size() == before


def test_disabled_task_skipped_entirely(spark):
    g = TaskGraph("pkg")
    g.task("a", "sql", "SELECT 1")
    g.task("dead", "sql", "SELECT 1", enabled=False)
    results, _ = run_task_graph(spark, g)
    assert "dead" not in results


def test_expression_task_sets_variable(spark):
    g = TaskGraph("pkg", variables={"Base": 10})
    g.task("calc", "expression", ("Doubled", "@[User::Base] * 2 + 1"))
    g.task("use", "sql", "SELECT 1")
    g.edge("calc", "use", condition="@[User::Doubled] == 21")
    results, ctx = run_task_graph(spark, g)
    assert ctx["Doubled"] == 21
    assert results["use"].status == "success"


def test_for_loop_runs_until_eval_false(spark):
    from ssis_to_pyspark_agent_spark.plans.control import ForLoop

    body = Pipeline("body")
    body.step("src", "source.dataframe", df=spark.range(10))
    body.step("f", "filter", "src", predicate="[id] < @[User::i]")
    body.step("rc", "row_count", "f", into="last_count", eager=True)

    g = TaskGraph("pkg")
    g.task("loop", "forloop", ForLoop(
        init=("i", "1"), eval_expr="@[User::i] <= 3",
        assign=("i", "@[User::i] + 1"), body=body,
    ))
    _, ctx = run_task_graph(spark, g)
    assert ctx["i"] == 4          # incremented past the bound
    assert ctx["last_count"] == 3  # final iteration filtered id < 3


def test_for_loop_max_iterations_guard(spark):
    from ssis_to_pyspark_agent_spark.plans.control import ForLoop

    body = Pipeline("body")
    body.step("src", "source.dataframe", df=spark.range(1))

    g = TaskGraph("pkg")
    g.task("loop", "forloop", ForLoop(
        eval_expr="TRUE", body=body, max_iterations=3,
    ))
    with pytest.raises(ControlFlowError) as ei:
        run_task_graph(spark, g)
    assert "max_iterations" in str(ei.value.__cause__)


def test_container_fails_when_inner_failure_was_handled(spark):
    # SSIS MaximumErrorCount=1: a Sequence container whose inner task
    # failed FAILS ITSELF even when an inner on='failure' cleanup edge
    # handled the error — outer on='success' edges must not fire
    def boom(spark_, ctx):
        raise RuntimeError("boom")

    def cleanup(spark_, ctx):
        ctx["cleaned"] = True

    inner = TaskGraph("seq")
    inner.task("bad", "python", boom)
    inner.task("onfail", "python", cleanup)
    inner.edge("bad", "onfail", on="failure")

    g = TaskGraph("pkg")
    g.task("seq", "graph", inner)
    g.task("next", "sql", "SELECT 1")
    g.task("recover", "sql", "SELECT 2")
    g.edge("seq", "next", on="success")
    g.edge("seq", "recover", on="failure")
    results, ctx = run_task_graph(spark, g)
    assert ctx["cleaned"] is True          # inner cleanup ran
    assert results["seq"].status == "failure"
    assert results["next"].status == "skipped"
    assert results["recover"].status == "success"


def test_foreach_container_propagates_handled_inner_failure(spark):
    def boom(spark_, ctx):
        raise RuntimeError("boom")

    inner = TaskGraph("seq")
    inner.task("bad", "python", boom)
    inner.task("onfail", "sql", "SELECT 1")
    inner.edge("bad", "onfail", on="failure")

    g = TaskGraph("pkg")
    g.task("fe", "foreach", Foreach(var="x", items=[1, 2], body=inner))
    g.task("recover", "sql", "SELECT 2")
    g.edge("fe", "recover", on="failure")
    results, _ = run_task_graph(spark, g)
    assert results["fe"].status == "failure"
    assert results["recover"].status == "success"


def test_graph_releases_operator_caches(spark):
    # a parsed/declared pipeline task with a conditional split persists
    # its routed frame; the graph runner must release it when the run
    # ends — the control runner strips underscore keys from merged
    # contexts, so without this the cache leaked unless the CALLER dug
    # out the inner RunResult (review finding)
    p = Pipeline("split_pipe")
    p.step("src", "source.dataframe", df=spark.range(10))
    p.step("cs", "conditional_split", "src",
           outputs={"low": "[id] < 5", "high": "[id] >= 5"},
           persist=True)
    p.step("rc", "row_count", "cs.low", into="LowCnt", eager=True)
    g = TaskGraph("pkg")
    g.task("flow", "pipeline", p)
    results, ctx = run_task_graph(spark, g)
    assert results["flow"].status == "success"
    assert ctx["LowCnt"] == 5
    run = results["flow"].run
    assert run.context.get("_op_persists", []) == []
    # frames stay consumable after the release (recompute, not error)
    assert run.df("cs.low").count() == 5
