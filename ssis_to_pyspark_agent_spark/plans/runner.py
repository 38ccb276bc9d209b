"""Pipeline runner: Kahn topological execution of the step DAG.

The reference schedules with two Kahn topo-sorts (control-flow tasks,
``/root/reference/mapping/enhanced_json_mapper.py:904-932``; per-dataflow
components ``:1029-1312`` with sources forced first). Ours is one generic
topo-sort over step input edges, with:

- a **context** of scalar variables (SSIS package variables) that operators
  may read (expression compiler binds them as literals) and write (Row Count
  -> ``context[var] = n``);
- **multi-output ports**: an operator returns ``{port: DataFrame}``; an edge
  ``"step.port"`` selects a port, bare ``"step"`` selects the operator's
  default port (``"out"`` or its only port);
- **fan-out persistence** (Multicast semantics): when a step's output feeds
  >1 downstream *actions*, the reference emits ``df.cache()``
  (``enhanced_json_mapper.py:270-277``). We persist each distinct frame of a
  step with more than one consumer once, into the run's one cache ledger
  (context ``'_op_persists'``), which ``RunResult.release_caches()`` frees —
  at 100 TB an unneeded cache is a regression, not an optimization.

Everything between sources and sinks stays a lazy Catalyst plan; the runner
never calls an action unless an operator explicitly asks (row_count uses
``observe`` so it rides the sink's action instead of adding one).
"""

from __future__ import annotations

from collections import defaultdict, deque
from dataclasses import dataclass
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ssis_to_pyspark_agent_spark.operators import get_operator
from ssis_to_pyspark_agent_spark.plans.spec import Pipeline, Step


@dataclass
class RunResult:
    """Outputs of a pipeline run."""

    outputs: dict[str, dict[str, DataFrame]]  # step -> port -> df
    context: dict[str, Any]  # final variable values / metrics

    def df(self, ref: str) -> DataFrame:
        step, _, port = ref.partition(".")
        ports = self.outputs[step]
        if port:
            if port not in ports:
                raise KeyError(f"step {step!r} has no port {port!r} (has {sorted(ports)})")
            return ports[port]
        if "out" in ports:
            return ports["out"]
        if len(ports) == 1:
            return next(iter(ports.values()))
        raise KeyError(f"ambiguous ref {ref!r}: ports {sorted(ports)}")

    def release_caches(self) -> None:
        """Unpersist the run's caches (context '_op_persists'): the
        runner's fan-out persists and operator-registered ones, e.g. a
        persisted conditional-split route frame. Call once the run's
        outputs are materialized or recomputable-cheaply — the lazy port
        frames stay CORRECT afterwards (a cache is only a cache), they
        just recompute on the next action. NOTES invariant 13: nothing
        should leave an untracked corpus-sized persist behind."""
        for frame in self.context.pop("_op_persists", []):
            frame.unpersist()

    def metrics(self) -> dict[str, Any]:
        """Row Count observation values. Observe-mode counters only resolve
        after an action has run on a plan containing them — call this after
        the sink/collect, not before (eager counters are already in
        ``context``)."""
        out = {k: v for k, v in self.context.items()
               if not k.startswith("_") and isinstance(v, (int, float))}
        for name, obs in self.context.get("_observations", {}).items():
            out[name] = obs.get["n"]
        return out


@dataclass
class Runner:
    spark: SparkSession

    def run(self, pipeline: Pipeline) -> RunResult:
        pipeline.validate()
        steps = {s.name: s for s in pipeline.steps if s.enabled}
        order = self._topo_order(steps)
        context: dict[str, Any] = dict(pipeline.variables)
        res = RunResult(outputs={}, context=context)
        fanout = self._fanout_counts(steps)

        for name in order:
            step = steps[name]
            ins = [res.df(ref) for ref in step.inputs]
            op = get_operator(step.op)
            # operators that record per-step diagnostics into the shared
            # context (text.pack's planner histogram) namespace their
            # keys by this — two same-op steps must not clobber each
            # other's telemetry
            context["_current_step"] = name
            result = op(self.spark, ins, dict(step.config), context)
            if isinstance(result, DataFrame):
                result = {"out": result}
            if fanout[name] > 1:
                for df in result.values():
                    # skips a frame already cached — multicast returns
                    # one frame on every port
                    if df.storageLevel == StorageLevel.NONE:
                        context.setdefault("_op_persists", []).append(df.persist())
            res.outputs[name] = result
        return res

    def explain(self, pipeline: Pipeline, ref: str, mode: str = "formatted") -> str:
        """Run the pipeline (lazily) and return the physical plan of one
        output — the `df.explain` convenience at pipeline level, for
        checking pushdown/broadcast/shuffle shape of a whole flow."""
        res = self.run(pipeline)
        df = res.df(ref)
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )

    # -- internals -----------------------------------------------------------

    @staticmethod
    def _fanout_counts(steps: dict[str, Step]) -> dict[str, int]:
        n: dict[str, int] = defaultdict(int)
        for s in steps.values():
            for ref in set(s.inputs):
                n[ref.split(".")[0]] += 1
        return n

    @staticmethod
    def _topo_order(steps: dict[str, Step]) -> list[str]:
        indeg = {name: 0 for name in steps}
        downstream: dict[str, list[str]] = defaultdict(list)
        for s in steps.values():
            deps = {r.split(".")[0] for r in s.inputs}
            for d in deps:
                if d not in steps:
                    raise ValueError(f"step {s.name!r} depends on disabled/unknown {d!r}")
                downstream[d].append(s.name)
                indeg[s.name] += 1
        q = deque(sorted(n for n, d in indeg.items() if d == 0))
        order: list[str] = []
        while q:
            n = q.popleft()
            order.append(n)
            for m in downstream[n]:
                indeg[m] -= 1
                if indeg[m] == 0:
                    q.append(m)
        if len(order) != len(steps):
            cyc = sorted(set(steps) - set(order))
            raise ValueError(f"cycle detected among steps {cyc}")
        return order


def run_pipeline(spark: SparkSession, pipeline: Pipeline) -> RunResult:
    return Runner(spark).run(pipeline)
