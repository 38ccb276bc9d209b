"""Engine benchmark: seeded pipeline workloads, timed to a full-row digest.

Usage (from the checkout root):

    python3 perfbench/run.py --workload etl_dataflow --seed 1 --seconds 20 --trace 0

One run, one process, one Spark session on ``local[<cores>]``:

1. set-up: process start -> imports, inputs and run directory ready ->
   session ready -> every input table registered, all cold;
2. the first pass over the workload's pipelines (cold codegen and JIT);
3. steady passes until the next one would overrun ``--seconds``, and at
   least one. After them, untimed, repeated full collections read the live
   heap.

Every pipeline ends in the same digest action (row count plus the sum of
``xxhash64`` over all columns), and the digest is compared with the one
recorded in ``expected.json``. A pipeline that raises or whose digest
differs is counted as failed and named; it is never left out of the timing
totals. ``--trace 1`` instead alternates untraced and traced passes and
reports per-layer self times and counts, one metric for each ``per_layer``
entry of ``BENCHMARK.json``.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is the
full report (every sample with its host evidence), also written to
``.perfbench/reports/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402
import layertrace  # noqa: E402
import workloads  # noqa: E402
from harness import log, now  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """State of one run: the session, inputs and every pipeline sample."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.data = harness.data_dir()
        self.rows = harness.table_rows(self.data)
        self.expected = harness.load_expected()
        self.pipes = workloads.pipelines(args.workload, args.seed)
        self.run_dir = harness.prepare_run_dir()
        self.spark = None
        self.samples: list[dict] = []
        self.tracer = None

    def start(self) -> float:
        t0 = now()
        self.spark = harness.start_session(
            harness.spark_conf(self.run_dir, event_log=bool(self.args.trace)))
        t1 = now()
        harness.register_sources(self.spark, self.data)
        self.session_start_s = t1 - t0
        return now() - t0

    # -- one pipeline ------------------------------------------------------

    def _span(self, layer: str):
        return self.tracer.open(layer) if self.tracer else None

    def _close(self, sp) -> None:
        if sp is not None:
            self.tracer.close(sp)

    def run_pipeline(self, p: workloads.PipelineDef, pass_no: int) -> dict:
        spark = self.spark
        s = {"pipeline": p.name, "pass": pass_no, "traced": bool(self.tracer),
             "source_rows": sum(self.rows[t] for t in p.sources)}
        host0 = harness.host_snapshot(spark)
        s["w0"] = time.time()
        t0 = now()
        try:
            df = p.build(spark, self.data, self.run_dir)
            t1 = now()
            ddf = harness.digest_frame(df)
            sp = self._span("spark.plan")
            ddf._jdf.queryExecution().executedPlan()
            self._close(sp)
            t2 = now()
            sp = self._span("spark.action")
            rows, digest = harness.read_digest(ddf)
            self._close(sp)
            t3 = now()
            s.update(build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2,
                     wall_s=t3 - t0, rows=rows, digest=digest)
            want = self.expected.get(p.name)
            if want is None or (want["rows"], want["digest"]) != (rows, digest):
                s["error"] = f"digest mismatch: got {(rows, digest)}, want {want}"
        except Exception as exc:  # noqa: BLE001 - a failure is a result
            if self.tracer:
                self.tracer.close_all()
            s["wall_s"] = now() - t0
            s["error"] = f"{type(exc).__name__}: {exc}"[:500]
        s["w1"] = time.time()
        s["host"] = harness.host_delta(host0, harness.host_snapshot(spark))
        s["persists_left"] = harness.release(spark)
        s["ok"] = "error" not in s
        if not s["ok"]:
            log(f"FAILED {p.name} (pass {pass_no}): {s['error']}")
        self.samples.append(s)
        return s

    def run_pass(self, pass_no: int) -> float:
        """Run every pipeline once."""
        if self.tracer:
            self.tracer.tag = pass_no
        total = 0.0
        for p in self.pipes:
            total += self.run_pipeline(p, pass_no)["wall_s"]
        return total

    # -- reporting ---------------------------------------------------------

    def failures(self) -> tuple[int, int, list[dict]]:
        bad = [{"pipeline": s["pipeline"], "pass": s["pass"], "error": s["error"]}
               for s in self.samples if not s["ok"]]
        return len(self.samples), len(bad), bad

    def header(self) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "cores": harness.cores(), "driver_heap": harness.driver_heap(),
            "data": {"sf": harness.DATA_SF, "seed": harness.DATA_SEED,
                     "rows": self.rows},
            "pipelines": [p.name for p in self.pipes],
            "source_rows_per_pass": sum(
                self.rows[t] for p in self.pipes for t in p.sources),
            "excluded": {
                "q48_variables_binding":
                    "its dtsx leg parses a reference fixture package that is "
                    "not part of this repository; the generated package "
                    "covers parsing and control flow instead",
            },
        }


def steady_passes(b: Bench, seconds: float, on_pass=None,
                  min_passes: int = 1) -> list[float]:
    """Run passes until the next one would overrun ``seconds``, and at
    least ``min_passes``. ``on_pass(i)`` runs before the i-th of them
    (toggles tracing)."""
    walls: list[float] = []
    t0 = now()
    while True:
        if on_pass:
            on_pass(len(walls))
        walls.append(b.run_pass(len(walls) + 1))
        elapsed = now() - t0
        if len(walls) >= min_passes and elapsed + statistics.median(walls) > seconds:
            return walls


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (inclusive method)."""
    ys = sorted(xs)
    if len(ys) == 1:
        return ys[0]
    pos = q * (len(ys) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ys) - 1)
    return ys[lo] + (ys[hi] - ys[lo]) * (pos - lo)


def end_to_end(b: Bench) -> tuple[dict, dict]:
    """Gated metrics are CPU seconds of the whole process tree, except
    set-up and the live heap: on a shared host, CPU steal moves wall times
    by 20-40% from run to run, CPU time by about half of that. The
    wall-clock metrics are reported next to them."""
    # one cold set-up per run: a second one would need another JVM launch
    # (about 11 s on 4 cores), which the benchmark's time budget cannot hold
    b.start()
    setup_s = now() - T_PROCESS
    b.run_pass(0)
    first = [s for s in b.samples if s["pass"] == 0]
    steady_passes(b, b.args.seconds)
    # read once every pipeline has run at least twice: settled, what is
    # left is the session's own state, whichever pipeline the seed ran last
    live_mb = harness.live_heap_mb(b.spark)
    rss = harness.peak_rss_mb()
    harness.stop_jvm(b.spark)

    steady = [s for s in b.samples if s["pass"] > 0]
    rows = sum(s["source_rows"] for s in steady)
    walls = [s["wall_s"] for s in steady]
    cpus = [s["host"]["cpu_s"] for s in steady]
    attempted, failed, _ = b.failures()
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_cpu_s": (sum(s["host"]["cpu_s"] for s in first), "s"),
        "rows_per_cpu_s": (rows / sum(cpus), "rows/s"),
        "pipeline_cpu_s_p90": (quantile(cpus, 0.9), "s"),
        "heap_live_mb": (live_mb, "MB"),
    }
    # reported, not gated: wall clock, resident memory, and the per-pipeline
    # CPU median, whose spread over ten runs on a 4-core shared VM (0.22)
    # is too close to the largest bound the benchmark may set (0.25)
    reported = {
        "pipeline_cpu_s_p50": (statistics.median(cpus), "s"),
        "first_pass_s": (sum(s["wall_s"] for s in first), "s"),
        "rows_per_s": (rows / sum(walls), "rows/s"),
        "pipeline_s_p50": (statistics.median(walls), "s"),
        "pipeline_s_p90": (quantile(walls, 0.9), "s"),
        "peak_rss_mb": (rss, "MB"),
        "failed_share": (failed / attempted, "ratio"),
    }
    extra = {
        "reported_metrics": {k: {"value": v, "unit": u}
                             for k, (v, u) in reported.items()},
        "steady_passes": max(s["pass"] for s in steady),
        "steady_samples": len(walls),
        "samples_beyond_p90": sum(w > quantile(walls, 0.9) for w in walls),
    }
    return metrics, extra


def traced(b: Bench) -> tuple[dict, dict]:
    b.start()
    b.run_pass(0)
    tracer = layertrace.Tracer()

    def toggle(i: int) -> None:
        # untraced warm-up, traced, untraced, traced, ...: the JIT is still
        # warming in the first pass after the cold one, so that pass is left
        # out of the overhead; the traced passes on both sides of an
        # untraced one cancel the remaining warm-up trend
        if i % 2 == 1:
            b.tracer = tracer
            tracer.install()
        elif b.tracer is not None:
            tracer.uninstall()
            b.tracer = None

    steady_passes(b, b.args.seconds, toggle, min_passes=4)
    if b.tracer is not None:
        tracer.uninstall()
        b.tracer = None
    harness.stop_jvm(b.spark)  # also flushes the event log

    log_data = layertrace.read_event_log(os.path.join(b.run_dir, "eventlog"))
    layertrace.attribute(tracer.spans, log_data)
    return per_layer(b, tracer, log_data)


def per_layer(b: Bench, tracer: layertrace.Tracer,
              log_data: dict) -> tuple[dict, dict]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        specs = json.load(f)["per_layer"]
    with open(os.path.join(harness.HERE, "layers.json")) as f:
        moves = json.load(f)["moves"]
    passes = sorted({s["pass"] for s in b.samples if s["traced"]})
    untraced = sorted({s["pass"] for s in b.samples
                       if not s["traced"] and s["pass"] > 1})
    wall = {p: sum(s["wall_s"] for s in b.samples if s["pass"] == p)
            for p in passes + untraced}
    stage_job = log_data["stage_job"]
    per_pass: list[dict[str, float]] = []
    reports = []
    for p in passes:
        samples = [s for s in b.samples if s["pass"] == p]
        windows = [(s["w0"], s["w1"]) for s in samples]
        jobs = {jid for jid, j in log_data["jobs"].items()
                if any(w0 <= j["submit"] <= w1 for w0, w1 in windows)}
        tasks = [t for t in log_data["tasks"] if stage_job.get(t["stage"]) in jobs]
        tot = layertrace.layer_totals(tracer.spans, p)
        covered = sum(sp["t1"] - sp["t0"] for sp in tracer.spans
                      if sp["tag"] == p and sp["parent"] is None)
        jobs_action = tot.get("spark.action", {}).get("jobs", 0)
        m = {
            "session.start_s": b.session_start_s,
            "runner.persists_left": sum(s["persists_left"] for s in samples),
            "spark.jobs_build": len(jobs) - jobs_action,
            "spark.jobs_action": jobs_action,
            "spark.eager_job_share": (len(jobs) - jobs_action) / max(1, len(jobs)),
            "spark.tasks": len(tasks),
            "spark.tasks_failed": sum(t["failed"] for t in tasks),
            "sinks.bytes_written": sum(t["bytes_written"] for t in tasks),
            "spark.gc_s": sum(s["host"]["gc_s"] for s in samples),
            "trace.coverage": covered / wall[p],
        }
        m.update(layertrace.layer_metrics(tot))
        per_pass.append(m)
        op_self = sum(t["self_s"] for k, t in tot.items() if k.startswith("op."))
        reports.append({"pass": p, "wall_s": wall[p], "coverage": m["trace.coverage"],
                        "jobs": len(jobs),
                        "eager_job_share": m["spark.eager_job_share"],
                        "op_self_share": op_self / wall[p],
                        "layers": {k: dict(v) for k, v in sorted(tot.items())}})

    overhead = (statistics.median(wall[p] for p in passes)
                - statistics.median(wall[p] for p in untraced)) if untraced else 0.0
    metrics = {}
    for spec in specs:
        name = spec["name"]
        value = overhead if name == "trace.overhead_s" else \
            statistics.median(m.get(name, 0.0) for m in per_pass)
        metrics[name] = (value, spec["unit"])
    extra = {"traced_passes": reports, "untraced_pass_walls": [wall[p] for p in untraced],
             "traced_pass_walls": [wall[p] for p in passes], "overhead_s": overhead}
    print_layer_report(b, reports, overhead, moves)
    return metrics, extra


def print_layer_report(b: Bench, reports: list[dict], overhead: float,
                       moves: dict[str, str]) -> None:
    r = reports[-1]
    print(f"# traced pass of {b.args.workload}: wall {r['wall_s']:.3f} s, "
          f"layer spans cover {100 * r['coverage']:.1f}%, "
          f"tracing overhead {overhead:+.3f} s per pass")
    print(f"# {r['jobs']} jobs, {100 * r['eager_job_share']:.1f}% of them fired "
          f"while pipelines were built; operator self time is "
          f"{100 * r['op_self_share']:.1f}% of pass wall time")
    print(f"# {'layer':<22}{'self_s':>9}{'incl_s':>9}{'calls':>7}{'jobs':>6}"
          f"{'stages':>7}{'tasks':>7}")
    for name, t in sorted(r["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"# {name:<22}{t['self_s']:>9.3f}{t['incl_s']:>9.3f}"
              f"{int(t.get('calls', 0)):>7}{int(t.get('jobs', 0)):>6}"
              f"{int(t.get('stages', 0)):>7}{int(t.get('spark_tasks', 0)):>7}")
    print("# which layer metric should move which end-to-end metric: "
          + "; ".join(f"{k} -> {v}" for k, v in moves.items()))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    pkg = os.path.join(harness.ROOT, "ssis_to_pyspark_agent_spark", "__init__.py")
    if importlib.util.find_spec("pyspark") is None or not os.path.exists(pkg):
        log("the benchmark runs the engine from its checkout: pyspark and "
            f"{pkg} are both required")
        return 2
    import ssis_to_pyspark_agent_spark.queries  # noqa: F401 - part of set-up
    import ssis_to_pyspark_agent_spark.session  # noqa: F401

    b = Bench(args)
    metrics, extra = traced(b) if args.trace else end_to_end(b)
    attempted, failed, bad = b.failures()
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    report = {**b.header(), **extra, "failed_pipelines": bad, "metrics": out,
              "samples": [{k: v for k, v in s.items() if k not in ("w0", "w1")}
                          for s in b.samples]}
    out_dir = os.path.join(harness.STATE_DIR, "reports")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if not args.trace:
        shown = {**out, **extra["reported_metrics"]}
        for k, m in shown.items():
            print(f"# {k:<20}{m['value']:>14.4f} {m['unit']}")
        print(f"# {failed} of {attempted} pipeline runs failed")
    for f_ in bad:
        print(f"# FAILED {f_['pipeline']} pass {f_['pass']}: {f_['error']}")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
