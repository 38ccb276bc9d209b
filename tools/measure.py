"""One measurement tool for the engine, on the benchmark's harness
(``perfbench/harness.py``): timed catalog-query subsets, physical plans,
per-action job traces, data-growth sweeps and parent/change A/Bs of the
benchmark.

Run from the checkout root:

    python tools/measure.py subset SF_DIR [QUERY...] [--runs N]
    python tools/measure.py plans TAG SUFFIX [QUERY...] [--sf-dir DIR]
    python tools/measure.py trace QUERY [SF_DIR]
    python tools/measure.py growth --k K SF_DIR [QUERY...] [--runs N]
    python tools/measure.py ab PARENT_DIR CHANGE_DIR --workload W --pairs N
                               [--seed S]

- ``subset`` starts one session and warms each query once, then times N
  runs per query. Each run follows a JVM gc, runs in its own job group and
  ends in ``harness.release``; it records wall time, the group's jobs and
  tasks, the host evidence of ``harness.host_delta`` and the persists the
  query left. With no query names it sweeps the whole catalog. A query that
  raises has its error recorded and the sweep goes on. One JSON line.
- ``plans`` writes ``.explain('formatted')`` of each query (default: the
  ``bench.HEADLINE`` set) to ``plans/TAG/<query>_SUFFIX.txt``.
- ``trace`` attributes every job of one warm run of a query to the Python
  line whose DataFrame action fired it.
- ``growth`` builds the K-times rig of SF_DIR with ``tools/make_sf.py``
  (once, under the temp directory), runs ``subset`` on both directories
  and prints each query's time ratio, flagging ratios above 2. Default
  queries: ``bench.HEADLINE``.
- ``ab`` runs the command of ``BENCHMARK.json`` in both checkouts, one
  seed per pair, alternating which side goes first. Per end-to-end metric
  it prints each side's median [q1, q3], the change's shift and the pairs
  the change won. Raw runs go to ``.perfbench/ab/<workload>.json``.

Settings come from the arguments only. ``plans`` and ``trace`` read the
benchmark's generated input tables unless given a directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import harness  # noqa: E402
from harness import log  # noqa: E402

#: a query whose time grows by more than this at K-times data is flagged
GROWTH_ALERT = 2.0
#: DataFrame methods that fire Spark jobs (directly or through the JVM)
DF_ACTIONS = ("count", "collect", "first", "head", "take", "toPandas",
              "localCheckpoint", "checkpoint", "foreach", "foreachPartition")
WRITER_ACTIONS = ("save", "parquet", "saveAsTable", "csv", "json")


# ---------------------------------------------------------------------------
# one session, warm and timed runs
# ---------------------------------------------------------------------------


def start_session():
    from ssis_to_pyspark_agent_spark.session import get_spark

    return get_spark(app_name="measure", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": harness.driver_heap(),
    })


def catalog(names: list[str]) -> dict:
    """The catalog; unknown names fail before any session starts."""
    from ssis_to_pyspark_agent_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}; known: {sorted(QUERIES)}")
    return QUERIES


def warm(spark, fn, sf_dir: str) -> None:
    fn(spark, sf_dir).count()
    harness.release(spark)


def group_jobs(sc, group: str) -> tuple[int, int]:
    """Jobs of a job group and the tasks of their stages (skipped,
    reused stages included)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = tracker.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def timed_run(spark, fn, sf_dir: str, group: str) -> dict:
    sc = spark.sparkContext
    sc._jvm.System.gc()
    sc.setJobGroup(group, group)
    before = harness.host_snapshot(spark)
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        host = harness.host_delta(before, harness.host_snapshot(spark))
    finally:
        sc.setJobGroup("", "")
    jobs, tasks = group_jobs(sc, group)
    return {"wall_s": round(wall, 3), "jobs": jobs, "tasks": tasks, **host,
            "persists_left": harness.release(spark)}


def subset(spark, sf_dir: str, names: list[str], runs: int) -> dict:
    qs = catalog(names)
    out: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names or list(qs):
        try:
            warm(spark, qs[name], sf_dir)
            samples = [timed_run(spark, qs[name], sf_dir, f"{name}#{i}")
                       for i in range(runs)]
        except Exception as exc:  # noqa: BLE001 - one query must not end a sweep
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            log(f"# ERR {name}: {errors[name]}")
            harness.release(spark)
            continue
        best = min(s["wall_s"] for s in samples)
        out[name] = {"min_s": best, "runs": samples}
        log(f"# {name}: min {best:.3f}s, jobs {samples[0]['jobs']}, "
            f"tasks {samples[0]['tasks']}, "
            f"cpu {[s['cpu_s'] for s in samples]}s")
    return {"sf_dir": sf_dir, "runs": runs, "queries": out, "errors": errors,
            "total_min_s": round(sum(q["min_s"] for q in out.values()), 3)}


# ---------------------------------------------------------------------------
# plans and traces
# ---------------------------------------------------------------------------


def plans(spark, tag: str, suffix: str, names: list[str], sf_dir: str) -> None:
    qs = catalog(names)
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        log(f"# wrote {path} ({len(plan)} bytes)")
        harness.release(spark)


def _caller() -> str:
    """The nearest frame outside pyspark and this tool: the engine or
    query line that fired the action."""
    for f in reversed(traceback.extract_stack()):
        if "/pyspark/" in f.filename or \
                os.path.abspath(f.filename) == os.path.abspath(__file__):
            continue
        path = os.path.relpath(f.filename, REPO) \
            if f.filename.startswith(REPO) else f.filename
        return f"{path}:{f.lineno}"
    return "tools/measure.py (the measured action)"


def trace(spark, name: str, sf_dir: str) -> dict:
    """Run each DataFrame action in its own job group, so the status
    tracker attributes every job it fires (AQE stage sub-jobs included)
    to the line that called it. Jobs outside every action (schema
    inference, direct JVM calls) are counted as unattributed."""
    # Spark 4 sessions hand out the classic DataFrame subclass, whose
    # methods shadow pyspark.sql.DataFrame's
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    fn = catalog([name])[name]
    sc = spark.sparkContext
    events: list[dict] = []
    # an action inside an action (first -> head -> take) keeps the outer group
    depth = [0]

    def wrap(cls, meth):
        orig = getattr(cls, meth)

        def run(self, *a, **kw):
            if depth[0]:
                return orig(self, *a, **kw)
            gid = f"act{len(events)}"
            sc.setJobGroup(gid, f"{meth} @ {_caller()}")
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return orig(self, *a, **kw)
            finally:
                dt = time.perf_counter() - t0
                depth[0] -= 1
                sc.setJobGroup("umbrella", "outside wrapped actions")
                jobs, tasks = group_jobs(sc, gid)
                events.append({"idx": len(events), "action": meth,
                               "caller": _caller(), "sec": round(dt, 3),
                               "jobs": jobs, "tasks": tasks})
        run.__name__ = meth
        setattr(cls, meth, run)
        return orig

    originals = [(cls, m, wrap(cls, m)) for cls, ms in
                 ((DataFrame, DF_ACTIONS), (DataFrameWriter, WRITER_ACTIONS))
                 for m in ms]
    try:
        warm(spark, fn, sf_dir)
        events.clear()
        sc.setJobGroup("umbrella", "outside wrapped actions")
        tracker = sc.statusTracker()
        warm_stray = set(tracker.getJobIdsForGroup("umbrella"))
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        stray = len(set(tracker.getJobIdsForGroup("umbrella")) - warm_stray)
        harness.release(spark)
    finally:
        for cls, m, orig in originals:
            setattr(cls, m, orig)
        sc.setJobGroup("", "")
    log(f"# {name}: wall {wall:.2f}s, {len(events)} actions, "
        f"{sum(e['jobs'] for e in events)} jobs (+{stray} unattributed), "
        f"{sum(e['tasks'] for e in events)} tasks")
    for e in events:
        log(f"#   [{e['idx']:>3}] {e['sec']:>7.3f}s jobs={e['jobs']:>2} "
            f"tasks={e['tasks']:>5} {e['action']:<16} {e['caller']}")
    return {"query": name, "sf_dir": sf_dir, "wall_s": round(wall, 3),
            "stray_jobs": stray, "events": events}


# ---------------------------------------------------------------------------
# growth
# ---------------------------------------------------------------------------


def growth_rig(sf_dir: str, k: int) -> str:
    """The K-times rig of ``sf_dir``, built by tools/make_sf.py unless
    every table of it is already written."""
    rig = os.path.join(tempfile.gettempdir(), "spark_graft_rigs",
                       f"{os.path.basename(sf_dir.rstrip('/'))}_x{k}")
    if not all(os.path.exists(f"{rig}/{t}.parquet/_SUCCESS")
               for t in harness.TABLES):
        log(f"# building the {k}x rig {rig}")
        subprocess.run([sys.executable, os.path.join(REPO, "tools", "make_sf.py"),
                        sf_dir, rig, str(k)], cwd=REPO, check=True,
                       stdout=sys.stderr)
    return rig


def growth_ratios(base: dict, grown: dict) -> dict:
    out = {}
    for q, b in base["queries"].items():
        g = grown["queries"].get(q)
        if g is None:
            continue
        r = round(g["min_s"] / b["min_s"], 3) if b["min_s"] else None
        out[q] = {"base_s": b["min_s"], "grown_s": g["min_s"], "ratio": r,
                  "alert": r is not None and r > GROWTH_ALERT}
        log(f"# {q}: {b['min_s']:.2f}s -> {g['min_s']:.2f}s ratio {r}"
            f"{'  ALERT' if out[q]['alert'] else ''}")
    return out


# ---------------------------------------------------------------------------
# parent/change A/B of the benchmark
# ---------------------------------------------------------------------------


def quartiles(xs: list[float]) -> dict:
    q1, med, q3 = xs * 3 if len(xs) == 1 else \
        statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3}


def pair_summary(parent: list[float], change: list[float], better: str) -> dict:
    """One metric over paired runs: each side's median and quartiles, the
    change's median shift in percent of the parent's, and the pairs the
    change won in the ``better`` direction (ties count for neither)."""
    sign = 1 if better == "higher" else -1
    p, c = quartiles(parent), quartiles(change)
    return {
        "parent": p, "change": c,
        "delta_pct": 100 * (c["median"] - p["median"]) / p["median"]
        if p["median"] else None,
        "change_won": sum(sign * (b - a) > 0 for a, b in zip(parent, change)),
        "pairs": len(parent),
    }


def bench_run(checkout: str, command: list[str], workload: str, seed: int,
              seconds: float) -> dict:
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    try:
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        return {"correct": res["correct"], "failed": res["failed"],
                "metrics": {k: m["value"] for k, m in res["metrics"].items()}}
    except (IndexError, KeyError, ValueError):
        return {"correct": False, "failed": None, "metrics": None,
                "error": (proc.stderr or proc.stdout)[-2000:]}


def ab(parent_dir: str, change_dir: str, workload: str, pairs: int,
       first_seed: int) -> dict:
    def spec(d: str) -> dict:
        with open(os.path.join(d, "BENCHMARK.json")) as f:
            return json.load(f)

    cfg = spec(parent_dir)
    if spec(change_dir) != cfg:
        raise SystemExit("BENCHMARK.json differs between the checkouts")
    dirs = {"parent": parent_dir, "change": change_dir}
    runs = []
    for i in range(pairs):
        seed = first_seed + i
        for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
            r = bench_run(dirs[side], cfg["command"], workload, seed,
                          cfg["run_seconds"])
            runs.append({"pair": i, "seed": seed, "side": side, **r})
            log(f"# pair {i} seed {seed} {side}: correct={r['correct']} "
                f"failed={r['failed']}")
    by_pair = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r["metrics"]
    full = [p for p in by_pair.values() if p["parent"] and p["change"]]
    summary = {m["name"]: pair_summary([p["parent"][m["name"]] for p in full],
                                       [p["change"][m["name"]] for p in full],
                                       m["better"])
               for m in cfg["end_to_end"]} if full else {}
    return {"workload": workload, "parent": parent_dir, "change": change_dir,
            "run_seconds": cfg["run_seconds"], "summary": summary, "runs": runs}


def print_ab(res: dict) -> None:
    print(f"# {res['workload']}: median [q1, q3], parent -> change")
    for name, s in res["summary"].items():
        p, c = s["parent"], s["change"]
        d = "n/a" if s["delta_pct"] is None else f"{s['delta_pct']:+.1f}%"
        print(f"# {name:<20} {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
              f" -> {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]"
              f"  {d}  change won {s['change_won']}/{s['pairs']}")
    for r in res["runs"]:
        print(f"# pair {r['pair']} seed {r['seed']} {r['side']}: "
              f"correct={r['correct']} failed={r['failed']}")


# ---------------------------------------------------------------------------
# command line
# ---------------------------------------------------------------------------


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("subset", help="time catalog queries in one session")
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="*")
    p.add_argument("--runs", type=int, default=3)
    p = sub.add_parser("plans", help="write formatted physical plans")
    p.add_argument("tag")
    p.add_argument("suffix")
    p.add_argument("queries", nargs="*")
    p.add_argument("--sf-dir")
    p = sub.add_parser("trace", help="attribute a query's jobs to its actions")
    p.add_argument("query")
    p.add_argument("sf_dir", nargs="?")
    p = sub.add_parser("growth", help="time ratios at K-times the data")
    p.add_argument("--k", type=int, required=True)
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="*")
    p.add_argument("--runs", type=int, default=3)
    p = sub.add_parser("ab", help="alternating parent/change benchmark pairs")
    p.add_argument("parent_dir")
    p.add_argument("change_dir")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.cmd == "ab":
        res = ab(args.parent_dir, args.change_dir, args.workload, args.pairs,
                 args.seed)
        out = os.path.join(harness.STATE_DIR, "ab", f"{args.workload}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(res, f, indent=1)
        print_ab(res)
        print(json.dumps({"raw_runs": out, "summary": res["summary"]}))
        return 0
    names = [args.query] if args.cmd == "trace" else args.queries
    if args.cmd in ("plans", "growth") and not names:
        import bench

        names = list(bench.HEADLINE)
    catalog(names)  # a typo must not cost a session start and warm-ups
    if args.cmd == "growth":
        rig = growth_rig(args.sf_dir, args.k)
    spark = start_session()
    if args.cmd == "subset":
        res = subset(spark, args.sf_dir, names, args.runs)
    elif args.cmd == "plans":
        plans(spark, args.tag, args.suffix, names,
              args.sf_dir or harness.data_dir())
        return 0
    elif args.cmd == "trace":
        res = trace(spark, args.query, args.sf_dir or harness.data_dir())
    else:
        base = subset(spark, args.sf_dir, names, args.runs)
        grown = subset(spark, rig, names, args.runs)
        ratios = growth_ratios(base, grown)
        res = {"k": args.k, "base_dir": args.sf_dir, "rig": rig,
               "runs": args.runs, "ratios": ratios,
               "alerts": [q for q, r in ratios.items() if r["alert"]],
               "errors": {"base": base["errors"], "rig": grown["errors"]}}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
