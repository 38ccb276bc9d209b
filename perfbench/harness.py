"""Shared pieces of the benchmark: input data, run isolation, the Spark
session, the full-row digest action and per-sample host evidence.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
``data/`` holds the generated tables (kept between runs), ``run/`` holds the
warehouse, Python scratch, JVM temp (where streaming queries keep their
checkpoints), Spark local and event-log directories of one run and is
emptied before each run.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
# the package is imported from the checkout, never from an installed copy
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# The input tables: fixed for every --seed (the seed orders the passes and
# picks the generated package). Changing any of these invalidates
# expected.json.
DATA_SF = 0.002
DATA_SEED = 20240101
DATA_VERSION = 1
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def data_dir() -> str:
    """Generate the input tables once per checkout; return their directory."""
    from datagen import write_tables

    d = os.path.join(STATE_DIR, "data", f"v{DATA_VERSION}-sf{DATA_SF}-s{DATA_SEED}")
    marker = os.path.join(d, "rows.json")
    if not os.path.exists(marker):
        counts = write_tables(d, DATA_SF, DATA_SEED)
        with open(marker, "w") as f:
            json.dump(counts, f)
    return d


def table_rows(data: str) -> dict[str, int]:
    with open(os.path.join(data, "rows.json")) as f:
        return json.load(f)


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        exp = json.load(f)
    want = {"sf": DATA_SF, "data_seed": DATA_SEED, "data_version": DATA_VERSION}
    got = {k: exp.get(k) for k in want}
    if got != want:
        raise RuntimeError(f"expected.json was recorded for {got}, not {want}")
    return exp["pipelines"]


def prepare_run_dir() -> str:
    """Empty and recreate the run directory, point every scratch location
    of Python, the JVM and Spark into it, and make it the working
    directory. Must run before the JVM starts."""
    run = os.path.join(STATE_DIR, "run")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("warehouse", "tmp", "jvm-tmp", "local", "eventlog", "cwd"):
        os.makedirs(os.path.join(run, sub))
    # Python workers import the package from the checkout, whatever the
    # working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run, "local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.chdir(os.path.join(run, "cwd"))
    return run


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of the host's memory, between 1 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    mb = min(6144, max(1024, kb // 1024 // 4))
    return f"{mb}m"


def spark_conf(run: str, event_log: bool) -> dict[str, str]:
    jvm_tmp = os.path.join(run, "jvm-tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": driver_heap(),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={jvm_tmp} -Dderby.system.home={jvm_tmp}",
        "spark.local.dir": os.path.join(run, "local"),
        "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    return conf


def start_session(conf: dict[str, str]):
    from ssis_to_pyspark_agent_spark import session

    n = cores()
    return session.get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )


def register_sources(spark, data: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{data}/{t}.parquet").createOrReplaceTempView(t)


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# full-row digest
# ---------------------------------------------------------------------------


def digest_frame(df):
    """One-row frame: row count plus the order-independent sum of
    xxhash64 over every column. The hash is widened to decimal(38,0)
    before the sum, so no row count can overflow it under ANSI mode."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("h").alias("digest")
    )


def read_digest(digest_df) -> tuple[int, str]:
    row = digest_df.collect()[0]
    return int(row["rows"]), str(row["digest"])


def release(spark) -> int:
    """Stop leftover streams, drop caches; returns the persisted RDDs the
    pipeline left behind (before they are released)."""
    for q in spark.streams.active:
        q.stop()
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs()
    n = left.size()
    spark.catalog.clearCache()
    for rdd in list(left.values()):
        rdd.unpersist(False)
    return n


# ---------------------------------------------------------------------------
# host evidence
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(v[5]), int(v[8]) if len(v) > 8 else 0


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def tree_cpu_ticks() -> int:
    """CPU ticks (user + system) of this process and every live
    descendant: the JVM, the Python worker daemon and its workers."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(rest[1])
        # utime stime cutime cstime: fields 14-17
        ticks[pid] = sum(int(x) for x in rest[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total


def host_snapshot(spark) -> tuple[int, int, int, int]:
    iow, steal = _cpu_ticks()
    return iow, steal, jvm_gc_ms(spark), tree_cpu_ticks()


def host_delta(before: tuple, after: tuple) -> dict:
    return {
        "iowait_s": round((after[0] - before[0]) / _TICK, 3),
        "steal_s": round((after[1] - before[1]) / _TICK, 3),
        "gc_s": round((after[2] - before[2]) / 1000.0, 3),
        "cpu_s": round((after[3] - before[3]) / _TICK, 3),
        "load1": round(os.getloadavg()[0], 2),
    }


def live_heap_mb(spark) -> float:
    """JVM heap the session retains: the least heap in use over repeated
    full collections. Python's collector runs first, so the JVM objects
    that unreachable Python wrappers pin are released. A collection
    orphans broadcast, shuffle and state blocks that Spark's cleaner then
    drops in steps over the next second or so, and each step is freed only
    by the next collection. After a single collection the reading moved by
    up to 70 MB between runs of the same pipelines; the least of eight
    moved by under 3 MB."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    used = []
    for _ in range(8):
        jvm.System.gc()
        used.append(mem.getHeapMemoryUsage().getUsed())
        time.sleep(0.2)
    return min(used) / 2**20


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
