"""Streaming pipeline pieces (SURVEY §2.10, build-plan phase 7).

The reference has no streaming concept at all (grep for watermark/stream
yields nothing — SURVEY §1.1). These helpers give the engine a Structured
Streaming variant of the batch operators: readStream sources, watermarked
tumbling/sliding/session windows, dedup-within-watermark, and a
memory-sink test harness (`processAllAvailable` drives a bounded parquet
directory through the streaming engine synchronously — the recommended
local smoke pattern).

The batch/stream operator split is intentionally thin: a streaming query
is the same DataFrame expression over an unbounded source, so every
stateless operator in the registry (derived_column, filter, lookup against
a static dim, union) works unchanged on a streaming DataFrame.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ssis_to_pyspark_agent_spark.operators.agg import build_aggs
from ssis_to_pyspark_agent_spark.operators.sources_sinks import normalize_event_time


def stream_events(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    max_files_per_trigger: int = 1,
    nanos_ts_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """readStream over a parquet directory (file source: the bounded-input
    test stand-in for kafka). Handles TIMESTAMP(NANOS) parquet columns the
    same way as the batch source (long nanos -> micros)."""
    from ssis_to_pyspark_agent_spark.sources.catalog import read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        # the session schema memo: one footer-inference job per path and
        # session, not one per stream source per run
        schema = read_parquet(spark, path, nanos_as_long=True).schema
    r = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    import os

    if path.endswith(".parquet") and "/" in path and not os.path.isdir(path):
        # FileStreamSource needs a directory; point at the parent and
        # glob-filter to the single file. A DIRECTORY named *.parquet
        # (a normal multi-part dataset) must NOT take this branch — the
        # glob would match zero part files and the stream silently
        # produces nothing.
        base, _, fname = path.rpartition("/")
        r = r.option("pathGlobFilter", fname)
        path = base
    df = r.parquet(path)
    # dtype-branching normalization (bigint nanos / TIMESTAMP_NTZ / TIMESTAMP):
    # withWatermark requires a true TIMESTAMP column, so NTZ must be converted.
    return normalize_event_time(df, [c for c in nanos_ts_cols if c in df.columns])


def windowed_agg(
    events: DataFrame,
    ts_col: str,
    window: str,
    aggs: dict,
    keys: list[str] | None = None,
    slide: str | None = None,
    watermark: str = "10 minutes",
    session_gap: str | None = None,
) -> DataFrame:
    """Watermarked windowed aggregation: tumbling (default), sliding
    (`slide`), or session (`session_gap`) windows."""
    e = events.withWatermark(ts_col, watermark)
    if session_gap:
        win = F.session_window(F.col(ts_col), session_gap)
    elif slide:
        win = F.window(F.col(ts_col), window, slide)
    else:
        win = F.window(F.col(ts_col), window)
    g = e.groupBy(win, *(keys or []))
    out = g.agg(*build_aggs(aggs))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact-dedup with bounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    how: str = "inner",
    watermark: str = "10 minutes",
    time_bound: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream join: equality on `keys` plus the
    event-time range `left_ts <= right_ts <= left_ts + time_bound`.

    Both sides buffer join state; the watermark + time-range condition is
    what lets Spark EVICT that state (without it, state grows without
    bound — Spark requires the range condition for append-mode
    stream-stream joins precisely because it bounds the buffer to
    watermark + time_bound per key). Outer variants emit the unmatched
    side only once the watermark passes the bound.

    Column-name hygiene: rename overlapping non-key columns on one side
    before this step — the join keeps both sides' columns.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = None
    for k in keys:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else cond & c
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    rng = (rt >= lt) & (rt <= lt + F.expr(f"INTERVAL {time_bound}"))
    cond = rng if cond is None else cond & rng
    joined = lw.join(rw, cond, how)
    # drop the duplicated key columns from the right side
    return joined.drop(*[F.col(f"r.{k}") for k in keys])


class _state_partitions:
    """Scope `spark.sql.shuffle.partitions` around a streaming-query
    START. Stateful streaming operators allocate one state store per
    shuffle partition per stateful op PER MICRO-BATCH (a stream-stream
    join keeps FOUR stores per partition), and each store pays fixed
    WAL/commit/maintenance overhead every batch regardless of rows — at
    the cluster default of 32+ partitions a 59-row join spends its whole
    wall time on store bookkeeping (measured 16.4s -> 2.9s at 4
    partitions, identical output). The setting is captured into the
    query's checkpoint at first start, so it is also the one knob that
    CANNOT be changed later without a new checkpoint. Restoring after
    start is safe — StreamExecution clones the session conf when the
    query starts. ONLY ``.start()`` belongs inside the scope: holding it
    across the synchronous drain would leak the override to every batch
    job another thread plans meanwhile."""

    def __init__(self, spark: SparkSession, n):
        self.spark, self.n, self.old = spark, n, None

    def __enter__(self):
        if self.n is not None:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(int(self.n)))

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def resolve_state_partitions(config: dict):
    """Validate a sink's ``state_partitions`` config: None (derive the
    width, see `state_width`) or an int >= 1."""
    n = config.get("state_partitions")
    if n is None:
        return None
    # validate HERE, with the config key named — deferring to the int()
    # inside _state_partitions raises a bare "invalid literal" at
    # query-start time, far from the config mistake. bool is an int
    # subclass; reject it.
    if isinstance(n, bool) or not isinstance(n, int):
        raise ValueError(f"state_partitions must be an int, got {n!r}")
    if n < 1:
        raise ValueError(f"state_partitions must be >= 1, got {n}")
    return n


#: Logical nodes whose state a Python function keeps. Their cost is
#: per-group Python work that wants every core, not per-store
#: bookkeeping: over sf0.1 events (2 MB, local[4]) q43's
#: applyInPandasWithState counter drains in 2.2 s at 4 state partitions
#: and in 4.2-5.4 s at 1, while its JVM-state replays and q78 are
#: fastest at 1-2.
_PYTHON_STATE_OPS = frozenset(
    {"FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark"})


def _state_bytes(df: DataFrame) -> int | None:
    """Bytes the file sources of streaming plan `df` list right now, or
    None when the plan keeps the session width: a streaming leaf that is
    not a file source (rate, socket, memory, ...), or state kept by a
    Python function. Each `StreamingRelation` leaf is reloaded as a
    batch relation with the leaf's own schema and options, so the size
    is a driver-side file listing: no Spark job, no schema inference."""
    spark = df.sparkSession
    file_format = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.datasources.FileFormat")
    total, stack = 0, [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in _PYTHON_STATE_OPS:
            return None
        kids = node.children()
        if kids.size():
            stack.extend(kids.apply(i) for i in range(kids.size()))
            continue
        if not node.isStreaming():
            continue  # a static side (stream-static join) holds no state
        if name != "StreamingRelation":
            return None
        ds = node.dataSource()
        if not file_format.isAssignableFrom(ds.providingClass()):
            return None
        options, it = {}, ds.options().iterator()
        while it.hasNext():
            kv = it.next()
            options[kv._1()] = kv._2()
        batch = (spark.read.format(ds.className()).options(**options)
                 .schema(node.schema().toDDL()).load())
        total += int(
            batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return total


def state_width(df: DataFrame, state_partitions: int | None = None):
    """The state-store width for starting streaming query `df`: an
    explicit `state_partitions` wins; otherwise the replay's listed bytes
    over `spark.sql.adaptive.advisoryPartitionSizeInBytes`, capped at
    `spark.sql.shuffle.partitions` — the rule AQE uses to coalesce a
    batch shuffle, which micro-batches do not get. None (keep the
    session width) when a source is not a file source or a Python
    function keeps the state (see `_state_bytes`)."""
    if state_partitions is not None:
        return state_partitions
    nbytes = _state_bytes(df)
    if nbytes is None:
        return None
    spark = df.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-nbytes // advisory)))


def drive_stream(
    df: DataFrame,
    start: Callable[[DataStreamWriter], StreamingQuery],
    state_partitions: int | None = None,
) -> None:
    """Start `df`'s streaming query with ``start(df.writeStream)``, drain
    it synchronously and stop it. The state width (see `state_width`) is
    scoped around ``start`` ONLY (see _state_partitions) — the drain
    runs with the session conf restored."""
    n = state_width(df, state_partitions)
    with _state_partitions(df.sparkSession, n):
        q = start(df.writeStream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Drive a (bounded-source) streaming DataFrame to completion into an
    in-memory table `name` — synchronous, for tests/smoke. The state
    width is `state_partitions` when given, else derived from the
    sources' listed bytes (see `drive_stream`)."""
    drive_stream(
        df,
        lambda w: w.outputMode(output_mode).format("memory")
        .queryName(name).start(),
        state_partitions,
    )


def stateful_counter(
    events: DataFrame,
    keys: list[str],
    out_col: str = "n",
) -> DataFrame:
    """Custom stateful streaming operator (the Script-Component-with-state
    analogue): a running per-key event counter via
    ``applyInPandasWithState``. Each micro-batch updates the persisted
    per-key state and emits the new running total, so in update mode the
    sink sees a monotone series per key whose MAX is the final count —
    equal to the batch ``groupBy(keys).count()`` on a bounded replay
    regardless of part-file arrival order.

    State is one bigint per key; NoTimeout because the bounded-replay
    contract wants every key's final total (real deployments would use
    event-time timeout to shed idle keys)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(
        f"{k} {events.schema[k].dataType.simpleString()}" for k in keys
    )

    def count_events(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {**{k: [key[i]] for i, k in enumerate(keys)}, out_col: [total]}
        )

    return events.groupBy(*keys).applyInPandasWithState(
        count_events,
        outputStructType=f"{key_schema}, {out_col} bigint",
        stateStructType=f"{out_col} bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
