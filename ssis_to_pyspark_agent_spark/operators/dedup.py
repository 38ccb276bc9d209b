"""Deduplication operators (SURVEY §2.12 — NEW, designed for 100 TB).

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
All pure DataFrame ops (JVM-side, whole-stage codegen) — no Python UDFs in
the hot path, no MLlib Vector conversions.

The reference's closest surface is Fuzzy Grouping (recognized type only,
data_engineering_parser.py:1114) and Sort's EliminateDuplicates
(:1218) — everything else here is new capability.

Scale design:
- Exact dedup on a digest, never on the full payload (shuffle keys stay
  small: 16-byte md5 vs multi-KB documents).
- MinHash: per-row signatures computed in one narrow pass (higher-order
  array functions over the shingle array); LSH banding turns the O(n²)
  pair search into an equi-join on (band_id, band_hash) — the only
  shuffle. Hot buckets (boilerplate docs) are the skew risk: AQE skew-join
  plus an optional bucket-size cap.
- Pair verification (exact Jaccard / cosine) runs only on candidates.
- "Cluster" = keep the row whose id is the minimum among its near-dup
  neighborhood (deterministic, one pass; full transitive closure would
  need iterative connected components — see `cluster='cc'` TODO).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator

# Mersenne prime 2^61-1: the classic universal-hash modulus for MinHash.
_P = (1 << 61) - 1


def _md5_60bit(c: Column) -> Column:
    """Engine-neutral 60-bit hash (NOTES invariant 5): 15 hex chars of
    md5 as a bigint — DuckDB computes the identical value with
    CAST('0x'||substr(md5(x),1,15) AS BIGINT). The ONE shared definition
    for every oracle-pinned md5 hash decision (simhash fingerprints,
    sample.mixture replica draws): the bit layout is an oracle contract,
    so it must not be re-derived per call site."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _norm_text(c: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form every textual
    dedup method starts from."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def _words(c: Column) -> Column:
    return F.split(_norm_text(c), " ")


def _lambda_bind(expr: Column, f) -> Column:
    """Evaluate ``expr`` ONCE and hand it to ``f`` as a lambda-bound
    variable (NOTES invariant 20, higher-order-function corollary).

    A higher-order-function lambda body that references an expression
    TREE (e.g. ``F.slice(w, i, k)`` where ``w = _words(c)``) re-evaluates
    that tree per array ELEMENT — the lambda body runs interpreted, with
    no subexpression elimination, so an 80-word doc re-runs the
    regex-split ~80 times per gram builder (measured 75.7s -> 11.2s for
    the lm bigram pass at 500k docs just from binding). Wrapping the
    expression in a one-element array and referencing the transform
    lambda's ARGUMENT makes it a bound NamedLambdaVariable: evaluated
    once, then O(1) per reference. Pure Column-in/Column-out, so every
    gram/shingle builder can use it without restructuring its operator.
    """
    return F.element_at(F.transform(F.array(expr), f), 1)


def _shingles(c: Column, k: int) -> Column:
    """Word k-shingles as a distinct array. Built with sequence+transform
    (no explode, no shuffle): slice the word array at each offset. The
    word array is lambda-bound (_lambda_bind) — referencing the split
    expression inside the slice lambda re-evaluated it per offset."""
    return _lambda_bind(
        _words(c),
        lambda w: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(w, i, k)),
            )
        ),
    )


def _numpy_band_frame(
    base: DataFrame, bands: int, rows: int, seed: int
) -> DataFrame:
    """(_id, _bh: array<bigint>) — MinHash band hashes computed in numpy
    via mapInPandas (Arrow batches).

    The per-shingle hashes (`_hs`, already computed JVM-side with
    xxhash64) transfer to Python as int64 arrays; each doc's full
    bands*rows signature is ONE vectorized broadcast
    (shingles x num_hashes universal hashes, column-min), then rows-fold
    into band hashes (multiply-add mod 2^64 universal hashes).

    The one MinHash kernel: a pure-Catalyst formulation (bands*rows
    aggregate folds, each re-walking the shingle array) measured ~2x
    slower at every size tried (174s vs 97s at 510k docs), and an
    array-accumulator fold 19x slower (copy-on-write array per fold
    step, NOTES.md). Arrow-vectorized, NOT a row-at-a-time UDF: per
    10k-row batch the Python cost is one numpy kernel per doc.
    """
    import numpy as np
    import pandas as pd

    num = bands * rows
    rng = np.random.RandomState(seed)
    with np.errstate(over="ignore"):
        A = rng.randint(1, _P, size=num).astype(np.uint64)
        B = rng.randint(0, _P, size=num).astype(np.uint64)
    mix = np.uint64(0x9E3779B97F4A7C15)
    band_salt = (np.arange(bands, dtype=np.uint64) + np.uint64(1)) * mix
    id_type = base.schema["_id"].dataType.simpleString()

    def gen(batches):
        empty_sig = np.full(num, np.iinfo(np.uint64).max, dtype=np.uint64)
        for pdf in batches:
            bhs = []
            with np.errstate(over="ignore"):
                for hs in pdf["_hs"]:
                    x = np.asarray(hs, dtype=np.int64).view(np.uint64)
                    if x.size:
                        sig = (x[:, None] * A[None, :] + B).min(axis=0)
                    else:
                        sig = empty_sig
                    bv = sig.reshape(bands, rows)
                    h = bv[:, 0] * mix
                    for j in range(1, rows):
                        h = (h ^ bv[:, j]) * mix
                    bhs.append((h ^ band_salt).view(np.int64))
            yield pd.DataFrame({"_id": pdf["_id"], "_bh": bhs})

    return base.select("_id", "_hs").mapInPandas(
        gen, schema=f"_id {id_type}, _bh array<bigint>"
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def _spread(spark, df: DataFrame, by_bytes: bool = False) -> DataFrame:
    """Spread a narrow input before a CPU-heavy narrow pass.

    A small/single parquet split would otherwise pin the whole signature
    computation to one core (observed 11s -> ~1s on 32 threads). On a real
    cluster wide inputs already have enough splits and this is a no-op.

    The default repartitions to cluster parallelism: right for JVM
    expression passes (shingling, minhash/simhash signatures), whose
    per-row cost is high (4.0 -> 0.6 s at sf0.1 for 5,000 documents).
    ``by_bytes=True`` is for passes whose only consumer is a numpy vector
    kernel (``mapInPandas``): there every task is a Python task with a
    fixed start-up cost (0.16-0.25 CPU-s each on a 4-core host), so an
    AQE rebalance lets the coalescer pick the task count from the bytes
    actually shuffled (1 MB ``minPartitionSize``, parallelism first) —
    one task for 500 vectors, every core for 100 MB.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.hint("rebalance") if by_bytes else df.repartition(target)


def _local_frame(spark, rows, schema) -> DataFrame:
    """Driver-side rows (tuples in ``schema`` order; ``schema`` a
    StructType or DDL string) as a frame with no Python task behind it.

    ``createDataFrame(list, schema)`` ships the rows as a Python RDD cut
    into defaultParallelism slices, so every scan of the frame starts one
    Python worker per slice. The same rows as an Arrow table become a
    ``LocalRelation`` (a ``LocalTableScan`` held by the driver) below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default); every caller passes capped driver rows well under it (the
    largest, the 100k-pair union-find labels, is ~1.6 MB).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


#: bucket size above which `_bucket_pairs` switches a bucket from the
#: collected id-list explode to the distributed self-join (a plan switch,
#: never a recall cut) — shared by every LSH dedup operator.
_BUCKET_CAP = 200

#: hard bound on the hot-bucket keys collected to the driver — above it
#: (a degenerate corpus where most buckets exceed _BUCKET_CAP) the whole
#: input routes through the distributed self-join instead of a broadcast
#: hot-key table (ADVICE round 5: the unbounded collect risked driver
#: OOM at up to rows/cap keys).
_MAX_HOT_KEYS = 4096


def _bucket_pairs(tagged: DataFrame, bucket_cols: list[str], cap: int,
                  auto_persist: bool = True) -> DataFrame:
    """Distinct (a, b) id pairs co-occurring in a bucket.

    Buckets at-or-under ``cap`` ride the one-shuffle path: groupBy
    bucket, collect sorted id lists, explode the i<j combinations (the
    self-join alternative shuffles the tagged table twice and sorts
    both sides). Buckets OVER the cap — where a collected id array
    would be an unbounded single-row memory hazard — go through a
    distributed self-join instead: the |B|^2 candidate set is exactly
    what the blocking scheme demands for those ids, produced across
    tasks (AQE skew-split spreads a hot key) rather than silently
    thrown away.

    The cap used to TRUNCATE (slice after sort): every pair involving
    an id beyond position `cap` of a hot bucket silently vanished — at
    sf0.1 dedup.simhash lost 13 of 512 oracle pairs the moment one
    15-bit chunk bucket crossed 200 docs, quietly voiding the
    pigeonhole scheme's completeness guarantee (round-5 find). The cap
    is now a PLAN switch, never a recall cut; the hot-key table it
    broadcasts is small by construction (keys with > cap members).

    The hot/cold split is decided by an eager probe; the returned plan
    GUARDS against probe/action drift (a bucket crossing the cap
    between the two because the caller's lineage is non-deterministic)
    with an in-plan raise_error — such a bucket fails loudly instead of
    losing its pairs.

    Cache discipline (round-6): when the caller did NOT persist
    ``tagged``, it is auto-persisted for the probe+action lifetime —
    the probe fills the cache, the hot branches (which scan the input
    three more times) ride it, and the candidate-pair result is
    materialized eagerly (bounded, invariant 13a) so the input cache
    can be RELEASED before returning. On the common no-hot path the
    lazy single-aggregation plan returns unchanged (the transient
    cache is dropped first; the action recomputes one pass exactly as
    before — measured costs in PLANS.md). Callers whose tagged frame
    is a cheap narrow derivation of an ALREADY-persisted parent pass
    ``auto_persist=False`` (dedup.simhash's chunk slices) so the data
    is not double-stored for a recompute that costs almost nothing.
    Cache ownership: when the auto-persist applied, the returned frame
    is ALREADY persisted and counted, and the caller owns that cache
    (it must unpersist it, and must not persist it again); with
    ``auto_persist=False`` (or a caller-persisted input) the result
    comes back lazy and the caller persists it if it re-reads it.
    The driver only ever holds <= _MAX_HOT_KEYS hot keys; a degenerate
    corpus beyond that routes WHOLESALE through the distributed
    self-join (correct at any bucket size, no broadcast table at all).
    """
    from pyspark import StorageLevel
    # ONE aggregation carries both the EXACT bucket count and the
    # (cap-sliced) sorted id list; an eager bounded probe collects the
    # hot keys off that same plan. No hot buckets (the overwhelmingly
    # common case) ⇒ the returned plan is the pre-fix single-aggregation
    # one — the only added cost is the probe pass, which rides the
    # upstream cache when the caller persisted its signature stage
    # (q32's shape) and costs one recompute when it didn't. The earlier
    # anti+semi two-broadcast formulation paid THREE uncached signature
    # passes (510k-doc minhash probe: 182s vs 53s pre-fix); this one
    # pays two. A left-join-with-marker single-broadcast variant was
    # also tried and is worse still (12-18s warm vs 3.5s at sf0.1): the
    # outer join's null side blocks the partial collect_set shape.
    agg = (
        tagged.groupBy(*bucket_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.slice(F.sort_array(F.collect_set("_id")), 1, cap).alias("_ids"),
        )
        .filter(F.col("_n") > 1)
    )

    def _self_join(src: DataFrame) -> DataFrame:
        return (
            src.alias("l")
            .join(
                src.alias("r"),
                [F.col(f"l.{c}") == F.col(f"r.{c}") for c in bucket_cols]
                + [F.col("l._id") < F.col("r._id")],
            )
            .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        )

    # auto_persist=False is for callers whose tagged frame is a CHEAP
    # narrow derivation of an already-persisted parent (dedup.simhash:
    # chunk slicing over the cached fingerprint base) — caching it
    # again would double-store the data for a recompute that costs
    # almost nothing (review finding, round 6). Callers whose lineage
    # re-runs an expensive kernel (minhash signatures, embedding
    # bucket matmuls) keep the default.
    auto_persist = auto_persist and tagged.storageLevel == StorageLevel.NONE
    if auto_persist:
        tagged.persist()
    try:
        hot = (
            agg.filter(F.col("_n") > cap)
            .select(*bucket_cols)
            .limit(_MAX_HOT_KEYS + 1)
            .collect()
        )
        return _bucket_pairs_plan(tagged, agg, bucket_cols, cap, hot,
                                  _self_join, auto_persist)
    finally:
        if auto_persist:
            tagged.unpersist()


def _bucket_pairs_plan(tagged, agg, bucket_cols, cap, hot, _self_join,
                       auto_persist) -> DataFrame:
    def _combos(src: DataFrame) -> DataFrame:
        # drift guard: a bucket the probe classified cold but whose
        # count exceeds `cap` at action time (non-deterministic caller
        # lineage) would otherwise explode a TRUNCATED id list — fail
        # loudly instead (see docstring)
        ids = F.when(
            F.col("_n") > cap,
            F.raise_error(
                F.lit(
                    "_bucket_pairs: a bucket crossed the cap between "
                    "the planning probe and the action — the input "
                    "lineage is non-deterministic; persist or seed it"
                )
            ),
        ).otherwise(F.col("_ids"))
        combos = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        return src.select(F.explode(combos).alias("_p")).select(
            F.col("_p.a").alias("a"), F.col("_p.b").alias("b")
        )

    if not hot:
        result = _combos(agg).dropDuplicates(["a", "b"])
        if auto_persist:
            # r11: same discipline as the hot branches below — the
            # probe already paid the caller's (possibly expensive,
            # e.g. minhash-signature) lineage to fill the transient
            # input cache, so materialize the bounded candidate set NOW
            # while that cache is alive instead of re-deriving the
            # whole lineage at first action after the caller's finally
            # releases it. One extra bounded count job buys back a full
            # uncached signature pass (guide §1.2: remove passes).
            # auto_persist=False callers (cheap lineage over an
            # already-persisted parent) keep the lazy plan unchanged.
            result = result.persist()
            result.count()
        return result
    if len(hot) > _MAX_HOT_KEYS:
        # degenerate corpus: more hot buckets than the driver should
        # ever hold — no broadcast table, route EVERY bucket through
        # the distributed self-join (correct at any bucket size; the
        # |B|^2 work is exactly what the blocking scheme demands and
        # AQE skew-split spreads it). Restricting to _n > 1 buckets
        # first would need another corpus-wide join — not worth it on
        # a path whose cost is the self-join itself.
        result = _self_join(tagged).dropDuplicates(["a", "b"])
        if auto_persist:
            # same discipline as the hot/cold-mix branch below: the
            # caller's finally drops the transient input cache right
            # after we return, so a lazy plan would re-derive the
            # (possibly expensive) caller lineage for BOTH self-join
            # scans at action time (ADVICE round 6) — materialize the
            # bounded candidate set while the cache is alive
            result = result.persist()
            result.count()
        return result
    # hot buckets: distributed self-join (see docstring)
    hot_df = F.broadcast(
        _local_frame(
            tagged.sparkSession,
            [tuple(r[c] for c in bucket_cols) for r in hot],
            tagged.select(*bucket_cols).schema,
        )
    )
    # anti-join (not a count filter) picks the cold side, so a bucket
    # that DRIFTED over the cap still reaches _combos and trips the
    # guard instead of being silently dropped from both branches
    cold_pairs = _combos(agg.join(hot_df, bucket_cols, "left_anti"))
    hot_rows = tagged.join(hot_df, bucket_cols, "left_semi")
    hot_pairs = _self_join(hot_rows)
    result = cold_pairs.unionByName(hot_pairs).dropDuplicates(["a", "b"])
    if auto_persist:
        # materialize the bounded candidate set NOW, while the input
        # cache (filled by the probe) is still alive: the agg recompute
        # and both self-join scans ride it instead of re-deriving the
        # caller's (possibly expensive, e.g. minhash-signature) lineage
        # 3 more times — 510k-doc uncached hot-bucket probe 100.3s ->
        # see PLANS.md. The result is candidate pairs (bounded,
        # invariant 13a); callers already persist/release it.
        result = result.persist()
        result.count()
    return result


def _signature_bands(
    src: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    rows: int,
    seed: int,
):
    """The shared MinHash stage 1+2 (dedup.minhash AND
    dedup.minhash_incremental — ONE definition so seed handling cannot
    drift between them): shingle + per-shingle xxhash64, then the
    numpy band-hash frame (`_numpy_band_frame`). Returns
    (base, band_frame); base carries (_id, _sh, _hs)."""
    base = src.select(
        F.col(id_col).alias("_id"),
        _shingles(F.col(text_col), k).alias("_sh"),
    ).withColumn(
        "_hs", F.transform(F.col("_sh"), lambda s: F.xxhash64(s, F.lit(seed)))
    )
    return base, _numpy_band_frame(base, bands, rows, seed)


def _dominated_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """The min-id keep rule's dominated set: `pairs` has (a, b) with
    a < b, so b is dominated. ONE definition of the convention —
    eager/cached callers and the anti-join helper must never drift."""
    return pairs.select(F.col("b").alias(id_col)).distinct()


def _keep_min_survivors(
    df: DataFrame, id_col: str, pairs: DataFrame, broadcast: bool = False
) -> DataFrame:
    """Drop every row that has a near-duplicate with a smaller id.
    One anti-join against the dominated set.

    ``broadcast=True`` hints the dominated set onto every executor so the
    anti-join never shuffles the corpus side (the initial plan otherwise
    stages a full SortMergeJoin exchange of the payload — at 100 TB a
    corpus-wide shuffle of the text column just to drop duplicates; AQE
    can only downgrade it to a local read AFTER the shuffle files are
    written). Callers may only pass True under an assumption they already
    make: the candidate/pairs frame fits the driver (minhash's
    ``verify_broadcast``); the dominated set is a projection of its `b`
    column, so it is strictly smaller than what those callers broadcast
    during verification."""
    dom = _dominated_ids(pairs, id_col)
    if broadcast:
        dom = F.broadcast(dom)
    return df.join(dom, id_col, "left_anti")


def _cut(df: DataFrame) -> DataFrame:
    """Lineage cut for the iterative cc loops, so round N never replays
    rounds 1..N-1. With a session checkpoint directory
    (``SparkContext.setCheckpointDir``) it is Spark's reliable
    ``checkpoint()``: the round lands on durable storage, so losing an
    executor mid-loop recomputes at most the current round. Without one
    it is ``localCheckpoint()``: executor-local blocks, fast, but an
    executor loss restarts the loop. Spark writes each reliable cut
    under ``<dir>/<application id>/rdd-<id>``, so concurrent calls never
    share files; ``spark.cleaner.referenceTracking.cleanCheckpoints``
    decides whether they are deleted.

    Every round cuts: each cc round references the previous round's
    frame MORE THAN ONCE (lp twice — the neighbor join and the label
    merge; star ~6x across the large/small passes), so a plan carried
    across k uncut rounds grows GEOMETRICALLY (~2^k / ~6^k nodes) and
    every round's convergence probe re-plans it — measured as a driver
    heap OOM at k=3 on a 30-node chain."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint()
    return df.localCheckpoint()


def _star_components(pairs: DataFrame) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond" — the public
    MapReduce CC algorithm): returns (x, comp) for every node that
    appears in a pair, comp = the component's minimum id.

    Why it exists next to min-label propagation: propagation needs
    ~DIAMETER rounds, and an adversarial dup graph (doc A ~ B ~ C ...
    chained through shared boilerplate) can push the diameter past any
    fixed round bound — star contraction converges in O(log^2 n) rounds
    regardless of shape, so it is the deep-graph fallback of
    dedup.cluster / sample.holdout (`_propagate_labels`). Per round: two
    group-by-min shuffles over the dup-volume-sized edge set plus a
    set-stability check; each round is cut (`_cut`) so round N never
    replays rounds 1..N-1. The round bound comes from the edge count the
    first probe already takes: a component has at most n_edges + 1
    nodes, so ``max(32, ceil(log2(n_edges + 1))**2)`` rounds cover it.

    Invariant per round (both ops): edges always point larger -> smaller
    (h > l), connectivity is preserved. At the fixed point the edge set
    is a forest of depth-1 stars, so each root is its component's min;
    the star shape is verified structurally before returning rather
    than trusted.
    """
    # canonical directed edges (h, l): h > l, no self-loops
    e = _cut(
        pairs.select(
            F.greatest("a", "b").alias("h"), F.least("a", "b").alias("l")
        )
        .filter(F.col("h") != F.col("l"))
        .distinct()
    )
    n_edges, e_sig = e.agg(
        F.count(F.lit(1)), F.expr("bit_xor(xxhash64(h, l))")
    ).collect()[0]
    empty = e.select(F.col("h").alias("x"), F.col("l").alias("comp")).limit(0)
    if n_edges == 0:
        return empty
    max_rounds = max(32, n_edges.bit_length() ** 2)
    sig = (n_edges, e_sig)
    stable = False
    for _ in range(max_rounds):
        # large-star: every node u links each LARGER neighbor v to
        # min(N(u) + {u}) — strictly smaller than v, so h>l holds
        sym = e.select(F.col("h").alias("u"), F.col("l").alias("v")).unionByName(
            e.select(F.col("l").alias("u"), F.col("h").alias("v"))
        )
        nmin = sym.groupBy("u").agg(F.min("v").alias("nm"))
        large = (
            sym.join(nmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("h"), F.least("nm", "u").alias("l"))
            .distinct()
        )
        # small-star: every node h links its smaller neighbors (and
        # itself) to their minimum m
        smin = large.groupBy("h").agg(F.min("l").alias("m"))
        joined = large.join(smin, "h")
        new_e = _cut(
            joined.select("h", F.col("m").alias("l"))
            .unionByName(
                joined.filter(F.col("l") != F.col("m")).select(
                    F.col("l").alias("h"), F.col("m").alias("l")
                )
            )
            .distinct()
        )
        # stability probe in ONE job: (count, order-independent xor of
        # edge hashes). Equality is necessary for set equality and a
        # 2^-64 false positive otherwise — so a signature match is
        # CONFIRMED with one exact subtract before we trust it (the
        # subtract therefore runs once at convergence, not every round).
        new_n, new_sig = new_e.agg(
            F.count(F.lit(1)), F.expr("bit_xor(xxhash64(h, l))")
        ).collect()[0]
        if (new_n, new_sig) == sig and new_e.subtract(e).limit(1).count() == 0:
            stable = True
            e, n_edges = new_e, new_n
            break
        sig = (new_n, new_sig)
        e, n_edges = new_e, new_n
    if not stable:
        raise ValueError(
            f"star contraction did not converge within {max_rounds} "
            f"rounds, the bound max(32, ceil(log2(n_edges + 1))**2) "
            f"derived from the input's edge count."
        )
    # structural proof of the star decomposition: every non-root has
    # exactly ONE outgoing edge and no root is itself a leaf — with
    # h>l throughout and connectivity preserved, roots are then exactly
    # the component minima
    multi = e.groupBy("h").agg(F.count_distinct("l").alias("_n"))
    if multi.filter(F.col("_n") > 1).limit(1).count() != 0:
        raise AssertionError("star contraction fixed point is not a forest")
    if (
        e.select("l").join(e.select(F.col("h").alias("l")), "l", "left_semi")
        .limit(1).count() != 0
    ):
        raise AssertionError("star contraction fixed point has depth > 1")
    leaves = e.select(F.col("h").alias("x"), F.col("l").alias("comp"))
    roots = (
        e.select("l").distinct()
        .join(e.select(F.col("h").alias("l")), "l", "left_anti")
        .select(F.col("l").alias("x"), F.col("l").alias("comp"))
    )
    return leaves.unionByName(roots)


#: rounds `_propagate_labels` gives min-label propagation before falling
#: back to star contraction — real near-dup graphs are clique-ish
#: (diameter 2-4), so lp converges here almost always; only an
#: adversarial chain pays the bounded wasted rounds and reroutes.
_AUTO_LP_ROUNDS = 8


#: default bound on the pair rows `_propagate_labels` may collect for the
#: driver-side union-find (two ids/row — a few MB at the cap). The same
#: driver-boundedness discipline as _MAX_HOT_KEYS / brute_force_cap: a
#: bounded limit(cap+1) probe decides, never a full count.
_DRIVER_CC_CAP = 100_000


def _driver_cc_labels(spark, rows, id_field) -> DataFrame:
    """Union-find connected components on the driver over a BOUNDED
    collected pair list: exact min-label components — identical to the
    distributed loops' contract (every node that appears in an edge,
    comp = the smallest id in its component) — with zero iterative
    shuffles, lineage cuts or convergence probes, and no diameter
    bound at all. Rows with a null endpoint are skipped, matching the
    distributed path (a null never equi-joins)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[0], row[1]
        if a is None or b is None:
            continue
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("x", id_field.dataType),
        StructField("comp", id_field.dataType),
    ])
    return _local_frame(
        spark, [(x, comp_min[find(x)]) for x in parent], schema
    )


def _propagate_labels(
    pairs: DataFrame, driver_cap: int = _DRIVER_CC_CAP
) -> DataFrame:
    """Connected-component labels over a (a, b) pair list: returns
    (x, comp) for every node that APPEARS IN AN EDGE — dup-volume-sized,
    never corpus-sized (isolated nodes can't change label; callers
    re-attach them with comp = own id). Shared by dedup.cluster and
    sample.holdout.

    The route is decided by the data: a pair graph under ``driver_cap``
    rows runs exact union-find on the driver; above it, min-label
    propagation for up to _AUTO_LP_ROUNDS rounds (the cheap path — one
    shuffle per round, and real dup graphs are shallow), then automatic
    fallback to star contraction if labels are still moving — so the
    operator NEVER fails or returns partial labels on a deep graph, and
    never pays star's heavier rounds on a shallow one. Both loops cut
    their lineage every round with `_cut`, which is durable when the
    session has a checkpoint directory. ``driver_cap`` is a test seam
    (0 disables the driver route); operators always pass the default."""
    if driver_cap > 0:
        # r12 (guide §1.2): at real dup rates the pair graph is tiny
        # relative to the corpus, and the distributed loop's cost is
        # almost entirely per-round fixed overhead (lineage cuts +
        # convergence probes — q31 trace: 28 jobs/~400 executed tasks
        # for 256 pairs). Under a driver-bounded cap, collect the pairs
        # once and run exact union-find instead — same min-label
        # contract, zero rounds. The probe is limit(cap+1), never a
        # count; above the cap the distributed path is untouched.
        head = pairs.select("a", "b").limit(driver_cap + 1).collect()
        if len(head) <= driver_cap:
            return _driver_cc_labels(
                pairs.sparkSession, head, pairs.schema["a"]
            )
    labels, converged = _lp_labels(pairs, _AUTO_LP_ROUNDS)
    if converged:
        return labels
    # deep component: reroute to the diameter-independent algorithm,
    # which bounds its own rounds from the edge count
    return _star_components(pairs)


def _lp_labels(pairs: DataFrame, max_rounds: int):
    """Min-label propagation: each round every node adopts the smallest
    label in its neighborhood; labels complete in <= diameter rounds.
    ``max_rounds`` bounds the UPDATING rounds — convergence can only be
    observed by one further quiet round, so the loop runs max_rounds+1
    times and a component of diameter exactly max_rounds still
    converges (a review pass caught the boundary: labels complete on
    the last allowed round read as "not converged", making the caller
    redo finished work in star contraction). Returns (labels,
    converged) — a non-converged run falls back to star contraction."""
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .persist()
    )
    labels = _cut(
        edges.select("x").distinct().withColumn("comp", F.col("x"))
    )

    changed = 0
    for _ in range(max_rounds + 1):
        neighbor_min = (
            edges.join(labels, "x")
            .select(F.col("y").alias("x"), "comp")
            .groupBy("x")
            .agg(F.min("comp").alias("ncomp"))
        )
        updated = _cut(
            labels.join(neighbor_min, "x", "left")
            .select(
                "x",
                F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp"),
                (F.coalesce("ncomp", "comp") < F.col("comp")).alias("_changed"),
            )
        )
        changed = updated.filter("_changed").limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    edges.unpersist()
    return labels, changed == 0


@operator("dedup.cluster")
def dedup_cluster(spark: SparkSession, inputs, config, context):
    """Connected components over a near-duplicate pair list: the transitive
    closure the keep-min-neighbor heuristic skips. inputs: [ids, pairs]
    where ids has `id_col` and pairs has columns (a, b).

    One data-driven path (`_propagate_labels`): a pair graph under
    100k rows runs exact union-find on the driver; a larger one runs
    min-label propagation (one cheap shuffle per round; real dup graphs
    are clique-ish, diameter 2-4) with automatic fallback to star
    contraction (Kiveris et al. 2014, O(log^2 n) rounds regardless of
    DIAMETER) if labels are still moving after a bounded number of
    rounds — a chain-shaped dup graph can't outrun it, and a shallow
    graph never pays star's heavier rounds. Neither loop takes a round
    option: propagation runs 8 rounds, and star contraction bounds its
    own rounds from the edge count. Each round cuts its lineage
    (`_cut`) so round N doesn't replay rounds 1..N-1: onto Spark's
    reliable checkpoint when the session has a checkpoint directory
    (``SparkContext.setCheckpointDir`` — an executor lost mid-loop then
    costs one round, not the loop), else ``localCheckpoint``. Where the
    cuts live is a deployment setting of the session, not an option of
    the step.

    Returns {'components': (id, component), 'out': one surviving row per
    component (min id), 'labels': the dup-volume propagated (x, comp)
    frame — feed it to sample.holdout (labels_input=True) so one
    propagation serves both operators}.

    Scale shape: propagation runs ONLY over nodes that appear in an edge —
    isolated nodes (at real dup rates, >99% of the corpus) can never
    change label, so shuffling the full id table every round is pure
    waste; they are re-attached with comp=id by one left join at the end.
    The iterated frame is therefore proportional to the DUP volume, not
    the corpus — at sf0.01 (500 docs) the wall time is unchanged (~3.7s,
    all fixed per-round job overhead), but at a 100TB corpus with ~1%
    dups this is the difference between shuffling TBs per round and MBs.
    """
    ids_df, pairs = inputs[0], inputs[1]
    id_col = config["id_col"]

    labels = _propagate_labels(pairs)

    # Re-attach isolated nodes (comp = own id) with one left join; the
    # propagated label set is dup-volume-sized, so broadcast it.
    propagated = F.broadcast(labels.select(F.col("x").alias(id_col), "comp"))
    components = ids_df.select(id_col).join(
        propagated, id_col, "left"
    ).select(
        id_col, F.coalesce("comp", F.col(id_col)).alias("comp")
    )
    survivors = ids_df.join(
        components.filter(F.col(id_col) == F.col("comp")).select(id_col),
        id_col,
        "left_semi",
    )
    return {"components": components, "out": survivors, "labels": labels}


@operator("dedup.exact")
def dedup_exact(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Exact dedup. `columns`: identity columns (defaults: all).
    `digest=True` dedups on md5 of the concatenated columns so the shuffle
    key is 16 bytes regardless of payload width. `keep_by`: (order
    columns) -> keep-first via window instead of arbitrary row.
    """
    df: DataFrame = inputs[0]
    cols = config.get("columns") or df.columns
    if config.get("keep_by"):
        from pyspark.sql import Window

        from ssis_to_pyspark_agent_spark.operators.setops import sort_cols

        w = Window.partitionBy(*cols).orderBy(*sort_cols(config["keep_by"]))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if config.get("digest", False):
        d = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
        return (
            df.withColumn("_digest", d).dropDuplicates(["_digest"]).drop("_digest")
        )
    return df.dropDuplicates(list(cols))


#: query-param names / prefixes dedup.url strips by default — the
#: session-tracking parameters that make one page look like many URLs
#: (the reason RefinedWeb/FineWeb-class pipelines canonicalize before
#: URL-level dedup).
_URL_TRACKING_NAMES = ("fbclid", "gclid", "msclkid", "ref")
_URL_TRACKING_PREFIXES = ("utm_",)
#: reserved temp columns the stepwise canonicalization lands in
_URL_TMP_COLS = ("_uc_u", "_uc_h0", "_uc_t", "_uc_h", "_uc_path",
                 "_uc_q", "_uc_p")


@operator("dedup.url")
def dedup_url(spark: SparkSession, inputs, config, context) -> DataFrame:
    """URL canonicalization + URL-level dedup — the FIRST dedup stage of
    a raw-web pretraining pipeline (RefinedWeb §3.1, FineWeb: dedupe by
    normalized URL before any text-level pass; pairs with
    `text.html_extract` upstream). Canonical form, each rule built from
    JVM regexp/array expressions (zero shuffle):

      lowercase scheme://authority; strip the scheme-default port
      (:80/:443); strip a leading ``www.``; drop the ``#fragment``;
      drop tracking query params (names in ``strip_params``, prefixes
      in ``strip_param_prefixes`` — defaults above; the NAME match is
      case-insensitive, so 'UTM_SOURCE='/'Fbclid=' are stripped too);
      sort the surviving params. Path + param VALUES are untouched
      (case-significant per RFC 3986). NOTE the default strip list is
      deliberately aggressive: it includes the generic name ``ref``,
      which on a few sites is a meaningful routing param — pass
      ``strip_params=('fbclid', 'gclid', 'msclkid')`` to keep it. Strings without a ``scheme://authority`` head pass
      through these rules as bare path?query; NULL urls canonicalize to
      NULL and form a single group (SQL GROUP BY semantics).

    emit='canon' adds ``canon_col`` only. emit='dedup' (default) keeps
    the min-``id_col`` row per canonical URL; emit='flag' keeps every
    row and adds a boolean ``keep_col``. The survivor choice is a
    groupBy(md5(canon)) + join-back — 16-byte shuffle key regardless of
    URL length, and no window over the hot key (a viral URL's group
    must not serialize into one task; NOTES invariant 17).

    config: url_col, id_col (dedup/flag), emit, canon_col
    ('url_canon'), keep_col ('url_keep'), strip_fragment/strip_www/
    strip_default_port/sort_params (all True), strip_params,
    strip_param_prefixes, assume_unique_ids (True — the fast id-join
    survivor plan REQUIRES unique ids; duplicate ids would silently
    cross-flag between canon groups, so pass False for corpora whose
    ids repeat: the canon-key join-back is row-correct under
    duplicates at the cost of shuffling the corpus on the canon md5).
    Reference has no counterpart — NEW per SURVEY §2.12.
    """
    df: DataFrame = inputs[0]
    url_col = config["url_col"]
    emit = config.get("emit", "dedup")
    if emit not in ("canon", "dedup", "flag"):
        raise ValueError(
            f"dedup.url: emit must be canon|dedup|flag, got {emit!r}"
        )
    canon_col = config.get("canon_col", "url_canon")
    keep_col = config.get("keep_col", "url_keep")
    strip_names = tuple(
        str(n).lower() for n in config.get("strip_params", _URL_TRACKING_NAMES)
    )
    strip_prefixes = tuple(
        str(n).lower()
        for n in config.get("strip_param_prefixes", _URL_TRACKING_PREFIXES)
    )
    # the stepwise canonicalization (below) lands intermediates in fixed
    # temp columns and drops them at the end — an input column with one
    # of these names would be silently overwritten then dropped (ADVICE
    # round 6). Cheap driver-side check, same pattern as the
    # cluster_col-collision guard in clustering.py.
    clash = [c for c in _URL_TMP_COLS if c in df.columns]
    if clash:
        raise ValueError(
            f"dedup.url: input columns {clash} collide with the "
            f"operator's reserved temp columns {_URL_TMP_COLS}; rename "
            "them first"
        )

    def _canonize(src: DataFrame) -> DataFrame:
        """Append ``canon_col`` via STEPWISE temp columns: every
        expensive piece (the head regex, the tail substring, the param
        array) lands in its own projection exactly once and later
        references are cheap attributes. A single nested expression
        tree re-evaluates shared pieces per reference — the when()
        port/www strips reference their input 3-4x each and NEST, so
        the inline form re-ran the head regex dozens of times per row
        (profiled at 2M rows; SPARK-36718 keeps stepwise projections
        from being collapsed back when that would duplicate expensive
        expressions)."""
        t = src.withColumn("_uc_u", F.trim(F.col(url_col)))
        t = t.withColumn(
            "_uc_h0",
            F.regexp_extract(F.col("_uc_u"), r"^([^:/?#]+://[^/?#]*)", 1),
        )
        t = t.withColumn(
            "_uc_t",
            F.col("_uc_u").substr(
                F.length("_uc_h0") + 1, F.length("_uc_u")
            ),
        )
        t = t.withColumn("_uc_h", F.lower(F.col("_uc_h0")))
        h = F.col("_uc_h")
        if config.get("strip_default_port", True):
            # startswith/endswith + substr instead of an anchored
            # regexp_replace: same whole-string semantics, plain JVM
            # string ops on an attribute reference
            for pfx, sfx in (("http://", ":80"), ("https://", ":443")):
                t = t.withColumn(
                    "_uc_h",
                    F.when(
                        h.startswith(pfx) & h.endswith(sfx),
                        h.substr(F.lit(1), F.length(h) - len(sfx)),
                    ).otherwise(h),
                )
        if config.get("strip_www", True):
            for scheme in ("http://", "https://"):
                t = t.withColumn(
                    "_uc_h",
                    F.when(
                        h.startswith(scheme + "www."),
                        F.concat(
                            F.lit(scheme),
                            h.substr(F.lit(len(scheme) + 5), F.length(h)),
                        ),
                    ).otherwise(h),
                )
        # path/query stop at '#' regardless — the fragment is carried as
        # its own piece so strip_fragment=False genuinely preserves it (a
        # review pass caught the first cut silently dropping it)
        tail = F.col("_uc_t")
        t = t.withColumn(
            "_uc_path", F.regexp_extract(tail, r"^([^?#]*)", 1)
        ).withColumn(
            "_uc_q", F.regexp_extract(tail, r"^[^?#]*\?([^#]*)", 1)
        )

        def _is_tracking(p: Column) -> Column:
            # case-insensitive name match: 'UTM_SOURCE=' / 'Fbclid='
            # must not survive canonicalization (ADVICE round 5);
            # substring_index == regexp_extract(p, '^([^=]*)', 1) for
            # every input ('' -> '', no '=' -> whole string) without a
            # regex walk
            name = F.lower(F.substring_index(p, "=", 1))
            cond = name.isin(*strip_names) if strip_names else F.lit(False)
            for pfx in strip_prefixes:
                cond = cond | name.startswith(pfx)
            return cond

        params = F.filter(
            F.split(F.col("_uc_q"), "&"),
            lambda p: (p != F.lit("")) & ~_is_tracking(p),
        )
        if config.get("sort_params", True):
            params = F.array_sort(params)
        t = t.withColumn("_uc_p", params)
        qstr = F.when(
            F.size("_uc_p") > 0,
            F.concat(F.lit("?"), F.array_join("_uc_p", "&")),
        ).otherwise(F.lit(""))
        frag = (
            F.lit("")
            if config.get("strip_fragment", True)
            else F.regexp_extract(tail, r"(#.*)$", 1)
        )
        canon = F.when(
            F.col("_uc_u").isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat(F.col("_uc_h"), F.col("_uc_path"), qstr, frag))
        return t.withColumn(canon_col, canon).drop(*_URL_TMP_COLS)

    if emit == "canon":
        return _canonize(df)
    id_col = config.get("id_col")
    if not id_col:
        raise ValueError(f"dedup.url: emit={emit!r} requires id_col")
    # Survivor selection (round-6 plan rework): the canonicalization
    # chain is the dominant cost, so it must run as FEW times as
    # possible, and the join-back must not shuffle the corpus on a
    # viral URL's md5 string. ONE aggregation branch (pruned to
    # id + url) evaluates the chain and reduces to the min-id-per-canon
    # SET (16-byte NULL-safe group key; partial agg collapses a viral
    # URL map-side); the output side then joins on the UNIQUE bigint id
    # — skew-free by construction. emit='dedup' canonicalizes AFTER the
    # semi-join, so only survivors pay the chain a second time;
    # emit='flag' must emit canon for every row (2 chain passes total,
    # the output contract). The id-join REQUIRES unique ids (id in
    # min-set <=> id is the min of its own group) — duplicate ids would
    # SILENTLY cross-flag between groups, so the assumption is a named
    # config: assume_unique_ids=False (for corpora whose ids genuinely
    # repeat) switches to the canon-key join-back, row-correct under
    # duplicates at the cost of shuffling the corpus on the canon md5
    # (the pre-round-6 plan; a viral URL then rides AQE skew-split).
    # Measured at 20M rows / 30% viral: PLANS.md round-6 probes table.
    keyed_mins = (
        _canonize(df.select(F.col(id_col), F.col(url_col)))
        .select(
            F.col(id_col).alias("_umin"),
            F.coalesce(F.md5(F.col(canon_col)), F.lit("\x00null"))
            .alias("_ukey"),
        )
        .groupBy("_ukey")
        .agg(F.min("_umin").alias("_umin"))
    )
    if not config.get("assume_unique_ids", True):
        keyed = _canonize(df).withColumn(
            "_ukey",
            F.coalesce(F.md5(F.col(canon_col)), F.lit("\x00null")),
        )
        flagged = (
            keyed.join(keyed_mins, "_ukey")
            .withColumn(keep_col, F.col(id_col) == F.col("_umin"))
            .drop("_ukey", "_umin")
        )
        if emit == "flag":
            return flagged
        return flagged.filter(F.col(keep_col)).drop(keep_col)
    mins = keyed_mins.select("_umin")
    if emit == "flag":
        # an input that already carries keep_col (e.g. re-running the
        # operator over previously flagged output) would make the marks
        # join emit a duplicate column name and the F.col(keep_col)
        # reference below fail on ambiguity — drop it first, matching
        # the implicit-overwrite semantics the pre-round-6 withColumn
        # form had (ADVICE round 6)
        out = _canonize(df.drop(keep_col))
        marks = mins.select(
            F.col("_umin").alias(id_col), F.lit(True).alias(keep_col)
        )
        return (
            out.join(marks, id_col, "left")
            .withColumn(keep_col, F.coalesce(F.col(keep_col), F.lit(False)))
            .select(*out.columns, keep_col)  # keep the input column order
        )
    survivors = df.join(
        mins.select(F.col("_umin").alias(id_col)), id_col, "left_semi"
    ).select(*df.columns)
    return _canonize(survivors)


def _auto_bands(num_hashes: int, threshold: float) -> int:
    """Match LSH banding to the Jaccard threshold.

    The s-curve midpoint (1/b)^(1/r) is where a pair's candidate
    probability crosses 50%. Pick the divisor pair with the largest
    midpoint not meaningfully ABOVE the threshold (0.02 tolerance: a
    midpoint within it counts as "at" the threshold). A midpoint well
    above the threshold misses true pairs; one far below floods verify —
    measured 7.7x slower with 32x4 at a 0.7 threshold (NOTES.md), where
    the right answer is 16x8 (midpoint 0.707). 0.8 -> 16x8; 0.9 -> 8x16.
    """
    candidates = [b for b in (4, 8, 16, 32, 64) if num_hashes % b == 0]

    def midpoint(b: int) -> float:
        return (1.0 / b) ** (b / num_hashes)

    allowed = [b for b in candidates if midpoint(b) <= threshold + 0.02]
    return max(allowed, key=midpoint) if allowed else min(candidates, key=midpoint)


@operator("dedup.minhash")
def dedup_minhash(spark: SparkSession, inputs, config, context):
    """MinHash + LSH near-dedup over a text column.

    config: id_col, text_col, shingle_k (word shingles, default 3),
    num_hashes (default 128), bands (default 16 -> rows=num_hashes/bands),
    threshold (exact-Jaccard verification, default 0.8),
    return_pairs (True -> {'out':deduped, 'pairs':candidate pairs}).

    Plan (scale-shaped):
    1. ONE narrow pass: shingle -> hash strings once -> 128-fn signature ->
       band hashes; persisted (the self-join would otherwise recompute the
       whole signature pipeline for BOTH sides).
    2. Band explode carries only (_id, band, band_hash) — 3 small columns
       through the one shuffle; shingle arrays do NOT ride the explode.
    3. Self-join on (band, hash), distinct candidate pairs.
    4. Exact-Jaccard verify joins the (persisted) shingle arrays back in by
       id — 2 slim joins on candidates only.
    5. Survivors = anti-join of dominated ids.
    """
    df: DataFrame = inputs[0]
    id_col, text_col = config["id_col"], config["text_col"]
    k = config.get("shingle_k", 3)
    num_hashes = config.get("num_hashes", 128)
    threshold = config.get("threshold", 0.8)
    bands = config.get("bands")
    if bands is None:
        bands = _auto_bands(num_hashes, threshold)
    rows = num_hashes // bands
    seed = config.get("seed", 42)

    # Stage 1: shingle + hash every shingle string. NOT persisted: _hs
    # feeds mapInPandas exactly once, the candidate frame downstream is
    # persisted anyway, and the only re-reader is the verify join, which
    # recomputes shingles for the (tiny, semi-filtered) candidate set
    # from a second pruned scan. Measured at sf0.1: 4.1-5.8s -> 2.5s
    # steady-state, and it removes the memory-∝-corpus cache that was
    # the listed 100TB risk (PLANS.md known-costs).
    # Signature compute is CPU-bound: spread it across the cluster even when
    # the input is a handful of parquet splits.
    src = _spread(spark, df)
    base, band_frame = _signature_bands(
        src, id_col, text_col, k, bands, rows, seed
    )
    banded = band_frame.select(
        "_id", F.posexplode("_bh").alias("_band", "_bh")
    )

    # Candidate pairs via bucket grouping, NOT a self-join: ONE shuffle on
    # (band, hash) + a narrow combination explode, vs the self-join's two
    # full shuffles + sort of the banded table (measured 52s -> seconds at
    # 8M banded rows). _BUCKET_CAP guards the quadratic blowup of a
    # degenerate hot bucket (boilerplate-heavy corpora).
    # The candidate set is consumed by cand_ids, the broadcast, the
    # verify join and the survivor anti-join; `_bucket_pairs` returns it
    # persisted and counted (banded is uncached, so it auto-persists),
    # and this operator owns and releases that cache.
    cand = _bucket_pairs(banded, ["_band", "_bh"], _BUCKET_CAP)

    # Verification joins the shingle arrays to the (small) candidate set
    # via broadcast — the arrays never shuffle. Assumption: candidates fit
    # the driver (bounded by true-dup volume x LSH precision); set
    # verify_broadcast=False for degenerate corpora.
    verify_bc = config.get("verify_broadcast", True)
    sh = base.select("_id", "_sh")
    if verify_bc:
        cand_ids = (
            cand.select(F.col("a").alias("_id"))
            .unionByName(cand.select(F.col("b").alias("_id")))
            .distinct()
        )
        # semi-filter the RAW source by candidate id BEFORE shingling.
        # Catalyst will not hoist the semi-join above the shingle
        # Project on its own (verified in the physical plan), so
        # spelling it out is the difference between an O(|candidates|)
        # and an O(corpus) recompute.
        pruned = src.join(
            F.broadcast(cand_ids.select(F.col("_id").alias(id_col))),
            id_col, "left_semi",
        )
        sh = pruned.select(
            F.col(id_col).alias("_id"),
            _shingles(F.col(text_col), k).alias("_sh"),
        )
        # sh feeds BOTH sides of the verify join; unpersisted, the plan
        # duplicates the whole subtree — the corpus-wide semi-probe, the
        # candidate shingle pass and the cand_ids distinct each run twice
        # (r11 plan audit: two identical Exchange+semi-join subtrees, one
        # per side). Candidate-sized by the same verify_broadcast
        # assumption, so caching it is bounded; released after the pairs
        # materialization below. NEVER persisted when verify_broadcast is
        # False — there sh is the corpus-sized shingle frame.
        sh = sh.persist()
    # the hint wraps a new plan node, so `cand` itself stays the handle
    # that unpersist() matches against the cache
    pairs = (
        (F.broadcast(cand) if verify_bc else cand)
        .join(sh.select(F.col("_id").alias("a"), F.col("_sh").alias("sha")), "a")
        .join(sh.select(F.col("_id").alias("b"), F.col("_sh").alias("shb")), "b")
        .withColumn("jaccard", _jaccard(F.col("sha"), F.col("shb")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .persist()  # consumed by the survivor anti-join AND the pairs port
    )
    # one action fills pairs (and sh, whose two join sides read the
    # cache); materialized `pairs` then carries the result for both
    # remaining consumers, so the candidate cache and sh are released
    # here on either verify path instead of leaking per invocation
    pairs.count()
    if verify_bc:
        sh.unpersist()
    cand.unpersist()
    # broadcast is safe exactly when verify_broadcast is: the dominated
    # set is a sub-projection of the candidate frame broadcast above
    out = _keep_min_survivors(df, id_col, pairs, broadcast=verify_bc)
    if config.get("return_pairs"):
        return {"out": out, "pairs": pairs}
    return out


@operator("dedup.simhash")
def dedup_simhash(spark: SparkSession, inputs, config, context):
    """SimHash near-dedup: 60-bit fingerprint = sign of per-bit sums of
    token hashes; near-dup = hamming distance <= max_distance.

    Candidate generation via the pigeonhole principle: split the bits into
    (max_distance+1) chunks; any pair within distance d shares at least one
    exact chunk -> equi-join on (chunk_id, chunk_value), verify with
    bit_count(a XOR b).
    """
    df: DataFrame = inputs[0]
    id_col, text_col = config["id_col"], config["text_col"]
    max_d = config.get("max_distance", 3)
    n_chunks = max_d + 1

    n_bits = 60  # divisible chunking headroom, avoids the sign bit of long
    df = _spread(spark, df)
    tokens = _words(F.col(text_col))

    # hash_fn='md5' is the engine-neutral variant: 15 hex chars of md5 =
    # 60 bits, computable identically in DuckDB (CAST('0x'||substr(md5,1,15)
    # AS BIGINT)) so the whole fingerprint is oracle-checkable. xxhash64
    # (default) is the fast JVM path for production corpora.
    if config.get("hash_fn", "xxhash64") == "md5":
        _tok_hash = _md5_60bit
    else:
        def _tok_hash(t):
            # wrapped: F.xxhash64's *cols signature can't be passed to
            # higher-order functions (F.transform) directly
            return F.xxhash64(t)

    # Arrow-batched fingerprints: hash each token ONCE JVM-side, then one
    # (tokens x 60) bit-matrix vote per doc in numpy. A Catalyst
    # formulation is the copy-on-write array-accumulator trap (a fresh
    # 60-elem vote array per token) plus 60 per-bit re-evaluations of the
    # token hash; measured 4.1s -> ~2s for q33 at sf0.1.
    import numpy as np
    import pandas as pd

    shifts = np.arange(n_bits, dtype=np.uint64)
    id_type = df.schema[id_col].dataType.simpleString()
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.transform(tokens, _tok_hash).alias("_hs"),
    )

    def gen(batches):
        for pdf in batches:
            fps = []
            for hs in pdf["_hs"]:
                h = np.asarray(hs, dtype=np.int64).view(np.uint64)
                bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1))
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                fp = ((votes > 0).astype(np.uint64) << shifts).sum()
                fps.append(np.int64(fp))
            yield pd.DataFrame({"_id": pdf["_id"], "_sh": fps})

    base = tok.mapInPandas(gen, schema=f"_id {id_type}, _sh bigint")

    chunk_bits = n_bits // n_chunks
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("_sh"), i * chunk_bits).bitwiseAND(
                F.lit((1 << chunk_bits) - 1)
            )
            for i in range(n_chunks)
        ]
    )
    base = base.persist()  # banded explode + verify both read it
    banded = base.select("_id", F.posexplode(chunks).alias("_chunk", "_cv"))
    # auto_persist=False: banded is cheap chunk slicing over the
    # ALREADY-persisted fingerprint base — caching it again would
    # double-store (review finding, round 6)
    cand = _bucket_pairs(
        banded, ["_chunk", "_cv"], _BUCKET_CAP, auto_persist=False,
    ).persist()
    fp = base.select("_id", "_sh")
    pairs = (
        cand.join(fp.select(F.col("_id").alias("a"), F.col("_sh").alias("fa")), "a")
        .join(fp.select(F.col("_id").alias("b"), F.col("_sh").alias("fb")), "b")
        .select(
            "a", "b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_d)
        .persist()  # consumed by the survivor anti-join AND the pairs port
    )
    # materialize the verified pairs once, then release the fingerprint
    # and candidate caches, as dedup.minhash does (NOTES invariant 13)
    pairs.count()
    cand.unpersist()
    base.unpersist()
    out = _keep_min_survivors(df, id_col, pairs)
    if config.get("return_pairs"):
        return {"out": out, "pairs": pairs}
    return out


#: dedup.ngram_jaccard runs its prefix-order skew probe only at or above
#: this many docs (below it every order is fast; round 8 lowered it from
#: 400k after the q31 sf1 rig ran 2x slower on 'hash').
_NGRAM_DF_MIN_DOCS = 20_000
#: top-shingle document frequency (sampled) at which the probe picks the
#: DF prefix order: uniform corpora measure ~1e-4, Zipf+boilerplate ~1.0.
_NGRAM_HOT_DF = 0.01


@operator("dedup.ngram_jaccard")
def dedup_ngram_jaccard(spark: SparkSession, inputs, config, context):
    """Exact n-gram Jaccard near-dedup with single-permutation MinHash
    blocking: candidates = pairs sharing their minimum shingle hash
    (cheap, deterministic), verified with exact Jaccard. Use
    dedup.minhash for recall at scale; this variant is exact-verify with
    the lightest possible candidate stage.

    Candidates are prefix-filtered (PPJoin/AllPairs), and the prefix
    order is chosen from the data: 'df' orders each doc's prefix by
    ascending corpus document frequency (classic AllPairs) — output
    identical, one extra DF pass — and is the scale-safe order on
    Zipfian/boilerplate-heavy corpora, where hash-ordered prefixes
    admit hot shingles and each becomes a quadratic (block, token)
    enumeration key (measured 277s -> 94s at 1M skewed docs, PLANS.md).
    A probe of corpus size + top-shingle document frequency picks 'df'
    only when the corpus is non-tiny (>= 20k docs, `_NGRAM_DF_MIN_DOCS`
    — below it everything is fast and the probe can't pay for itself)
    AND skewed (top shingle in >= 1% of sampled docs, `_NGRAM_HOT_DF`;
    uniform corpora measure the DF pass as a net loss at any size),
    else 'hash'. Probe cost caveat: the probe counts and samples the
    RAW INPUT, which is metadata-cheap only when that input is a source
    scan — fed from an expensive uncached subplan (joins, transforms),
    the count and the sample each re-run that subplan before the main
    pass; persist the input first. The chosen order is recorded in
    ``context['_ngram_prefix_order']`` (and, inside a pipeline, under
    ``_ngram_prefix_order:<step>`` — the bare key is
    last-writer-wins)."""
    df: DataFrame = inputs[0]
    id_col, text_col = config["id_col"], config["text_col"]
    k = config.get("shingle_k", 3)
    threshold = config.get("threshold", 0.8)
    n_blocks = config.get("blocks", 2)  # use the n smallest shingle hashes

    # the shingle+hash+sort pass below is materialized by the persist and
    # is pure CPU — spread a narrow input across the cluster first or a
    # single parquet split computes every signature on one core
    # (measured at sf0.1: base stage 4.0s -> 0.6s warm, output identical)
    src = _spread(spark, df)

    # Shingles are hashed ONCE per doc to sorted int64 arrays and the
    # per-pair verify intersects longs, not strings: |A∩B| is unchanged
    # as long as xxhash64 is injective on the corpus's distinct shingles
    # (the same standing assumption minhash/exact-digest dedup already
    # make; the sf0.01 oracle re-checks the output values every round).
    # Measured at sf0.1: 30.8s -> 13.8s for the identical 256 pairs.
    sh = F.array_sort(
        F.transform(_shingles(F.col(text_col), k), lambda s: F.xxhash64(s))
    )
    if block_exprs := config.get("block_exprs"):
        # engine-neutral multi-probe blocking: each row lands in every
        # listed block (e.g. length bucket and length bucket + 1, so pairs
        # within one bucket width always share a block). Fully
        # SQL-expressible for the oracle, unlike minhash blocking.
        cols = [
            e if isinstance(e, Column) else F.expr(e) for e in block_exprs
        ]
        base = src.select(
            F.col(id_col).alias("_id"),
            sh.alias("_sh"),
            F.array(*[c.cast("long") for c in cols]).alias("_blocks"),
        )
        blocked = base.select(
            "_id", "_sh", F.col("_blocks").alias("_bs"),
            F.explode("_blocks").alias("_block"),
        )
    elif block_by := config.get("block_by"):
        # engine-neutral blocking on declared columns (e.g. lang+source):
        # semantics are then fully SQL-expressible for the oracle
        base = src.select(
            F.col(id_col).alias("_id"),
            sh.alias("_sh"),
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in block_by]).alias(
                "_block"
            ),
        )
        blocked = base.select(
            "_id", "_sh", F.array("_block").alias("_bs"), "_block"
        )
    else:
        base = src.select(F.col(id_col).alias("_id"), sh.alias("_sh")).withColumn(
            "_mins", F.slice(F.col("_sh"), 1, n_blocks)
        )
        blocked = base.select(
            "_id", "_sh", F.col("_mins").alias("_bs"),
            F.explode("_mins").alias("_block"),
        )
    base = base.persist()  # blocked ids + the verify join both read it
    # shingle-count column: the size-ratio prefilter below is a cheap
    # scalar comparison that runs in the candidate join, BEFORE any
    # intersection work
    blocked = blocked.withColumn("_n", F.size("_sh"))
    # Canonical-block dedup: multi-probe blocking (adjacent length
    # buckets, n min-hashes) matches a pair once per SHARED block, so
    # the raw join emits duplicate (a, b, token) rows — accept a match
    # only in the pair's smallest common block. Output-identical (every
    # common block sees the same matches); the raw join shrinks by the
    # average shared-block count, and it makes per-pair aggregation
    # below count each shared prefix token exactly once.
    canonical_block = F.col("l._block") == F.array_min(
        F.array_intersect(F.col("l._bs"), F.col("r._bs"))
    )
    # PPJoin/AllPairs prefix filtering (Bayardo et al. 2007, public):
    # under ANY fixed total order of shingles, a pair with
    # J(A,B) >= t must share at least one element among each side's
    # first |X| - ceil(t*|X|) + 1 elements (else the overlap is
    # provably below t*|X|). `_sh` is already hash-sorted, so the
    # prefix is a slice; candidates then join on (block, prefix
    # token) — an EQUI key that shrinks in-block candidate counts
    # from occupancy^2 to shared-rare-token pairs. Exact-preserving:
    # it can only remove pairs the verify would reject, so oracles
    # need no mirror clause. The 1e-9 guard keeps a non-representable
    # threshold (0.7*10 -> 7.000000000000001) from OVER-shortening
    # the prefix, which would silently lose valid pairs.
    plen = (
        F.col("_n")
        - F.ceil(F.col("_n") * F.lit(float(threshold)) - F.lit(1e-9))
        + 1
    ).cast("int")
    # The prefix order is chosen from the data (the scale-safe order
    # must not be opt-in). The DF pass pays on skewed corpora and
    # costs on small/uniform ones, so probe both cheaply:
    #   1. count the docs on the RAW INPUT, not `base` — a
    #     parquet-source count is metadata-cheap, and crucially
    #     it leaves the shingle cache UNMATERIALIZED. Counting
    #     `base` pre-fills the cache, whose accurate (big)
    #     array-column stats then flip the candidate block join
    #     off its broadcast strategy: measured 2x on the whole
    #     pass at 50k x ~8KB docs (49-62s vs 25.7s, PLANS.md
    #     r5) while the count itself was only 5s. (A
    #     limit-probe on base was 3.8x worse still: CollectLimit
    #     runs the shingle pass on few partitions serially and
    #     leaves the cache partial.) Under _NGRAM_DF_MIN_DOCS the
    #     probe (and the DF pass) can't pay for itself — tiny
    #     corpora are fast either way: 'hash'. The floor was
    #     400k through round 7, which silently forced 'hash' on
    #     mid-size SKEWED corpora: the q31 sf1 rig (50k docs,
    #     top shingle in 27% of docs) enumerated 49M candidate
    #     pairs for 259 true ones under hash order — 2.0x slower
    #     than 'df' (35s vs 18s warm, round 8). 20k is the new
    #     floor: below it the whole pass is sub-second-to-few-
    #     seconds at any skew; above it a skewed corpus's
    #     quadratic term already dominates the probe's one
    #     sample-sized job. (A mid-size corpus that probes and
    #     still picks 'hash' pays only that probe — the
    #     round-5 "DF net loss at 200k" measurement was the DF
    #     PASS, not the probe, and the hot-df gate still keeps
    #     the DF pass off uniform corpora of any size.)
    #   2. else, estimate the hottest shingle's document
    #      frequency on a deterministic md5 doc-sample; if the
    #      top shingle reaches _NGRAM_HOT_DF of sampled docs,
    #      hash-order prefixes would admit it into ~plen/|sh|
    #      of all prefixes, each a quadratic (block, token)
    #      enumeration key: 'df'. Uniform corpora measure
    #      top-df ~1e-4, Zipf+boilerplate ~1.0 — the 0.01
    #      default sits well between (q31's sf0.1 corpus: 0.005
    #      -> 'hash'; its 10x rig: 0.27 -> 'df').
    # Either choice yields the IDENTICAL pair set (the prefix
    # bound holds under any fixed total order); only the plan
    # changes, so oracles are unaffected.
    n_docs = df.count()
    # n_docs == 0 short-circuits regardless of the floor (a
    # floor <= 0 would otherwise divide by zero in the sample
    # fraction; the pair set is empty anyway)
    if n_docs < _NGRAM_DF_MIN_DOCS or n_docs == 0:
        prefix_order = "hash"
    else:
        frac = min(1.0, 200_000 / n_docs)
        # the sample SHINGLES ITS OWN SLICE of the raw input
        # (filter pushed to the scan) instead of riding `base`:
        # reading the cache would materialize ALL of it before
        # the main pass plans — the same stats hazard as (1) —
        # and re-shingling ~200k sampled docs is cheaper than
        # filling a corpus-sized array cache
        samp = df
        if frac < 1.0:
            samp = df.filter(
                _md5_60bit(F.col(id_col).cast("string"))
                < F.lit(int(frac * float(1 << 60)))
            )
        top_df = (
            samp.select(F.explode(sh).alias("_t"))
            .groupBy("_t")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.max("_c"))
            .collect()[0][0]
        ) or 0
        n_samp = max(frac * n_docs, 1.0)
        prefix_order = (
            "df" if top_df / n_samp >= _NGRAM_HOT_DF else "hash"
        )
    # record the chosen order; the bare key is last-writer-wins, so
    # inside a pipeline the runner's `_current_step` also namespaces
    # it — same pattern as the pack histogram telemetry
    context["_ngram_prefix_order"] = prefix_order
    step = context.get("_current_step")
    if step:
        context[f"_ngram_prefix_order:{step}"] = prefix_order
    if prefix_order == "df":
        # AllPairs frequency ordering (Bayardo et al. 2007): the
        # prefix bound holds under ANY fixed total order, and
        # ordering by ascending corpus document frequency puts the
        # RAREST tokens in every prefix — under a Zipfian corpus
        # the hash order (effectively random) lets mid-frequency
        # tokens into prefixes, and each such token is a hot
        # (block, token) join key enumerating occupancy^2
        # candidates. Costs one corpus DF pass (explode + groupBy +
        # join + per-doc row_number) — opt in when the corpus is
        # skewed; on uniform corpora hash order is already rare.
        from pyspark.sql import Window as _W

        occ = base.select("_id", F.explode("_sh").alias("_t"))
        # df >= 2 rows only — "absence implies df == 1", the same
        # hapax inference text.ngram_novelty / lm_score use: on
        # natural corpora most shingles are singletons, so the
        # join-back shrinks from |distinct shingles| to |repeated
        # shingles| (often 10x+) and the rank order is unchanged
        # (coalesce restores the exact df=1 the dropped rows had)
        dfreq = (
            occ.groupBy("_t")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") >= 2)
        )
        rk = F.row_number().over(
            _W.partitionBy("_id").orderBy("_df", "_t")
        )
        pref = (
            occ.join(dfreq, "_t", "left")
            .withColumn("_df", F.coalesce(F.col("_df"), F.lit(1)))
            .join(
                base.select("_id", F.size("_sh").alias("_n")), "_id"
            )
            .withColumn("_rk", rk)
            # same `plen` bound (incl. the 1e-9 epsilon guard) as the
            # hash-order slice — one definition, two orders
            .filter(F.col("_rk") <= plen)
            # a df==1 prefix token can never equi-join another doc's
            # prefix, and a TRUE pair's guaranteed shared prefix
            # token has df >= 2 with its rank unchanged — dropping
            # the singleton rows is exact-preserving and cuts the
            # self-join input to the repeated-token rows
            .filter(F.col("_df") >= 2)
            .select("_id", F.col("_t").alias("_tok"), "_rk")
        )
        blocked = blocked.select("_id", "_n", "_bs", "_block").join(
            pref, "_id"
        )
    else:
        # posexplode, not explode: the 0-based prefix position IS the
        # token's rank in the doc's full hash-sorted array (the slice
        # starts at 1), and the rank feeds the suffix bound below
        blocked = blocked.select(
            "_id", "_n", "_bs", "_block",
            F.posexplode(F.slice("_sh", F.lit(1), plen)).alias(
                "_pos", "_tok"
            ),
        ).withColumn("_rk", F.col("_pos") + 1).drop("_pos")
    l, r = blocked.alias("l"), blocked.alias("r")
    # Exact-preserving prefilter: J(A,B) <= min|A|,|B| / max|A|,|B|, so a
    # pair whose distinct-shingle counts are too lopsided can never reach
    # the threshold — drop it before computing the intersection. Output is
    # provably unchanged (oracles need no mirror clause; the epsilon keeps
    # a non-representable threshold from dropping an exactly-at-threshold
    # pair). In big uniform blocks this is the difference between
    # intersecting every in-block pair and only the size-compatible ones.
    size_ok = F.least(F.col("l._n"), F.col("r._n")) >= (
        F.lit(threshold) * F.greatest(F.col("l._n"), F.col("r._n")) - F.lit(1e-9)
    )
    # Candidates travel as (a, b) IDS ONLY and are deduped BEFORE the
    # verify: multi-probe blocking emits most true pairs once per shared
    # block (usually 2), so intersecting before dedup would do the O(|A|)
    # work twice per pair. The verify then joins each side's hashed
    # shingle array back in — shuffling |docs| arrays, never |pairs|.
    joined = l.join(
        r,
        (F.col("l._block") == F.col("r._block"))
        & (F.col("l._tok") == F.col("r._tok"))
        & canonical_block & (F.col("l._id") < F.col("r._id")) & size_ok,
    )
    # Suffix bound (the positional/suffix-filtering idea of PPJoin,
    # Xiao et al. 2008 — public): aggregate the shared-prefix-token
    # rows per pair rather than deduplicating them. With both shingle
    # arrays sorted by ONE global total order (hash value, or
    # (df, token) for the 'df' order), let s_c be the largest of
    # the c shared prefix tokens, at ranks (ma, mb). Every OTHER
    # common token u sits in at least one side's suffix, so its
    # rank there exceeds that side's prefix end >= that side's rank
    # of s_c — i.e. u > s_c in the global order, hence u appears
    # after s_c in BOTH sorted arrays. Therefore
    #   |A ∩ B| <= c + min(|A| - ma, |B| - mb),
    # and J >= t needs |A ∩ B| >= t/(1+t) * (|A|+|B|). Pairs whose
    # bound falls short can only be verify-rejects — dropping them
    # is exact-preserving (oracles need no mirror clause; epsilon
    # as in plen). It matters most at low thresholds, where the
    # prefix alone is weak (t=0.5 keeps half of each doc as
    # prefix): measured on the 150k-doc 30x rig at t=0.5, verify
    # input 198M -> 79M pairs and raw join output 409M -> 305M
    # (canonical_block), q31's dd stage 160 -> 128s, pair set
    # identical (297). The per-pair groupBy costs the same shuffle
    # as a dropDuplicates, so the bound's cut is pure win. (A per-row POSITIONAL filter — min-rank variant,
    # provably keeps each true pair's minimal shared token — was
    # measured too: it halves pre-shuffle rows but its distinct
    # candidates are 114M vs this bound's 79M, and the two filters
    # don't compose exactly; rejected.) The count(*) per-token
    # aggregation is valid because canonical_block makes
    # (a, b, token) rows unique; a user block_exprs list that
    # yields duplicate block values would only inflate c, which
    # LOOSENS the bound — still exact-preserving.
    alpha = (
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("_na") + F.col("_nb"))
        - F.lit(1e-9)
    )
    cand = (
        joined.select(
            F.col("l._id").alias("a"), F.col("r._id").alias("b"),
            F.col("l._n").alias("_na"), F.col("r._n").alias("_nb"),
            F.col("l._rk").alias("_ra"), F.col("r._rk").alias("_rb"),
        )
        .groupBy("a", "b", "_na", "_nb")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.max("_ra").alias("_ma"),
            F.max("_rb").alias("_mb"),
        )
        .filter(
            F.col("_c")
            + F.least(
                F.col("_na") - F.col("_ma"), F.col("_nb") - F.col("_mb")
            )
            >= alpha
        )
        .select("a", "b")
    )
    fp = base.select("_id", "_sh")
    pairs = (
        cand.join(fp.select(F.col("_id").alias("a"), F.col("_sh").alias("sa")), "a")
        .join(fp.select(F.col("_id").alias("b"), F.col("_sh").alias("sb")), "b")
        .select("a", "b", _jaccard(F.col("sa"), F.col("sb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # the pairs frame is consumed by the survivor anti-join AND (with
    # return_pairs) by the caller's port — and it is expensive (blocked
    # candidate intersection); persist AND materialize it here so the
    # corpus-sized hashed-shingle cache (`base`) can be released
    # immediately instead of leaking a cached relation per invocation
    pairs = pairs.persist()
    pairs.count()
    base.unpersist()
    out = _keep_min_survivors(df, id_col, pairs)
    if config.get("return_pairs"):
        return {"out": out, "pairs": pairs}
    return out


#: dedup.embedding's auto-sized LSH uses at most this many tables
_EMBED_MAX_TABLES = 8


@operator("dedup.embedding")
def dedup_embedding(spark: SparkSession, inputs, config, context):
    """Embedding-cosine near-dedup: drop rows whose embedding has cosine
    similarity >= threshold with a smaller-id row.

    Candidate stage: random-hyperplane LSH signs (seeded, driver-generated
    constants) bucket the vectors; pairs sharing a bucket are verified with
    exact cosine (`_pair_cosine_frame`). `brute_force=True` skips LSH
    (baseline / small inputs, capped at `brute_force_cap` rows): every
    pair is scored by the numpy cosine kernel against the collected
    input. With `quantize` the cosines are exact and equal on both paths.
    """
    df: DataFrame = inputs[0]
    id_col, vec_col = config["id_col"], config["vec_col"]
    threshold = config.get("threshold", 0.95)

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if config.get("brute_force"):
        # Brute force is the small-input exact baseline: it collects the
        # id+vector matrix to the driver and scores every Arrow batch of
        # the input against it (`_cos_pairs`, one numpy matmul per
        # block), O(n^2). The bounded collect is also the cap probe: it
        # fails fast with a pointer to the LSH path instead of pulling
        # an unbounded input onto the driver.
        import numpy as np

        from ssis_to_pyspark_agent_spark.operators.similarity import (
            _cos_pairs,
            _vecnorm,
        )

        cap = config.get("brute_force_cap", 100_000)
        rows = base.limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"dedup.embedding brute_force is the exact small-input "
                f"baseline and is capped at {cap} rows (override with "
                f"brute_force_cap). For larger corpora drop brute_force "
                f"and use the hyperplane-LSH candidate path, which "
                f"bucket-joins instead of materializing all pairs."
            )
        quant = config.get("quantize")
        all_ids = np.asarray([r["_id"] for r in rows])
        full = _vecnorm([r["_v"] for r in rows], quant) if rows else None

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield _cos_pairs(
                        pdf["_id"].to_numpy(), _vecnorm(pdf["_v"], quant),
                        all_ids, full, threshold,
                    )

        id_t = base.schema["_id"].dataType.simpleString()
        pairs = base.mapInPandas(gen, schema=f"a {id_t}, b {id_t}, cosine double")
        out = _keep_min_survivors(df, id_col, pairs)
        if config.get("return_pairs"):
            return {"out": out, "pairs": pairs}
        return out

    from ssis_to_pyspark_agent_spark.operators.similarity import (
        _bucket_frame,
        _lsh_keys,
        _pair_cosine_frame,
    )

    n_bits, n_tables = config.get("lsh_bits"), config.get("lsh_tables")
    if n_bits is None or n_tables is None:
        # Auto-size to the corpus: fixed bits are a silent recall/cost
        # trap — 8 bits over 200k vectors put ~780 rows in each of 256
        # buckets, so the bucket cap truncated candidate generation to
        # 4/2000 planted dups found in 69s; 16 bits / 8 tables found
        # 2000/2000 in 13s on the same data. bits targets ~8
        # rows/bucket; tables from the standard hyperplane-LSH recall
        # bound (p = 1 - acos(threshold)/pi per bit) for a pair AT the
        # threshold. Costs one count() of the input — parameter
        # choice, not plan replay, so the adaptive-count objection to
        # impl switching (NOTES.md) doesn't apply.
        import math

        n = df.count()
        p = 1 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
        auto_bits = min(18, max(8, math.ceil(math.log2(max(n, 16) / 8))))
        pt = p ** auto_bits
        auto_tables = (
            1 if pt >= 1.0
            else min(_EMBED_MAX_TABLES,
                     max(1, math.ceil(math.log(0.05) / math.log(1 - pt))))
        )
        n_bits = n_bits if n_bits is not None else auto_bits
        n_tables = n_tables if n_tables is not None else auto_tables
    base = base.persist()  # bucket explode + vector verify both read it
    bucketed = _bucket_frame(
        base, "_id", "_v", _lsh_keys(n_tables, n_bits, config.get("seed", 42))
    )
    # returned persisted and counted (bucketed is uncached, so
    # `_bucket_pairs` auto-persists); released after the verify
    ids = _bucket_pairs(bucketed, ["_key"], _BUCKET_CAP)
    cand = ids.join(
        base.select(F.col("_id").alias("a"), F.col("_v").alias("va")), "a"
    ).join(base.select(F.col("_id").alias("b"), F.col("_v").alias("vb")), "b")
    pairs = _pair_cosine_frame(
        cand, "va", "vb", ["a", "b"], config.get("quantize")
    ).filter(F.col("cosine") >= threshold)
    # materialize the verified pairs once (two consumers), then release
    # the corpus-sized caches
    pairs = pairs.persist()
    pairs.count()
    base.unpersist()
    ids.unpersist()
    out = _keep_min_survivors(df, id_col, pairs)
    if config.get("return_pairs"):
        return {"out": out, "pairs": pairs}
    return out


#: dedup.spans 'auto' goes eager (persist + count the dup-gram set and
#: the per-doc aggregate) only at or above this many input docs (see
#: the size-gate comment in the operator).
_SPANS_EAGER_MIN_DOCS = 200_000
#: row bound under which eager dedup.spans broadcasts the dup-gram set
#: and the per-doc aggregate explicitly.
_SPANS_BCAST_ROWS = 8_000_000


@operator("dedup.spans")
def dedup_spans(spark: SparkSession, inputs, config, context):
    """Exact duplicated-substring-span dedup (the ExactSubstr method of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every position whose n-token gram occurs >= ``min_count``
    times in the corpus (``scope='corpus'``; ``'cross_doc'`` = in more
    than one document) is duplicated text; overlapping/adjacent flagged
    positions merge into maximal spans, which are counted and (with
    ``emit_clean``) removed from the document. With a SECOND input the
    flagging flips to span-level decontamination: positions whose
    n-gram appears anywhere in that reference corpus (benchmark/eval
    set) are flagged instead — text.decontaminate marks whole
    documents, this surgically removes the overlapping spans.

    Single-node implementations use a corpus suffix array; the
    distributed equivalent is position-explode + a corpus-global gram
    frequency. Plan: a pass builds (doc, pos, gram_hash) rows narrowly
    — every token string hashed ONCE, the n-gram hash combining n
    pre-hashed bigints — a PARTIAL-AGGREGATED ``groupBy(gram_hash)``
    computes the corpus frequency (map-side combine collapses every
    in-partition repeat of a hot gram before the shuffle), the
    dup-gram set — only hashes that cleared ``min_count`` — is
    persisted, counted, and (under ``_SPANS_BCAST_ROWS``, 8M rows)
    BROADCAST into a left-semi probe of the gram stream, so the
    corpus-sized stream never shuffles on the gram hash; only the
    flagged positions shuffle per doc for the span merge, and the
    per-doc aggregate (one row per flagged doc) broadcasts back into
    the output join under the same bound — the corpus text never
    shuffles at all on mostly-clean data. The two explicit count jobs
    exist because AQE plans the probe-side exchange concurrently with
    the build side: by the time the dup set's true size is known the
    corpus-wide shuffle is already paid (measured ~20s of a 2M-doc
    run). The earlier design flagged in place with
    ``count() OVER (PARTITION BY gram_hash)``: one shuffle fewer, but a
    window partition has no map-side combine and cannot be split, so
    the hottest gram — by construction the boilerplate this operator
    exists to find — serializes into a single straggler task at scale.
    Over the broadcast bound the semi-join streams (SMJ) and the
    per-doc aggregate stays a persisted shuffle table — the status-quo
    plan. Shuffle payload is (doc_id, pos, hash8B) rows, never document
    text; gram equality via 64-bit hash (collision odds
    ~|tokens|^2/2^65 — the same acceptance as the hashed shingle
    arrays in dedup.ngram_jaccard).

    Output: input columns + ``n_dup_spans``, ``dup_tokens``,
    ``total_tokens``, ``dup_token_frac`` (+ ``text_clean`` over the
    normalized token stream when ``emit_clean``). Span merge uses the
    constant-gram-length identity: a flagged position p after p' adds
    min(p - p', n) newly covered tokens and starts a new span iff
    p - p' > n, so per-doc stats need only lag(), not an island groupBy.

    Reference has no counterpart (nearest: Fuzzy Grouping,
    data_engineering_parser.py:1114) — NEW per SURVEY §2.12.
    """
    from pyspark.sql import Window

    df: DataFrame = inputs[0]
    id_col, text_col = config["id_col"], config["text_col"]
    n = int(config.get("n", 8))
    min_count = int(config.get("min_count", 2))
    scope = config.get("scope", "corpus")
    emit_clean = bool(config.get("emit_clean", False))

    def gram_hash_arr(text_expr: Column) -> Column:
        # TWO-LEVEL hashing (round 8, 2x on the gram passes): the inner
        # bind hashes every token string ONCE to a bigint, the gram
        # hash then combines n pre-hashed LONGS — the old single-level
        # builder re-hashed each token's string bytes in all n grams
        # covering it. Both levels are _lambda_bind-bound (NOTES
        # invariant 20): interpreted HOF lambdas have no subexpression
        # elimination, so an unbound token-hash array would re-run per
        # gram position. MUST stay consistent between the corpus and
        # ref-side builders — the two sides join on these hashes.
        return _lambda_bind(
            _words(text_expr),
            lambda w: _lambda_bind(
                F.transform(w, lambda t: F.xxhash64(t)),
                lambda th: F.when(
                    F.size(th) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size(th) - (n - 1)),
                        lambda i: F.xxhash64(
                            *[F.element_at(th, i + j) for j in range(n)]
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>")),
            ),
        )

    grams = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(gram_hash_arr(F.col(text_col))).alias("_gpos", "_gh"),
    )

    if len(inputs) > 1:
        # span-level DECONTAMINATION: a second input is a reference
        # corpus (benchmark/eval set) — flag every position whose n-gram
        # appears ANYWHERE in it, regardless of corpus-internal counts.
        # text.decontaminate flags whole documents by overlap; this
        # variant surgically removes the overlapping spans. The
        # reference gram set is distinct-hashed (bounded by the eval
        # corpus) and the join is the only extra shuffle.
        ref: DataFrame = inputs[1]
        ref_text = config.get("ref_text_col", text_col)
        dup_grams = ref.select(
            F.explode(gram_hash_arr(F.col(ref_text))).alias("_gh")
        ).distinct()
    else:
        # Partial-aggregated dup-gram set: map-side combine collapses
        # every in-partition occurrence of a hot gram to one (hash,
        # partial) row before the shuffle, so a gram planted in 10^8
        # positions costs its partition count, not its occurrence
        # count. grams is recomputed for the probe side — a narrow
        # tokenize+hash pass, deliberately NOT persisted (a corpus-
        # sized gram cache would leak past the lazy result; the pass
        # is scan-bound and cheap since the token-pre-hash rewrite).
        if scope == "cross_doc":
            # >= 2 distinct docs <=> min(id) != max(id); min/max have
            # map-side combine, countDistinct would not collapse
            dup_grams = (
                grams.groupBy("_gh")
                .agg(F.min("_id").alias("_mn"), F.max("_id").alias("_mx"))
                .filter(F.col("_mn") != F.col("_mx"))
                .select("_gh")
            )
        else:
            dup_grams = (
                grams.groupBy("_gh")
                .agg(F.count(F.lit(1)).alias("_c"))
                .filter(F.col("_c") >= min_count)
                .select("_gh")
            )

    # Materialize the dup/ref gram set and BROADCAST it under a row
    # bound (round 8, ~1.5x end-to-end at 2M docs): AQE alone cannot
    # save the probe side — it launches the corpus-sized gram-stream
    # exchange CONCURRENTLY with the build-side stages, so by the time
    # the dup set's true (small) size is known the shuffle + sort of
    # every gram row is already paid (~20s of the 2M probe). The
    # explicit persist + count (the dup set is needed in full anyway)
    # decides BEFORE the probe plans; over the bound the broadcast is
    # skipped and the semi-join streams as before. The persist is
    # released after the per-doc aggregate materializes below.
    #
    # SIZE-GATED (round 8 follow-up): the eager jobs only pay for
    # themselves when the corpus exchange they pre-empt is expensive.
    # On a small corpus they COST ~3x — the operator's two invocations
    # in q30 each ran their build/agg as serialized standalone jobs,
    # where the old fully-lazy shape let the query's single action
    # share the document scan across all its legs and AQE handle the
    # (tiny) exchanges (q30 sf0.1: 1.45s lazy vs ~4.8s always-eager).
    # 'auto' probes the RAW input count (metadata-cheap on a parquet
    # scan; invariant 18) and stays lazy under _SPANS_EAGER_MIN_DOCS —
    # at that size the gram exchange is seconds at worst, and AQE's
    # runtime stats still broadcast the small sides.
    eager = config.get("eager", "auto")
    if eager not in ("auto", True, False):
        # loud, like the funnel's materialize: a stringly 'false' must
        # not select eager
        raise ValueError(
            f"dedup.spans: eager must be 'auto', True or False, got "
            f"{eager!r}")
    if eager == "auto":
        eager = df.count() >= _SPANS_EAGER_MIN_DOCS
    if eager:
        dup_grams = dup_grams.persist()
        dup_probe = (
            F.broadcast(dup_grams)
            if dup_grams.count() <= _SPANS_BCAST_ROWS
            else dup_grams
        )
    else:
        dup_probe = dup_grams
    flagged = (
        grams.join(dup_probe, "_gh", "left_semi").select("_id", "_gpos")
    )

    wdoc = Window.partitionBy("_id").orderBy("_gpos")
    gap = F.col("_gpos") - F.lag("_gpos").over(wdoc)
    covered = F.when(gap.isNull(), F.lit(n)).otherwise(F.least(gap, F.lit(n)))
    newspan = F.when(gap.isNull() | (gap > n), 1).otherwise(0)

    # Per-doc aggregate: ONE ROW PER DOC WITH A DUP SPAN — bounded by
    # the duplicated-document volume, the smallest corpus-derived frame
    # in the plan. It is persisted and COUNTED here (one job; the same
    # eager-pairs discipline as dedup.ngram_jaccard) so that (a) the
    # dup-gram persist above can be released the moment it's consumed
    # and (b) the final join-back can broadcast under the same row
    # bound — the corpus then NEVER shuffles: the old shape paid a
    # third tokenize pass plus two corpus-wide sort-merge joins
    # carrying text payload. total_tokens (and text_clean under
    # emit_clean) come from projections over the output scan itself.
    if emit_clean:
        isl = F.sum(newspan).over(
            wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        spans = (
            flagged.withColumn("_isl", isl)
            .groupBy("_id", "_isl")
            .agg(
                F.min("_gpos").alias("s"),
                (F.max("_gpos") + n).alias("e"),
            )
        )
        agg = spans.groupBy("_id").agg(
            F.count(F.lit(1)).cast("int").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s")).cast("int").alias("dup_tokens"),
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("_spans"),
        )
    else:
        agg = (
            flagged.select(
                "_id", covered.alias("_cov"), newspan.alias("_ns")
            )
            .groupBy("_id")
            .agg(
                F.sum("_ns").cast("int").alias("n_dup_spans"),
                F.sum("_cov").cast("int").alias("dup_tokens"),
            )
        )
    if eager:
        agg = agg.persist()
        if emit_clean:
            # emit_clean rows carry a collect_list of span structs, so
            # the 8M-row bound (sized for fixed-width stat rows) can
            # hide a multi-GB broadcast on a boilerplate-saturated
            # corpus. Same count job, plus the true span volume; force
            # the broadcast only when the ARRAY payload is bounded too
            # (64M spans x ~16B ≈ 1 GiB, inside the 8 GiB hard limit).
            stats = agg.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum("n_dup_spans").alias("_sp"),
            ).first()
            n_flagged = stats["_n"] or 0
            force = (n_flagged <= _SPANS_BCAST_ROWS
                     and (stats["_sp"] or 0) <= 64_000_000)
        else:
            n_flagged = agg.count()
            force = n_flagged <= _SPANS_BCAST_ROWS
        dup_grams.unpersist()
        tab = F.broadcast(agg) if force else agg
    else:
        # lazy: one action computes everything; AQE broadcasts the
        # per-doc aggregate off its runtime size
        tab = agg
    out = (
        df.join(tab.withColumnRenamed("_id", id_col), id_col, "left")
        .withColumns(
            {
                "n_dup_spans": F.coalesce(F.col("n_dup_spans"), F.lit(0)),
                "dup_tokens": F.coalesce(F.col("dup_tokens"), F.lit(0)),
                "total_tokens": F.size(_words(F.col(text_col))),
            }
        )
        .withColumn(
            "dup_token_frac",
            F.col("dup_tokens")
            / F.greatest(F.col("total_tokens"), F.lit(1)),
        )
    )
    if emit_clean:
        # rebuild the clean text straight off the output scan: filter
        # the token array against the (usually broadcast) span list —
        # unflagged docs get the normalized re-join of all tokens, the
        # exact text the old base-join produced
        empty = F.array().cast("array<struct<s:int,e:int>>")
        out = (
            out.withColumn("_sp", F.coalesce(F.col("_spans"), empty))
            .withColumn(
                "text_clean",
                _lambda_bind(
                    _words(F.col(text_col)),
                    lambda w: F.array_join(
                        F.filter(
                            w,
                            lambda t, i: ~F.exists(
                                F.col("_sp"),
                                lambda p: (i >= p["s"]) & (i < p["e"]),
                            ),
                        ),
                        " ",
                    ),
                ),
            )
            .drop("_sp", "_spans")
        )
    return out


@operator("dedup.minhash_incremental")
def dedup_minhash_incremental(spark: SparkSession, inputs, config, context):
    """Incremental MinHash/LSH dedup of a NEW BATCH against an existing
    corpus — the shape a 100 TB ingest pipeline actually runs daily:
    re-deduplicating the whole corpus per batch is O(corpus), this is
    O(batch + candidates).

    inputs: [batch, history] (+ optional third input: a PRECOMPUTED
    history band table (_id, _band, _bh) — e.g. the `bands` port of a
    previous run persisted to parquet — which skips the history
    signature pass entirely; the raw history input is then touched only
    by the candidate-pruned verify re-shingle, an O(candidates) scan).

    Semantics: a batch doc is dropped when a verified exact-Jaccard >=
    threshold partner exists in history (history always wins) or
    earlier in the batch (keep-min-id). History rows are never dropped.
    When ids are globally ordered (history ids < batch ids), the
    surviving batch == full-corpus keep-min survivors restricted to the
    batch (test-pinned) — incremental runs compose into exactly the
    one-shot result.

    Plan: batch bands broadcast into the history band join by default
    (`broadcast_batch=True`) — the 100 TB history table STREAMS through
    the probe side with no shuffle; within-batch candidates reuse the
    one-shuffle bucket-groupBy path. The broadcast assumes the batch is
    ingest-sized: when using the BOOTSTRAP idiom (the whole corpus as
    the "batch" against an empty history, to build the initial band
    store) pass `broadcast_batch=False` — broadcasting a corpus-sized
    band table is exactly what the design avoids. Candidate pairs (ids only) are the
    only other shuffle; shingle arrays join back candidate-pruned, as in
    dedup.minhash. Two caps guard degenerate boilerplate buckets: the
    batch band table is capped at 200 rows per (band, hash)
    BEFORE the cross join (so join output is linear in history, never a
    bucket cross product), and `cand_cap` bounds surviving candidates
    per batch doc (a window over the candidate frame only — history is
    never shuffled).

    Ports: out (surviving batch rows), pairs (a=keeper, b=dropped-side
    candidate, jaccard) when return_pairs, bands (the batch band table,
    to append to the signature store) when return_bands.

    Reference has no counterpart — NEW per SURVEY §2.12.
    """
    from pyspark.sql import Window

    batch: DataFrame = inputs[0]
    history: DataFrame = inputs[1]
    hist_bands_in = inputs[2] if len(inputs) > 2 else None
    id_col, text_col = config["id_col"], config["text_col"]
    k = config.get("shingle_k", 3)
    num_hashes = config.get("num_hashes", 128)
    threshold = config.get("threshold", 0.8)
    bands = config.get("bands")
    if bands is None:
        bands = _auto_bands(num_hashes, threshold)
    rows = num_hashes // bands
    seed = config.get("seed", 42)
    cand_cap = config.get("cand_cap", 1000)

    def band_rows(src: DataFrame) -> DataFrame:
        _, bf = _signature_bands(src, id_col, text_col, k, bands, rows, seed)
        return bf.select("_id", F.posexplode("_bh").alias("_band", "_bh"))

    b_banded = band_rows(_spread(spark, batch)).persist()
    h_banded = (
        hist_bands_in.select("_id", "_band", "_bh")
        if hist_bands_in is not None
        else band_rows(_spread(spark, history))
    )

    # within-batch candidates: one bucket-groupBy shuffle (a < b)
    cand_bb = _bucket_pairs(b_banded, ["_band", "_bh"], _BUCKET_CAP)
    # cross candidates: history streams against the (broadcast) batch
    # band table — zero shuffle of history when the batch is small.
    # Cap the BATCH side per (band, hash) BEFORE the join: a degenerate
    # shared band value (boilerplate / empty docs on both sides) would
    # otherwise materialize |h_bucket| x |b_bucket| join rows before any
    # downstream dedup/cap could bound them; with the pre-cap the join
    # output is <= _BUCKET_CAP rows per history band row — linear in
    # history, never a cross product. (The window shuffles only the
    # batch band table.)
    wbb = Window.partitionBy("_band", "_bh").orderBy("_id")
    bb = (
        b_banded.withColumn("_rn", F.row_number().over(wbb))
        .filter(F.col("_rn") <= _BUCKET_CAP)
        .drop("_rn")
        .select(F.col("_id").alias("b"), "_band", "_bh")
    )
    if config.get("broadcast_batch", True):
        bb = F.broadcast(bb)
    cand_bh = (
        h_banded.select(F.col("_id").alias("a"), "_band", "_bh")
        .join(bb, ["_band", "_bh"])
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    cand = cand_bb.unionByName(cand_bh)
    if cand_cap:
        wc = Window.partitionBy("b").orderBy("a")
        cand = (
            cand.withColumn("_rn", F.row_number().over(wc))
            .filter(F.col("_rn") <= cand_cap)
            .drop("_rn")
        )
    # persisted, but NOT eagerly counted: pairs.count() below is the
    # first action and materializes this cache as a side effect — an
    # extra count here would re-run the whole candidate pipeline once
    cand = cand.persist()

    # verify: candidate-pruned re-shingle from BOTH raw sides, then the
    # exact Jaccard — arrays never shuffle; candidates broadcast by
    # default (bounded by true-dup volume x LSH precision), with the
    # same verify_broadcast=False hatch as dedup.minhash for degenerate
    # boilerplate-heavy corpora where even the capped candidate set is
    # too big for the driver
    verify_bc = config.get("verify_broadcast", True)
    cand_ids = (
        cand.select(F.col("a").alias("_id"))
        .unionByName(cand.select(F.col("b").alias("_id")))
        .distinct()
    )
    if verify_bc:
        cand_ids = F.broadcast(cand_ids)

    def pruned_shingles(src: DataFrame) -> DataFrame:
        keep = src.join(
            cand_ids.select(F.col("_id").alias(id_col)),
            id_col, "left_semi",
        )
        return keep.select(
            F.col(id_col).alias("_id"), _shingles(F.col(text_col), k).alias("_sh")
        )

    sh = pruned_shingles(batch).unionByName(pruned_shingles(history))
    if verify_bc:
        # joined on both sides below: unpersisted, the batch+history
        # semi-probes and shingle passes run TWICE each (one duplicated
        # subtree per side — r11 plan audit). Candidate-sized under the
        # verify_bc assumption; filled by pairs.count(), released right
        # after.
        sh = sh.persist()
    pairs = (
        (F.broadcast(cand) if verify_bc else cand)
        .join(sh.select(F.col("_id").alias("a"), F.col("_sh").alias("sha")), "a")
        .join(sh.select(F.col("_id").alias("b"), F.col("_sh").alias("shb")), "b")
        .withColumn("jaccard", _jaccard(F.col("sha"), F.col("shb")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .persist()
    )
    pairs.count()
    if verify_bc:
        sh.unpersist()
    cand.unpersist()

    # same contract as dedup.minhash: dominated ⊂ the verify-broadcast
    # candidate frame, so the hint is exactly as bounded as verify_bc
    out = _keep_min_survivors(batch, id_col, pairs, broadcast=verify_bc)
    result = {"out": out}
    if config.get("return_pairs"):
        result["pairs"] = pairs
    if config.get("return_bands"):
        result["bands"] = b_banded  # the returned port stays materialized
    else:
        b_banded.unpersist()
    if len(result) == 1:
        return out
    return result


#: the band-store contract: one row per (doc, band) with the band's
#: minhash-row hash — exactly the `bands` port of dedup.minhash /
#: dedup.minhash_incremental and the third-input shape the incremental
#: operator accepts back.
_BAND_STORE_COLS = ("_id", "_band", "_bh")

#: the minhash parameters that make two band stores comparable: band
#: hashes computed under different values of ANY of these are unrelated
#: 64-bit numbers, so mixing them silently yields wrong incremental
#: survivors — the sidecar below turns that silent corruption into a
#: loud ValueError (round-7 ADVICE).
_BAND_STORE_PARAM_KEYS = ("num_hashes", "bands", "seed", "shingle_k")


def _band_store_sidecar(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for the store's _params.json sidecar —
    the Hadoop FS API so the same code handles local / HDFS / object
    stores; parquet readers ignore underscore-prefixed files."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path, "_params.json")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def read_band_store_params(spark: SparkSession, path: str):
    """Load the minhash-parameter sidecar of a band store, or None for
    a store written without one (pre-sidecar stores stay readable)."""
    import json

    fs, jpath = _band_store_sidecar(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        while True:
            ln = reader.readLine()
            if ln is None:
                break
            lines.append(ln)
    finally:
        stream.close()
    return json.loads("\n".join(lines))


def _check_band_params(declared: dict, stored: dict, path: str) -> None:
    bad = {
        k: (declared[k], stored[k])
        for k in _BAND_STORE_PARAM_KEYS
        if k in declared and k in stored
        and int(declared[k]) != int(stored[k])
    }
    if bad:
        raise ValueError(
            f"band store {path}: minhash parameter mismatch — "
            + ", ".join(
                f"{k}: got {g}, store has {s}"
                for k, (g, s) in sorted(bad.items())
            )
            + ". Band hashes from different (num_hashes/bands/seed/"
            "shingle_k) are not comparable; keep one store per "
            "parameter set."
        )


def write_band_store(
    bands: DataFrame, path: str, mode: str = "append", params: dict | None = None
) -> None:
    """Persist a minhash band table (``bands`` port) to parquet so the
    incremental-dedup path survives across sessions: a daily ingest job
    appends each batch's bands (mode='append') and the next run reads
    the store back as the third input of dedup.minhash_incremental —
    the 6.8x-vs-full-rededup figure (PLANS.md) then holds OPERATIONALLY,
    not just within one session.

    Layout: partitioned by ``_band`` — bounded directory count (= the
    LSH band count, 4-64), so appends stay cheap and a band-selective
    read prunes; the probe join broadcasts the batch side, so the store
    only ever streams. Schema is validated (and pruned to the contract
    columns) on write; a store written with different minhash params
    (num_hashes/bands/seed/shingle_k) is NOT interchangeable — pass
    ``params`` (any subset of those keys) and the store keeps a
    ``_params.json`` sidecar: an append or read that declares
    conflicting values fails loudly instead of silently joining
    unrelated band hashes. Stores written without params stay readable
    (no sidecar, no check).
    """
    missing = [c for c in _BAND_STORE_COLS if c not in bands.columns]
    if missing:
        raise ValueError(
            f"write_band_store: input lacks band-table columns {missing}; "
            "pass the `bands` port of dedup.minhash_incremental "
            "(return_bands=True)"
        )
    declared = None
    if params is not None:
        unknown = [k for k in params if k not in _BAND_STORE_PARAM_KEYS]
        if unknown:
            raise ValueError(
                f"write_band_store: unknown params {unknown}; "
                f"expected a subset of {list(_BAND_STORE_PARAM_KEYS)}"
            )
        declared = {k: int(v) for k, v in params.items()}
        stored = read_band_store_params(bands.sparkSession, path)
        if stored is not None and mode == "append":
            _check_band_params(declared, stored, path)
            declared = {**stored, **declared}
    (
        bands.select(
            F.col("_id").cast("bigint"),
            F.col("_band").cast("int"),
            F.col("_bh").cast("bigint"),
        )
        .write.mode(mode)
        .partitionBy("_band")
        .parquet(path)
    )
    if declared is not None:
        # after the data write: mode='overwrite' wipes the directory,
        # so the sidecar must land on the fresh store
        import json

        fs, jpath = _band_store_sidecar(bands.sparkSession, path)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(
                json.dumps(declared, sort_keys=True).encode("utf-8")))
        finally:
            out.close()


def read_band_store(
    spark: SparkSession, path: str, params: dict | None = None
) -> DataFrame:
    """Read a band store written by :func:`write_band_store` back into
    the (_id, _band, _bh) frame dedup.minhash_incremental accepts as
    its third input. Casts restore the exact contract types (parquet
    partition columns come back as the partition-discovery type).

    Pass ``params`` (the minhash config the CALLER will band its batch
    with) to validate against the store's ``_params.json`` sidecar —
    a mismatch raises instead of silently joining incompatible band
    hashes. Pre-sidecar stores skip the check."""
    if params is not None:
        unknown = [k for k in params if k not in _BAND_STORE_PARAM_KEYS]
        if unknown:
            # same loud rejection as write_band_store: silently
            # dropping a typo'd key would skip the mismatch check the
            # sidecar exists for
            raise ValueError(
                f"read_band_store: unknown params {unknown}; "
                f"expected a subset of {list(_BAND_STORE_PARAM_KEYS)}"
            )
        stored = read_band_store_params(spark, path)
        if stored is not None:
            _check_band_params(
                {k: int(v) for k, v in params.items()}, stored, path,
            )
    df = spark.read.parquet(path)
    missing = [c for c in _BAND_STORE_COLS if c not in df.columns]
    if missing:
        raise ValueError(
            f"read_band_store: {path} lacks band-table columns {missing}"
        )
    return df.select(
        F.col("_id").cast("bigint"),
        F.col("_band").cast("int"),
        F.col("_bh").cast("bigint"),
    )


def compact_band_store(spark: SparkSession, path: str,
                       target_mb: int = 128) -> int:
    """Rewrite an append-accreted band store in place. Each
    ``write_band_store(mode='append')`` adds one small parquet file per
    band per batch, so a year of daily ingests is ~365 files/band and
    scan planning starts to dominate the incremental-dedup probe. This
    is the store-aware OPTIMIZE: it preserves the ``_band`` partition
    layout (generic ``maintenance.compact`` would flatten it and lose
    partition pruning) and carries the ``_params.json`` sidecar onto the
    compacted copy.

    File sizing: ~``target_mb`` per file — rows are re-bucketed inside
    each band on ``xxhash64(_id)`` so a 100 TB-corpus band (|corpus| rows
    per band) still compacts to bounded-size files instead of one
    monolith. Content is contract-identical: same (_id, _band, _bh)
    rows, just fewer files.

    SINGLE-WRITER maintenance step: schedule it in the DAG that owns
    the store's appends (after them, never concurrently) — a store
    cannot atomically swap under a live writer. The guard is still
    real, not assumed: the data-file listing is re-checked after the
    store moves aside, and if an append slipped in between snapshot
    and swap the original store is restored untouched and the call
    raises instead of silently dropping that batch's bands. The swap
    (rename + rollback + append guard, Hadoop FS API so local / HDFS /
    object stores behave alike) is the shared
    :func:`ssis_to_pyspark_agent_spark.fs.swap_compacted` —
    ``maintenance.compact`` runs the identical path; between the two
    renames there is a brief window where the path does not exist, so
    concurrent READERS should also run outside the maintenance slot.
    Returns the data-file count after compaction."""
    import math

    from ssis_to_pyspark_agent_spark.fs import (
        count_data_files,
        hadoop_fs,
        list_data_files,
        swap_compacted,
    )

    params = read_band_store_params(spark, path)
    fs, hpath, root = hadoop_fs(spark, path)
    # snapshot BEFORE the read resolves its file index: an append
    # landing in between then fails the post-swap check (false
    # positive, safe) instead of silently missing from the copy
    snapshot = list_data_files(fs, root)
    df = read_band_store(spark, path)
    total_bytes = sum(snapshot.values())
    n_bands = max(1, sum(
        1 for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("_band=")
    ))
    files_per_band = max(
        1, math.ceil(total_bytes / n_bands / (target_mb << 20)))
    out = df.repartition(
        n_bands * files_per_band, F.col("_band"),
        F.pmod(F.xxhash64(F.col("_id")), F.lit(files_per_band)))
    tmp = path.rstrip("/") + "._compact_tmp"
    out.write.mode("overwrite").partitionBy("_band").parquet(tmp)
    if params is not None:
        import json

        sink = fs.create(hpath(tmp, "_params.json"), True)
        try:
            sink.write(bytearray(
                json.dumps(params, sort_keys=True).encode("utf-8")))
        finally:
            sink.close()
    swap_compacted(spark, path, tmp, snapshot, label="compact_band_store")
    return count_data_files(fs, root)


@operator("maintenance.compact_band_store")
def band_store_compact_op(spark: SparkSession, inputs, config, context):
    """Pipeline wrapper for :func:`compact_band_store` — the band-store
    maintenance step a scheduled ingest DAG runs after its
    ``sink.band_store`` append (cadence: whenever files/band exceeds a
    handful — nightly for daily batches is plenty). Records the post-
    compaction file count in the context and returns the compacted store
    (contract-identical rows)."""
    path = config["path"]
    n = compact_band_store(
        spark, path, target_mb=config.get("target_mb", 128))
    context[config.get("into", "_band_store_files")] = n
    return read_band_store(spark, path)


@operator("dedup.semantic")
def dedup_semantic(spark: SparkSession, inputs, config, context):
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space with k-means, then compare vectors ONLY within their cluster —
    pairs with cosine >= ``threshold`` are semantic duplicates, and one
    of each pair is dropped. Complements dedup.embedding's global
    hyperplane-LSH: SemDeDup's cluster scoping is the web-scale recipe
    when a clustering already exists (or is cheap), and its per-cluster
    candidate model bounds work at sum(|cluster|^2) instead of relying
    on bucket collision odds.

    keep:
      'min_id' (default)  — drop the larger id of each pair (the
                            convention every other dedup.* op uses);
      'far_centroid'      — the paper's rule: keep the example FARTHEST
                            from its centroid (maximize diversity); a
                            row is dropped if any over-threshold partner
                            is farther from (or equally far from, with a
                            smaller id than) it.

    Centroids: ``kmeans=True`` runs Lloyd's on a seeded driver sample
    (real path); default is the deterministic hash-sample shared with
    similarity.topk_ivf — ``centroid_order='md5'`` + ``quantize`` makes
    assignment, pair cosines, and the keep rule exact integer-derived
    arithmetic any SQL engine reproduces (the q38/q40 oracle idiom).
    A SECOND input, when wired, is a precomputed (cluster, dim, val)
    centroid frame — cluster.kmeans' 'centroids' port — for the
    full-corpus distributed Lloyd's path (requires ``quantize``; the
    integer coordinates descale exactly onto the assignment grid).

    ``verify_nprobe`` (default 1): SemDeDup by design never scores a
    pair split across clusters. 2 ships each vector into its two
    nearest clusters for the VERIFY only (assignments and the
    far-centroid rank stay on the primary), closing most boundary
    misses for ~2x verify rows; duplicate finds collapse exactly.
    Measured boundary-miss curve in PLANS.md (round 5).

    Scale plan: assignment is one numpy matmul per Arrow batch
    (_ivf_assign_frame, with or without ``quantize``); the only
    shuffles move (id, vector) rows into their cluster for the verify — blocked numpy cosine per cluster
    (`_cos_pairs`). Payload vectors shuffle ONCE, and at 100 TB the assigned
    corpus would be written partitioned by cluster and amortized.
    ``cluster_cap`` (default 200k) fails fast on a degenerate cluster
    whose verify would be quadratic; re-cluster with more centroids
    instead of silently burning a quadratic.

    Output: survivors (+ 'pairs' (a, b, cosine, cluster) and
    'assignments' (id, cluster) ports when requested).

    Reference has no counterpart (nearest: Fuzzy Grouping,
    data_engineering_parser.py:1114) — NEW per SURVEY §2.12.
    """
    from ssis_to_pyspark_agent_spark.operators.similarity import (
        _cos_pairs,
        _ivf_assign_frame,
        _kmeans_centroids,
        _vecnorm,
    )

    df: DataFrame = inputs[0]
    id_col, vec_col = config["id_col"], config["vec_col"]
    threshold = config.get("threshold", 0.95)
    n_clusters = int(config.get("n_clusters", 16))
    quantize = config.get("quantize")
    keep = config.get("keep", "min_id")
    if keep not in ("min_id", "far_centroid"):
        raise ValueError(f"keep must be 'min_id' or 'far_centroid', got {keep!r}")

    id_type = df.schema[id_col].dataType.simpleString()
    # emptiness probe on the RAW input (invariant 18): probing the
    # spread frame materializes the repartition exchange — a full
    # corpus pass just to learn emptiness (r12 trace: 6 jobs/68 tasks
    # per invocation; take(1) on the raw frame is 1 job/1 task)
    if df.isEmpty():
        # empty corpus: no centroids exist, so short-circuit with empty
        # ports of the documented shapes (the assignment kernel cannot
        # run against a 0-row centroid matrix)
        empty_pairs = _local_frame(
            spark, [], f"a {id_type}, b {id_type}, cosine double, cluster int"
        )
        result = {"out": df}
        if config.get("return_pairs"):
            result["pairs"] = empty_pairs
        if config.get("return_assignments"):
            result["assignments"] = _local_frame(
                spark, [], f"{id_col} {id_type}, cluster int"
            )
        return result if len(result) > 1 else df
    # the assignment is a numpy kernel: spread by bytes
    base = _spread(spark, df, by_bytes=True).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    if len(inputs) > 1:
        # precomputed clustering: the (cluster, dim, val) centroid frame
        # cluster.kmeans emits (the docstring's "when a clustering
        # already exists" case — full-corpus Lloyd's instead of the
        # driver-sample path). Integer centroid values are descaled by
        # `quantize` back to the float grid the assignment kernel
        # re-quantizes to (exact round trip: _half_up(c/q*q) == c).
        if not quantize:
            raise ValueError(
                "dedup.semantic centroid input requires `quantize` "
                "(centroid frames carry quantized integer coordinates)"
            )
        from ssis_to_pyspark_agent_spark.operators.clustering import (
            cents_from_frame,
        )

        ic = cents_from_frame(inputs[1].collect(), "dedup.semantic")
        n_clusters = len(ic)
        cents = [[v / quantize for v in row] for row in ic]
    elif config.get("kmeans"):
        # sampled from the RAW frame, like the hash sample below
        cents = _kmeans_centroids(
            df.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("_cv")),
            n_clusters,
            seed=config.get("seed", 42),
        )
    else:
        if config.get("centroid_order") == "md5":
            key = F.md5(F.col("_id").cast("string"))
        else:
            key = F.xxhash64(F.col("_id").cast("string"))
        # TakeOrdered over the RAW frame, not `base`: the hash order is
        # partitioning-independent, so the chosen rows are identical,
        # and the collect skips materializing the _spread repartition
        # exchange (r12 trace: 66 tasks -> a 2-task TakeOrdered)
        cents = [
            list(r["_v"])
            for r in df.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            ).orderBy(key).limit(n_clusters).collect()
        ]

    # verify_nprobe: SemDeDup never scores a near-dup pair split across
    # clusters (the paper's accepted recall boundary). nprobe=2 ships
    # each vector into its TWO nearest clusters for the verify — a pair
    # straddling one boundary then still meets in the runner-up cluster
    # — at the cost of ~2x verify rows; pairs found in both shared
    # clusters dedupe exactly. Assignments/keep-ranks stay on the
    # PRIMARY centroid.
    nprobe = int(config.get("verify_nprobe", 1))
    if nprobe < 1:
        raise ValueError(f"verify_nprobe must be >= 1, got {nprobe}")
    assigned = _ivf_assign_frame(
        base, "_id", "_v", cents, quantize, min(nprobe, len(cents))
    ).withColumn("_cid", F.col("_cids")[0])

    # persist BEFORE the cap probe: the probe then materializes the
    # cache instead of burning a throwaway assignment pass
    assigned = assigned.persist()
    # the verify input: with verify_nprobe > 1 each vector rides into
    # ALL its nprobe nearest clusters (the boundary-straddling pair
    # then meets in the runner-up cluster); the cap and the verify
    # both see the exploded occupancy
    if nprobe > 1:
        ver = assigned.select("_id", "_v", F.explode("_cids").alias("_cid"))
    else:
        ver = assigned.select("_id", "_v", "_cid")
    cap = int(config.get("cluster_cap", 200_000))
    sizes = ver.groupBy("_cid").agg(F.count(F.lit(1)).alias("_n"))
    worst = sizes.agg(F.max("_n")).collect()[0][0]
    if worst is not None and worst > cap:
        assigned.unpersist()
        raise ValueError(
            f"dedup.semantic: a cluster holds {worst} rows (> cluster_cap"
            f"={cap}); its within-cluster self-join would be quadratic. "
            f"Raise n_clusters (or kmeans=True for balanced lists), or "
            f"raise cluster_cap explicitly."
        )

    # within-cluster pairs: groupBy cluster + applyInPandas — each vector
    # ships into its cluster ONCE and `_cos_pairs` scores the |c| x |c|
    # cosine matrix as blocked BLAS, emitting only over-threshold pairs
    # (a pair self-join materializes every candidate pair ROW with two
    # vectors each: measured 3x slower at 505k x 512-cluster scale)
    def cluster_pairs(key, pdf):
        ids = pdf["_id"].to_numpy()
        m = _vecnorm(pdf["_v"], quantize)
        out = _cos_pairs(ids, m, ids, m, threshold)
        out["cluster"] = key[0]
        return out

    pairs = ver.groupBy("_cid").applyInPandas(
        cluster_pairs,
        schema=f"a {id_type}, b {id_type}, cosine double, cluster int",
    )
    if nprobe > 1:
        # a pair sharing BOTH of its nprobe clusters is found twice (the
        # same cosine; unquantized, up to the last ulps) — collapse
        # deterministically (min cosine and cluster tag) so ports and
        # survivor math see each pair once
        pairs = pairs.groupBy("a", "b").agg(
            F.min("cosine").alias("cosine"), F.min("cluster").alias("cluster")
        )
    pairs = pairs.persist()
    pairs.count()
    # cache hygiene (invariant 13): `pairs` is persisted only so the
    # survivor derivation below reads the expensive verify once. When
    # the caller does NOT ask for the pairs port, derive the BOUNDED
    # dropped-id set eagerly and release `pairs` before returning — the
    # retained cache is then |duplicate ids|, never |pairs| rows of
    # scored output. With return_pairs the port needs the cache alive;
    # that retention is the caller's (documented) choice.
    return_pairs = bool(config.get("return_pairs"))

    if keep == "min_id":
        if not return_pairs:
            dropped = _dominated_ids(pairs, id_col).persist()
            dropped.count()
            pairs.unpersist()
            out = df.join(dropped, id_col, "left_anti")
        else:
            out = _keep_min_survivors(df, id_col, pairs)
    else:
        # paper rule: within a duplicate pair, drop the row CLOSER to its
        # centroid (more typical); tie on centroid-cosine drops the
        # larger id. Rank key is the primary-centroid cosine the
        # assignment kernel emits (`_ccos`); with `quantize` it is exact
        # integer-derived arithmetic, so any engine agrees on the order.
        rank = assigned.select("_id", "_ccos")
        e = (
            pairs.join(rank.withColumnRenamed("_id", "a")
                       .withColumnRenamed("_ccos", "_ca"), "a")
            .join(rank.withColumnRenamed("_id", "b")
                  .withColumnRenamed("_ccos", "_cb"), "b")
        )
        dropped = (
            e.select(
                F.when(
                    (F.col("_ca") > F.col("_cb"))
                    | ((F.col("_ca") == F.col("_cb")) & (F.col("a") > F.col("b"))),
                    F.col("a"),
                ).otherwise(F.col("b")).alias(id_col)
            )
            .distinct()
            .persist()
        )
        dropped.count()  # materialize while `assigned` is still cached
        if not return_pairs:
            pairs.unpersist()  # `dropped` (bounded) carries the result now
        out = df.join(dropped, id_col, "left_anti")

    result = {"out": out}
    if config.get("return_pairs"):
        result["pairs"] = pairs
    if config.get("return_assignments"):
        result["assignments"] = assigned.select(
            F.col("_id").alias(id_col), F.col("_cid").alias("cluster")
        )
    else:
        assigned.unpersist()
    if len(result) == 1:
        return out
    return result


@operator("sink.band_store")
def band_store_sink(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Pipeline wrapper for :func:`write_band_store` — append a batch's
    `bands` port to the on-disk minhash band store inside a pipeline
    (the daily-ingest shape). config: path, mode ('append' default),
    plus any of num_hashes/bands/seed/shingle_k — forwarded as the
    params sidecar (declare the SAME values you banded with)."""
    df: DataFrame = inputs[0]
    params = {
        k: config[k] for k in _BAND_STORE_PARAM_KEYS if k in config
    } or None
    write_band_store(
        df, config["path"], mode=config.get("mode", "append"), params=params
    )
    return df


@operator("source.band_store")
def band_store_source(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Pipeline wrapper for :func:`read_band_store` — load the band
    store as the third input of dedup.minhash_incremental. config:
    path, plus any of num_hashes/bands/seed/shingle_k to validate
    against the store's params sidecar before use."""
    params = {
        k: config[k] for k in _BAND_STORE_PARAM_KEYS if k in config
    } or None
    return read_band_store(spark, config["path"], params=params)
