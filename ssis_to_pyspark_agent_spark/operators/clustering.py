"""Embedding-space clustering (SURVEY §2.12 — LLM-pipeline scale ops).

Distributed Lloyd's k-means over an embedding column. This is the
standalone, FULL-corpus counterpart of the driver-sample
`_kmeans_centroids` helper similarity.topk_ivf / dedup.semantic use for
centroid seeding: every iteration assigns the whole corpus and updates
centroids from exact per-cluster sums, the canonical k-means data-map /
domain-discovery step in front of SemDeDup-style pipelines.

All arithmetic is engine-exact (the repo's oracle discipline):
vectors quantize to integers (Spark `round(x*quant)` == the numpy
`_half_up` kernel, pinned by similarity.py's contract), distances are
integer-valued squared L2, and centroid updates are exact integer
floor-divisions — so a SQL engine replays every iteration bit-for-bit
(the q80 oracle does, including the tie-breaks).

Reference has no counterpart (nearest: Fuzzy Grouping,
data_engineering_parser.py:1114) — NEW per SURVEY §2.12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator
from ssis_to_pyspark_agent_spark.operators.dedup import _local_frame


def cents_from_frame(rows, who: str) -> list[list[int]]:
    """Decode cluster.kmeans' centroid-port contract — collected
    (cluster, dim, val) rows — into a dense k x d integer list. The ONE
    decoder every consumer shares (cluster.prune, dedup.semantic's
    centroid input): if the port shape ever changes, it changes here."""
    if not rows:
        raise ValueError(f"{who}: empty centroid input")
    if any(r["cluster"] < 0 or r["dim"] < 0 for r in rows):
        # Python negative indexing would otherwise silently OVERWRITE
        # the last centroid's coordinates — corruption, not an error
        raise ValueError(
            f"{who}: negative cluster/dim in the centroid frame — not a "
            "cluster.kmeans 'centroids' port"
        )
    k = max(r["cluster"] for r in rows) + 1
    dim = max(r["dim"] for r in rows) + 1
    cents = [[0] * dim for _ in range(k)]
    for r in rows:
        cents[r["cluster"]][r["dim"]] = r["val"]
    return cents


def _exactness_guard(vq, cm, who: str) -> float:
    """The bit-exactness contract, enforced instead of assumed (ADVICE
    round 5): every squared-distance term must stay an EXACT float64
    integer, i.e. max d2 = dim * (2m)^2 < 2^53 with m the largest
    |quantized coordinate| across data and centroids. Beyond it the
    float64 argmin can silently diverge from the integer oracle — fail
    loudly with the knob to turn. Returns m for callers with further
    batch-sum checks. One numpy abs-max per Arrow batch: negligible
    next to the matmul it protects."""
    import numpy as np

    m = max(
        float(np.abs(vq).max(initial=0.0)),
        float(np.abs(cm).max(initial=0.0)),
    )
    if 4.0 * m * m * cm.shape[1] >= 2.0**53:
        raise ValueError(
            f"{who}: quantized coordinates too large for the exact "
            f"float64 distance contract (max |coord| {m:.6g} at dim "
            f"{cm.shape[1]}: 4*m^2*dim >= 2^53) — lower `quantize` or "
            "rescale the embeddings"
        )
    return m


def _assign_kernel(cents, quantize: int, out_fields: list[str], vec_col: str,
                   cluster_col: str = "cluster"):
    """mapInPandas generator: rows -> rows + `cluster` (argmin of exact
    integer squared-L2 against the broadcast centroid matrix, ties to the
    LOWEST cluster id — np.argmin's first-occurrence rule).

    Integer-valued float64 throughout: quantized coords are < ~2^31 and
    squared-distance sums stay far under 2^53, so every distance is
    EXACT and the argmin matches any integer-arithmetic replay (the SQL
    oracle's ROW_NUMBER ORDER BY dist, cluster)."""
    import numpy as np
    import pandas as pd

    from ssis_to_pyspark_agent_spark.operators.similarity import (
        _half_up,
        _vecmat,
    )

    cm = np.asarray(cents, dtype=np.float64)  # already integer-valued
    c2 = (cm * cm).sum(axis=1)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(**{cluster_col: pd.Series([], dtype="int32")})
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(
                    f"cluster.kmeans: NULL {vec_col!r} in the corpus — "
                    "filter NULL vectors out upstream"
                )
            vq = _half_up(_vecmat(pdf[vec_col]), quantize)
            _exactness_guard(vq, cm, "cluster.kmeans")
            d2 = (vq * vq).sum(axis=1)[:, None] - 2.0 * (vq @ cm.T) + c2[None, :]
            pdf = pdf.copy()
            pdf[cluster_col] = np.argmin(d2, axis=1).astype("int32")
            yield pdf[out_fields]

    return gen


def _update_kernel(cents):
    """mapInPandas generator for the Lloyd's update step: assign each
    batch row to its nearest centroid (same exact integer argmin as
    `_assign_kernel`) and emit PER-BATCH partial sums
    (cluster, dim, s, n) — at most k*d rows per batch. The `_vq` ints
    arrive pre-quantized (JVM `round`), so `_half_up` never reruns here;
    float64 accumulation is exact while |s| < 2^53, which a single batch
    (<= ~10k rows x quant-scaled coords) cannot exceed; the cross-batch
    sum then rides Spark's exact BIGINT aggregation."""
    import numpy as np
    import pandas as pd

    cm = np.asarray(cents, dtype=np.float64)
    c2 = (cm * cm).sum(axis=1)
    k, d = cm.shape

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            from ssis_to_pyspark_agent_spark.operators.similarity import (
                _vecmat,
            )

            if pdf["_vq"].isna().any():
                raise ValueError(
                    "cluster.kmeans: NULL embedding in the corpus — "
                    "filter NULL vectors out upstream"
                )
            vq = _vecmat(pdf["_vq"])  # already integer-valued
            m = _exactness_guard(vq, cm, "cluster.kmeans")
            if len(pdf) * m >= 2.0**53:
                # per-batch float64 partial sums must stay exact too:
                # |s| <= batch_rows * m (the docstring's 10k-Arrow-batch
                # assumption, now enforced)
                raise ValueError(
                    "cluster.kmeans: Arrow batch too large for exact "
                    f"float64 partial sums ({len(pdf)} rows x max "
                    f"|coord| {m:.6g} >= 2^53) — lower `quantize` or "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            d2 = (vq * vq).sum(axis=1)[:, None] - 2.0 * (vq @ cm.T) + c2[None, :]
            lab = np.argmin(d2, axis=1)
            n = np.bincount(lab, minlength=k)
            present = np.flatnonzero(n)
            sums = np.zeros((len(present), d), dtype=np.float64)
            for row, c in enumerate(present):
                sums[row] = vq[lab == c].sum(axis=0)
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(present, d).astype("int32"),
                    "dim": np.tile(np.arange(d), len(present)).astype("int32"),
                    "s": sums.reshape(-1).astype("int64"),
                    "n": np.repeat(n[present], d).astype("int64"),
                }
            )

    return gen


@operator("cluster.kmeans")
def cluster_kmeans(spark: SparkSession, inputs, config, context):
    """Distributed Lloyd's k-means (MacQueen 1967 / Lloyd 1982, public)
    over ``vec_col``, engine-exact and fully deterministic:

    - **seed**: the ``k`` rows with the smallest (md5_60bit(id), id) —
      the repo's engine-neutral seeding idiom (NOTES invariant 5);
      their quantized vectors are the initial integer centroids.
    - **assign**: one numpy matmul per Arrow batch against the k x d
      centroid matrix (broadcast as a task constant — k*d ints); exact
      integer squared-L2, ties to the lowest cluster id.
    - **update**: per-(cluster, dim) integer sums via posexplode with
      map-side partial aggregation — the shuffle carries at most
      k * d * partitions rows, never the corpus — then exact integer
      floor-division sum // count on the driver (k*d scalars). A cluster
      that loses every member keeps its previous centroid.

    ``n_iter`` assignment passes + 1 final labeling pass. The quantized
    frame is persisted for the iteration loop and RELEASED before
    returning (NOTES invariant 13) — the lazy output recomputes the
    cheap narrow quantization.

    **Iteration scaling**: full-pass Lloyd's is the default contract —
    one corpus pass per iteration is the cost driver at 100 TB, and
    n_iter is small (default 5). ``batch_frac`` opts into MINI-BATCH
    updates (Sculley 2010, "Web-scale k-means clustering", public):
    each iteration updates centroids from a deterministic md5-sampled
    fraction of the corpus (sample varies per iteration via an
    iteration-salted hash — engine-neutral, NOTES invariant 5), cutting
    the per-iteration pass to batch_frac of the corpus at a measured
    small inertia cost (A/B at 2M x 64 / k=256 in PLANS.md). The final
    labeling pass is always full-corpus.

    Driver state is k x d integers per iteration — the same bounded
    collect contract as similarity's centroid helpers; at 100 TB the
    corpus only ever streams through narrow passes and one tiny
    partial-aggregated shuffle per iteration.

    config: id_col, vec_col, k, n_iter (default 5), quantize (default
    10000), cluster_col (default 'cluster'), batch_frac (None = full
    Lloyd's; in (0, 1] = mini-batch fraction per update iteration).
    Ports: 'out' (input columns + cluster), 'centroids'
    (cluster int, dim int, val long).
    """
    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit

    df: DataFrame = inputs[0]
    id_col, vec_col = config["id_col"], config["vec_col"]
    k = int(config["k"])
    n_iter = int(config.get("n_iter", 5))
    quantize = int(config.get("quantize", 10_000))
    cluster_col = config.get("cluster_col", "cluster")
    batch_frac = config.get("batch_frac")
    if batch_frac is not None:
        batch_frac = float(batch_frac)
        if not 0.0 < batch_frac <= 1.0:
            raise ValueError(
                f"cluster.kmeans: batch_frac must be in (0, 1], got "
                f"{batch_frac}"
            )
    if k <= 0 or n_iter < 0 or quantize <= 0:
        raise ValueError("cluster.kmeans: k, quantize must be > 0; n_iter >= 0")
    if cluster_col in df.columns:
        raise ValueError(
            f"cluster.kmeans: output column {cluster_col!r} already exists"
        )

    # JVM-side quantization: the SAME ints `_half_up` produces in the
    # kernel (similarity.py's pinned contract)
    vq_expr = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * quantize).cast("long"),
    )
    base = df.select(F.col(id_col).alias("_id"), vq_expr.alias("_vq"))

    seeds = (
        base.orderBy(_md5_60bit(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        # the EMPTY corpus raises through the same branch (ADVICE round
        # 5: it used to return a NULL-cluster pass-through, inconsistent
        # with the n<k raise and a footgun for downstream cluster.prune)
        raise ValueError(
            f"cluster.kmeans: k={k} exceeds the {len(seeds)}-row corpus"
        )
    if any(r["_vq"] is None for r in seeds):
        raise ValueError(
            "cluster.kmeans: NULL embedding in the corpus — filter NULL "
            "vectors out upstream"
        )
    cents = [list(r["_vq"]) for r in seeds]
    dim = len(cents[0])

    # cache only the quantized vectors — ids are needed by the seeding
    # pass (above, pre-persist) and the final labeling (original df),
    # never by the FULL-pass iteration loop (NOTES invariant 10:
    # pre-project before a persist so the cached relation is narrow);
    # mini-batch iterations additionally need the id for the
    # iteration-salted sample hash
    cached = base.select(
        *(["_id", "_vq"] if batch_frac is not None else ["_vq"])
    ).persist()
    try:
        for it in range(n_iter):
            src = cached
            if batch_frac is not None:
                # deterministic per-iteration sample: engine-neutral
                # md5 hash salted with the iteration index, so every
                # run (and any SQL replay) draws the same batches
                thr = int(batch_frac * float(1 << 60))
                src = cached.filter(
                    _md5_60bit(
                        F.concat(
                            F.col("_id").cast("string"),
                            F.lit(f":mb{it}"),
                        )
                    )
                    < F.lit(thr)
                ).select("_vq")
            # the kernel assigns AND partial-aggregates per batch: it
            # emits (cluster, dim, s, n) sums — k*d rows per batch, not
            # the corpus — so neither the vectors nor a posexploded
            # (row x dim) stream ever crosses Arrow back out of Python,
            # and the shuffle carries k*d*batches pre-combined rows
            # (measured 41.4s -> see PLANS.md at 500k x 64 x k=64).
            # Integer sums are order-independent, so the result is
            # bit-identical to the naive formulation.
            gen = _update_kernel(cents)
            upd = (
                src.mapInPandas(
                    gen, schema="cluster int, dim int, s long, n long"
                )
                .groupBy("cluster", "dim")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            new = [list(c) for c in cents]  # empty cluster keeps its centroid
            for r in upd:
                new[r["cluster"]][r["dim"]] = r["s"] // r["n"]
            if new == cents and batch_frac is None:
                # Lloyd's fixed point: a FULL-pass update leaving every
                # centroid unchanged means every later iteration (and
                # the final labeling) would reproduce this exact state
                # — stop paying for no-op passes. Output-identical by
                # construction (integer arithmetic, no drift). NOT
                # valid in mini-batch mode: each iteration draws a
                # DIFFERENT iteration-salted sample, so one unchanged
                # (or empty) batch says nothing about the next
                # (review finding, round 6).
                break
            cents = new
    finally:
        cached.unpersist()

    # final labeling pass over the ORIGINAL columns (lazy; narrow)
    out_fields = df.columns + [cluster_col]
    gen = _assign_kernel(cents, quantize, out_fields, vec_col, cluster_col)
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{cluster_col} int"]
    )
    out = df.mapInPandas(gen, schema=out_schema)
    cents_df = _local_frame(
        spark,
        [(c, d, int(cents[c][d])) for c in range(k) for d in range(dim)],
        "cluster int, dim int, val long",
    )
    return {"out": out, "centroids": cents_df}


@operator("cluster.prune")
def cluster_prune(spark: SparkSession, inputs, config, context):
    """Prototypicality-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws: beating power law scaling via data pruning",
    public): rank every example by its distance to its cluster centroid
    and drop a per-cluster fraction — ``keep='hard'`` (the paper's
    headline setting for large corpora) drops the CLOSEST-to-centroid
    (most prototypical / redundant) examples, ``keep='easy'`` drops the
    farthest (outlier removal for noisy corpora).

    inputs: [assigned, centroids] — the two ports cluster.kmeans emits
    ('out' with the cluster column; 'centroids' as (cluster, dim, val)).
    Distances are exact integer squared-L2 on the same quantized grid
    (``quantize`` must match the kmeans run), ranks are total-ordered by
    (dist, id), and the per-cluster drop count is floor(prune_frac * n)
    — so a SQL oracle replays the kept set exactly.

    Scale shape: centroids collect k*d ints (bounded); distances ride a
    narrow mapInPandas pass; cluster sizes are one partial-aggregated
    count; the rank is a window PARTITIONED BY CLUSTER — occupancy is
    corpus/k on a balanced clustering, so granularity is the operator's
    scale contract (same as dedup.semantic's cluster_cap: cluster more
    finely rather than ranking a mega-partition; NOTES invariant 17
    applies to HOT-KEY windows, which a k-means cluster is not once k
    scales with the corpus).

    config: id_col, vec_col, cluster_col (default 'cluster'),
    prune_frac in [0, 1), keep ('hard'|'easy'), quantize (default
    10000). Ports: 'out' (kept rows + dist), 'scores'
    ((id, cluster, dist) for every row).

    Reference has no counterpart (nearest: Percentage Sampling,
    data_engineering_parser.py:1096) — NEW per SURVEY §2.12.
    """
    from pyspark.sql import Window

    df: DataFrame = inputs[0]
    cents_df: DataFrame = inputs[1]
    id_col, vec_col = config["id_col"], config["vec_col"]
    cluster_col = config.get("cluster_col", "cluster")
    frac = float(config["prune_frac"])
    keep = config.get("keep", "hard")
    quantize = int(config.get("quantize", 10_000))
    if not 0.0 <= frac < 1.0:
        raise ValueError(f"prune_frac must be in [0, 1), got {frac}")
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    if cluster_col not in df.columns:
        raise ValueError(
            f"cluster.prune: input lacks cluster column {cluster_col!r} "
            "(wire cluster.kmeans' 'out' port)"
        )

    cents = cents_from_frame(cents_df.collect(), "cluster.prune")

    import numpy as np
    import pandas as pd

    cm = np.asarray(cents, dtype=np.float64)
    k = cm.shape[0]
    out_fields = df.columns + ["dist"]

    def gen(batches):
        from ssis_to_pyspark_agent_spark.operators.similarity import (
            _half_up,
            _vecmat,
        )

        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(dist=pd.Series([], dtype="int64"))
                continue
            lab = pdf[cluster_col]
            # fail fast with a CLEAR message on wiring mistakes (mixing
            # centroid frames between runs, or a join that left the
            # cluster NULL) instead of an opaque numpy IndexError deep
            # in a Python worker
            if lab.isna().any():
                raise ValueError(
                    f"cluster.prune: NULL {cluster_col!r} — rows must "
                    "carry the clustering the centroid frame came from"
                )
            li = lab.to_numpy()
            if len(li) and (li.min() < 0 or li.max() >= k):
                raise ValueError(
                    f"cluster.prune: cluster id {int(li.max())} outside "
                    f"the centroid frame's 0..{k - 1} — assigned rows "
                    "and centroids come from different clusterings"
                )
            vq = _half_up(_vecmat(pdf[vec_col]), quantize)
            _exactness_guard(vq, cm, "cluster.prune")
            diff = vq - cm[li]
            pdf = pdf.copy()
            pdf["dist"] = (diff * diff).sum(axis=1).astype("int64")
            yield pdf[out_fields]

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["dist bigint"]
    )
    scored = df.mapInPandas(gen, schema=schema)

    # sizes come from the INPUT, not `scored`: the distance pass is 1:1
    # with its input, so the counts are identical — and building the
    # broadcast side from `scored` would run the Python distance kernel
    # (plus whatever upstream labeling feeds it) a second time per
    # action (review finding, round 5). The NULL/range validation ALSO
    # lives here, on the bounded per-cluster rows: the kernel-side
    # check alone is NOT reliably reached for the 'out' port — the
    # inner sizes join infers isnotnull(cluster), and when every
    # cluster is NULL, AQE propagates the EMPTY build side into an
    # EmptyRelation that skips the kernel entirely (observed: raise in
    # a fresh session, silent [] after AQE won the race in a warm one).
    # raise_error inside the join-key projection always materializes
    # with the broadcast, so the failure is deterministic.
    bad_msg = (
        f"cluster.prune: NULL or out-of-range {cluster_col!r} — assigned "
        "rows and centroids come from different clusterings "
        f"(expected 0..{k - 1})"
    )
    sizes = (
        df.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.when(
                F.col(cluster_col).isNull()
                | (F.col(cluster_col) < 0)
                | (F.col(cluster_col) >= k),
                F.raise_error(F.lit(bad_msg)),
            )
            .otherwise(F.col(cluster_col))
            .alias(cluster_col),
            "_n",
        )
    )
    order = (
        [F.col("dist").asc(), F.col(id_col).asc()]
        if keep == "hard"
        else [F.col("dist").desc(), F.col(id_col).asc()]
    )
    w = Window.partitionBy(cluster_col).orderBy(*order)
    ranked = scored.withColumn("_rn", F.row_number().over(w)).join(
        F.broadcast(sizes), cluster_col
    )
    kept = (
        ranked.filter(
            F.col("_rn") > F.floor(F.lit(frac) * F.col("_n")).cast("long")
        )
        .drop("_rn", "_n")
    )
    return {
        "out": kept,
        "scores": scored.select(id_col, cluster_col, "dist"),
    }
