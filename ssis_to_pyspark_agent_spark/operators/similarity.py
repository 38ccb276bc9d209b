"""Similarity search over embedding columns (SURVEY §2.12 — NEW).

Nearest-neighbour top-k over ``array<float>``, three operators on one
body (`_probe_topk`) and one scoring kernel (`_probe_score_frame`).
The query batch is collected; each operator only supplies a *key
function* that gives every corpus row and every query integer keys,
and a corpus row is scored exactly against the queries sharing one of
its keys:
- ``similarity.topk_bruteforce`` — one key for everything: exact cosine
  top-k, the baseline and the verifier for the approximate paths.
- ``similarity.topk_lsh`` — random-hyperplane LSH: one key per (table,
  bucket), so a row meets the queries it collides with in any table
  (recall tuned by tables x bits).
- ``similarity.topk_ivf`` — IVF-style coarse quantizer: a row's key is
  its nearest of C centroids, a query's keys its ``nprobe`` nearest.

Corpus vectors cross Arrow once and are never joined to the queries.

Every cosine (these operators, dedup.embedding and dedup.semantic) is
scored by one numpy kernel, whatever `quantize` says: `_vecnorm` reads
the vectors (and with `quantize` scales them to exact integers), `_cos`
finishes dot/(|a|*|b|). A zero vector scores null. The reference has no
vector surface at all; its nearest concept is Fuzzy Lookup
(data_engineering_parser.py:1204-1207).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator


def _hyperplanes(dim: int, n_tables: int, n_bits: int, seed: int) -> list[list[list[float]]]:
    """Deterministic random hyperplanes (tiny: tables*bits*dim floats;
    the same on every task for the same seed)."""
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _md5_int_planes(dim: int, n_tables: int, n_bits: int, seed: int) -> list[list[list[int]]]:
    """Engine-neutral INTEGER hyperplanes: w = md5(seed:t:b:d) mod 2001
    - 1000. Reproducible in plain SQL (DuckDB: CAST('0x'||substr(md5(..),
    1,15) AS BIGINT) % 2001 - 1000), so an oracle can re-derive the exact
    same LSH tables. Combined with integer-quantized vectors the bucket
    bits are exact integer arithmetic — no float-sum sign flips between
    engines, in any summation order."""
    import hashlib

    def w(t: int, b: int, d: int) -> int:
        h = hashlib.md5(f"{seed}:{t}:{b}:{d}".encode()).hexdigest()
        return int(h[:15], 16) % 2001 - 1000

    return [
        [[w(t, b, d) for d in range(dim)] for b in range(n_bits)]
        for t in range(n_tables)
    ]


def _lsh_keys(n_tables: int, n_bits: int, seed: int, md5_quantize: int | None = None):
    """The LSH key function: an (n x dim) vector matrix -> (n x n_tables)
    int64 keys ``bucket + (t << n_bits)``, one key naming one (table,
    bucket). One BLAS matmul per call: (n x dim) @ (dim x tables*bits)
    -> sign bits (dot >= 0, NaN -> 0) -> bucket ids. A Catalyst
    formulation (tables*bits zip_with/aggregate dot folds per row)
    measured 4.8s -> 0.8s at 200k x dim64 x 8x10 against this one.

    The seeded hyperplanes are built from the matrix width on first use
    (deterministic, so every task builds the same). With `md5_quantize`
    they are `_md5_int_planes` against `_half_up`-quantized vectors:
    int-valued float64 products stay < 2^53, so the matmul is exact
    integer arithmetic in any order (oracle-reproducible)."""
    import numpy as np

    proj: dict[int, object] = {}
    pow2 = np.int64(1) << np.arange(n_bits, dtype=np.int64)
    table = np.arange(n_tables, dtype=np.int64) << n_bits

    def keys(m):
        dim = m.shape[1]
        if dim not in proj:
            planes = (_md5_int_planes if md5_quantize else _hyperplanes)(
                dim, n_tables, n_bits, seed
            )
            proj[dim] = np.asarray(planes, dtype=np.float64).reshape(-1, dim).T
        if md5_quantize:
            m = _half_up(m, md5_quantize)
        signs = ((m @ proj[dim]) >= 0).reshape(len(m), n_tables, n_bits)
        return (signs * pow2).sum(axis=2) + table

    return keys


def _bucket_frame(df: DataFrame, id_name: str, vec_name: str, keys) -> DataFrame:
    """(id, _key) rows, one per LSH table: `keys` (an `_lsh_keys`
    function) over each Arrow batch of vectors."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_name].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                k = keys(_vecmat(pdf[vec_name]))
                yield pd.DataFrame({
                    id_name: np.repeat(pdf[id_name].values, k.shape[1]),
                    "_key": k.ravel(),
                })

    return df.select(id_name, vec_name).mapInPandas(
        gen, schema=f"{id_name} {id_type}, _key long"
    )


#: k-means: Lloyd's iterations (early stop) over a hash-sample of rows
_KMEANS_ITERS = 10
_KMEANS_SAMPLE = 10_000


def _kmeans_centroids(c: DataFrame, n_cent: int, seed: int) -> list[list[float]]:
    """Lloyd's k-means on a seeded hash-sample of the corpus, driver-side
    numpy (sample x dim floats — a few MB). Deterministic: hash-ordered
    sample, hash-ordered init, fixed iteration count with early stop."""
    import numpy as np

    sample = (
        c.orderBy(F.xxhash64(F.col("corpus_id").cast("string"), F.lit(seed)))
        .limit(_KMEANS_SAMPLE)
        .select("_cv")
        .collect()
    )
    x = np.array([list(r["_cv"]) for r in sample], dtype=np.float64)
    cent = x[:n_cent].copy()  # init = first n hash-ordered sample rows
    for _ in range(_KMEANS_ITERS):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = np.array(
            [
                x[assign == j].mean(axis=0) if (assign == j).any() else cent[j]
                for j in range(n_cent)
            ]
        )
        if np.allclose(new, cent):
            break
        cent = new
    return cent.tolist()


def _sample_centroids(
    df: DataFrame, id_col: str, vec_col: str, n: int
) -> list[list[float]]:
    """The vectors of the `n` rows of `df` first in md5(id) order — the
    default centroids of similarity.topk_ivf and dedup.semantic.
    Deterministic and partitioning-independent, and the same
    ``ORDER BY md5(CAST(id AS VARCHAR))`` picks them in any SQL oracle.
    One TakeOrdered over `df` (pass the raw frame: it needs no
    shuffle); n rows of dim floats are driver-safe."""
    key = F.md5(F.col(id_col).cast("string"))
    return [list(r[vec_col])
            for r in df.select(id_col, vec_col).orderBy(key).limit(n).collect()]


def _topk(scored: DataFrame, query_id: str, k: int) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .withColumnRenamed("_rank", "rank")
    )


def _probe_score_frame(
    c: DataFrame, keys, q_ids, probes: dict, quantize: int | None, qid_type: str
) -> DataFrame:
    """(query_id, corpus_id, cosine) of every corpus row against the
    queries sharing one of its keys, in one `mapInPandas` pass over
    (corpus_id, _cv): each batch is read once, `keys(m)` gives its
    (n x m) int64 keys, and the rows of each key that has queries are
    scored against that key's query matrix by `_cos` (one BLAS matmul).
    `probes`: key -> (query positions in `q_ids`, `_vecnorm` of those
    queries). With m > 1 keys a row can meet one query under several;
    a corpus row lives in exactly one batch, so dropping the repeated
    (query, row) pairs there drops them everywhere.

    Corpus vectors cross Arrow once and the (bounded) query batch rides
    into the kernel: a candidate join that carried both vectors on
    every pair row measured 47s -> ~4s on 6.3M IVF candidate pairs."""
    import numpy as np
    import pandas as pd

    probe_keys = np.fromiter(probes, dtype=np.int64, count=len(probes))

    def gen(batches):
        for pdf in batches:
            if not probes or not len(pdf):
                continue
            m = _vecmat(pdf["_cv"])
            k = keys(m)
            ma, na = _vecnorm(m, quantize)
            flat = k.ravel()
            hit = np.nonzero(np.isin(flat, probe_keys))[0]
            hit = hit[np.argsort(flat[hit], kind="stable")]
            uniq, start = np.unique(flat[hit], return_index=True)
            rs, qs, cs = [], [], []
            for key, rows in zip(uniq, np.split(hit // k.shape[1], start[1:])):
                pos, qm = probes[int(key)]
                rs.append(np.repeat(rows, len(pos)))
                qs.append(np.tile(pos, len(rows)))
                cs.append(_cos((ma[rows], na[rows]), qm).ravel())
            if not rs:
                continue
            r, q, cos = (np.concatenate(x) for x in (rs, qs, cs))
            if k.shape[1] > 1:
                _, first = np.unique(r * len(q_ids) + q, return_index=True)
                r, q, cos = r[first], q[first], cos[first]
            yield pd.DataFrame({
                "query_id": q_ids[q],
                "corpus_id": pdf["corpus_id"].to_numpy()[r],
                "cosine": cos,
            })

    id_type = c.schema["corpus_id"].dataType.simpleString()
    return c.mapInPandas(
        gen, schema=f"query_id {qid_type}, corpus_id {id_type}, cosine double"
    )


def _probe_topk(spark: SparkSession, inputs, config, keys, q_keys=None) -> DataFrame:
    """The one body of the top-k operators. inputs: [corpus, queries];
    config: id_col, vec_col, query_id_col, query_vec_col, k, quantize.
    The corpus is spread for the numpy kernel; the query batch is
    collected (it is dimension-sized by construction) and keyed on the
    driver by `q_keys` (default `keys`); `_probe_score_frame` scores,
    `_topk` ranks by (cosine desc, corpus_id). Output: (query_id,
    corpus_id, cosine, rank)."""
    import numpy as np

    from ssis_to_pyspark_agent_spark.operators.dedup import _spread

    corpus, queries = inputs[0], inputs[1]
    quantize = config.get("quantize")
    c = _spread(spark, corpus, by_bytes=True).select(
        F.col(config["id_col"]).alias("corpus_id"), F.col(config["vec_col"]).alias("_cv")
    )
    q = queries.select(
        F.col(config.get("query_id_col", "query_id")).alias("query_id"),
        F.col(config.get("query_vec_col", config["vec_col"])).alias("_qv"),
    )
    q_rows = q.collect()
    q_ids = np.asarray([r.query_id for r in q_rows])
    probes = {}
    if q_rows:
        qm = _vecmat([r._qv for r in q_rows])
        qk = (q_keys or keys)(qm)
        for key in np.unique(qk):
            pos = np.nonzero((qk == key).any(axis=1))[0]
            probes[int(key)] = (pos, _vecnorm(qm[pos], quantize))
    scored = _probe_score_frame(
        c, keys, q_ids, probes, quantize, q.schema["query_id"].dataType.simpleString()
    )
    return _topk(scored, "query_id", config.get("k", 10)).select(
        "query_id", "corpus_id", "cosine", "rank"
    )


def _one_key(m):
    """Brute force's key function: every row shares key 0."""
    import numpy as np

    return np.zeros((len(m), 1), dtype=np.int64)


@operator("similarity.topk_bruteforce")
def topk_bruteforce(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Exact cosine top-k: every corpus row scored against the whole
    query matrix (one key), one BLAS matmul per Arrow batch — measured
    ~2.4x a per-pair Catalyst cosine fold at 50k x 64 x 50. With
    `quantize` the values are exact integer arithmetic (oracle-exact).
    A zero vector scores null and ranks last."""
    return _probe_topk(spark, inputs, config, _one_key)


@operator("similarity.topk_lsh")
def topk_lsh(spark: SparkSession, inputs, config, context) -> DataFrame:
    """LSH-bucketed ANN: corpus and queries keyed by the same seeded
    hyperplanes (`_lsh_keys`); candidates = bucket collisions in any
    table, scored by exact cosine."""
    n_tables = config.get("lsh_tables", 8)
    n_bits = config.get("lsh_bits")
    if n_bits is None:
        # Auto-size bucket granularity to the corpus (~8 rows/bucket):
        # fixed bit-widths are a silent cost/recall trap — too few bits
        # puts hundreds of rows per bucket (candidate explosion), too
        # many splits true neighbors. Tables stay the recall knob (more
        # tables = more chances to collide). One count() of the corpus;
        # see dedup.embedding for the measured failure mode.
        n_bits = min(18, max(8, math.ceil(math.log2(max(inputs[0].count(), 16) / 8))))
    # hyperplanes='md5': engine-neutral integer planes + quantized vectors
    # -> bucket assignment reproducible in plain SQL (exact oracle for the
    # whole approximate pipeline, not just the re-rank)
    md5_quantize = (
        config.get("quantize", 10000) if config.get("hyperplanes") == "md5" else None
    )
    keys = _lsh_keys(n_tables, n_bits, config.get("seed", 42), md5_quantize)
    return _probe_topk(spark, inputs, config, keys)


def _pair_cosine_frame(
    df: DataFrame,
    vec_a: str,
    vec_b: str,
    keep: list[str],
    quantize: int | None,
) -> DataFrame:
    """Project `keep` columns plus a rowwise `cosine` between two vector
    columns, as Arrow batches: a rowwise numpy dot over `_vecnorm`
    outputs finished with `_cos`'s IEEE ops (a zero vector -> null).
    With `quantize` the values are exact; without it only the last ulps
    depend on the summation order. Scores dedup.embedding's LSH verify.

    Candidate-verify stages are where ANN/dedup time actually goes at
    scale (candidates >> rows); measured 37s -> 11s on a 500k-vector IVF
    probe scoring ~6M pairs against an interpreted Catalyst fold."""
    import numpy as np
    import pandas as pd

    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
    )

    def gen(batches):
        for pdf in batches:
            out = pdf[list(keep)].copy()
            if not len(pdf):
                out["cosine"] = pd.Series(dtype="float64")
                yield out
                continue
            (ma, na), (mb, nb) = (
                _vecnorm(pdf[vec_a], quantize), _vecnorm(pdf[vec_b], quantize)
            )
            # rowwise finish with `_cos`'s IEEE ops (a zero vector -> null)
            with np.errstate(divide="ignore", invalid="ignore"):
                out["cosine"] = np.einsum("ij,ij->i", ma, mb) / (na * nb)
            yield out

    return df.mapInPandas(gen, schema=f"{fields}, cosine double")


def _half_up(m, quantize: int):
    """Scale and HALF_UP-round to int-valued float64 — matches Spark's
    F.round(double, 0) semantics (np.round would banker's-round ties the
    other way). EVERY numpy kernel that claims value-identity with an
    oracle's quantized cosine must round through this one helper — a
    divergent copy silently breaks the oracle guarantees."""
    import numpy as np

    m = np.asarray(m, dtype=np.float64) * quantize
    return np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5))


def _vecmat(col) -> "object":
    """Vector cells (a pandas Series of Arrow list cells, or collected
    lists) -> (n, dim) float64 matrix; a matrix passes through. Arrow
    cells arrive as numpy arrays — np.stack avoids the per-element
    Python list conversion (the measured bottleneck on multi-million-row
    scoring batches)."""
    import numpy as np

    if getattr(col, "ndim", 1) == 2:
        return np.asarray(col, dtype=np.float64)
    try:
        return np.stack(list(col)).astype(np.float64)
    except ValueError:  # ragged / object cells — slow path
        return np.array(list(map(list, col)), dtype=np.float64)


def _vecnorm(col, quantize: int | None):
    """(matrix, row norms) of vector cells: the input of `_cos`, the one
    numpy cosine kernel. With `quantize` the matrix is `_half_up`-rounded,
    so dots and squared norms are exact integer sums in float64 (< 2^53:
    BLAS summation order cannot change them)."""
    import numpy as np

    m = _vecmat(col)
    if quantize:
        m = _half_up(m, quantize)
    return m, np.sqrt((m * m).sum(axis=1))


def _cos(a, b):
    """|a| x |b| cosine matrix of `_vecnorm` outputs (one BLAS matmul).
    The finish is dot / (sqrt(na) * sqrt(nb)), so quantized values are
    bit-identical to the same ops in SQL (what the oracles compute). A
    zero vector scores NaN, which leaves Arrow as null: it ranks last
    and passes no threshold."""
    import numpy as np

    (ma, na), (mb, nb) = a, b
    with np.errstate(divide="ignore", invalid="ignore"):
        return (ma @ mb.T) / (na[:, None] * nb[None, :])


def _cos_pairs(ids, a, all_ids, b, threshold: float):
    """(a, b, cosine) pandas frame of every row pair of `a` x `b` with
    id a < id b and cosine >= threshold — each unordered pair of
    distinct ids once when the rows of `a` are rows of `b`; a
    duplicated id never pairs with itself (the survivor anti-join would
    read (x, x) as "drop x"). `a`, `b` are `_vecnorm`
    outputs; scored in blocks of 2048 rows of `a`, so the score matrix
    stays bounded. Shared by dedup.embedding's brute force and
    dedup.semantic's cluster verify."""
    import numpy as np
    import pandas as pd

    (ma, na), outs = a, []
    for s in range(0, len(ids), 2048):
        blk = ids[s:s + 2048]
        cos = _cos((ma[s:s + 2048], na[s:s + 2048]), b)
        i, j = np.nonzero((cos >= threshold) & (blk[:, None] < all_ids[None, :]))
        outs.append(pd.DataFrame({"a": blk[i], "b": all_ids[j], "cosine": cos[i, j]}))
    if not outs:
        return pd.DataFrame({"a": ids, "b": ids, "cosine": np.zeros(0)})
    return pd.concat(outs, ignore_index=True)


def _centroid_rank(m, cents, quantize: int | None, n: int):
    """(rows x n) ids of each row's top-`n` centroids by cosine, ties
    broken by ascending centroid id (a stable argsort of -cos), and the
    (rows x C) cosine matrix, scored by `_cos`. With `quantize` the
    ranking equals an oracle's array_sort of (-quantized cosine, cid).
    A zero vector scores NaN against every centroid and keeps centroid
    order; a zero centroid scores NaN and ranks last (argmax would pick
    it)."""
    import numpy as np

    cos = _cos(_vecnorm(m, quantize), _vecnorm(cents, quantize))
    return np.argsort(-cos, axis=1, kind="stable")[:, :n], cos


def _ivf_assign_frame(
    df: DataFrame,
    id_name: str,
    vec_name: str,
    cents,
    quantize: int | None,
    n: int,
) -> DataFrame:
    """(id, vec, _cids: array<int>, _ccos: double) — each row's top-`n`
    centroids (`_centroid_rank`) and its cosine to the first of them
    (null for a zero vector), one matmul per Arrow batch. Replaces a
    per-row interpreted expression that re-quantized the vector and
    recomputed its norm once PER CENTROID (measured 4.1s -> 0.4s warm
    on 2k rows x 16 centroids, identical assignment)."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_name].dataType.simpleString()
    vec_type = df.schema[vec_name].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {id_name: pdf[id_name], vec_name: pdf[vec_name],
                     "_cids": [], "_ccos": pd.Series(dtype="float64")}
                )
                continue
            order, cos = _centroid_rank(pdf[vec_name], cents, quantize, n)
            yield pd.DataFrame(
                {id_name: pdf[id_name], vec_name: pdf[vec_name],
                 "_cids": [row.astype("int32") for row in order],
                 "_ccos": cos[np.arange(len(cos)), order[:, 0]]}
            )

    return df.select(id_name, vec_name).mapInPandas(
        gen,
        schema=f"{id_name} {id_type}, {vec_name} {vec_type}, "
        "_cids array<int>, _ccos double",
    )


@operator("similarity.topk_ivf")
def topk_ivf(spark: SparkSession, inputs, config, context) -> DataFrame:
    """IVF coarse quantization. Centroids come from either a deterministic
    md5-ordered sample of the corpus (default: one pass, engine-neutral,
    `_sample_centroids`) or a real k-means (`kmeans=True`: Lloyd's
    iterations on a seeded corpus sample, numpy on the driver — centroid
    count x dim is tiny; better-balanced lists => better recall at the
    same nprobe). A corpus row's key is its
    nearest centroid, a query's keys its `nprobe` nearest
    (`_centroid_rank`), so queries scan only the lists they probe.

    At 100 TB, write the corpus partitioned by centroid once and
    amortize across query batches."""
    corpus = inputs[0]
    n_cent = config.get("centroids", 16)
    nprobe = config.get("nprobe", 4)
    quantize = config.get("quantize")
    named = corpus.select(
        F.col(config["id_col"]).alias("corpus_id"), F.col(config["vec_col"]).alias("_cv")
    )
    # the centroid samples read the unspread corpus: a top-n needs no
    # shuffle, and the spread's rebalance would put one under it
    if config.get("kmeans"):
        cents = _kmeans_centroids(named, n_cent, seed=config.get("seed", 42))
    else:
        cents = _sample_centroids(named, "corpus_id", "_cv", n_cent)

    if not cents:  # an empty corpus has no lists to probe
        return _probe_topk(spark, inputs, config, _one_key)

    def rank(n):
        return lambda m: _centroid_rank(m, cents, quantize, n)[0]

    return _probe_topk(spark, inputs, config, rank(1), rank(nprobe))
