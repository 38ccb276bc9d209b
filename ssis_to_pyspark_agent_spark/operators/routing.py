"""Filters / routing operators (SURVEY §2.4).

Conditional Split's SSIS semantics are ORDERED, MUTUALLY EXCLUSIVE outputs:
a row goes to the FIRST output whose predicate matches, else the default
output (EvaluationOrder in Sample_Medium_Package.dtsx:569-602). The
reference emits one ``df.filter(p_i)`` per output
(enhanced_json_mapper.py:2199-2243) which is subtly wrong when predicates
overlap; we implement first-match-wins exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.functions.expr import ExpressionCompiler, schema_of
from ssis_to_pyspark_agent_spark.operators import operator


@operator("conditional_split")
def conditional_split(spark: SparkSession, inputs, config, context):
    """`outputs`: ordered mapping port_name -> SSIS predicate expression;
    `default`: port name for non-matching rows (default "default").

    Single-pass plan: compute a route column with one chained
    ``when(p1).when(p2)...otherwise(default)`` (each predicate evaluated at
    most once per row, exclusivity by construction), then one filter per
    port. Catalyst collapses route+filter into the scan; with a multicast
    upstream the scan is shared.
    """
    df: DataFrame = inputs[0]
    comp = ExpressionCompiler(schema=schema_of(df), variables=context)
    route: Column | None = None
    preds: dict[str, Column] = {}
    for port, pred in config["outputs"].items():
        c = pred if isinstance(pred, Column) else comp.compile(pred)
        preds[port] = c
        route = F.when(c, F.lit(port)) if route is None else route.when(c, F.lit(port))
    default_port = config.get("default", "default")
    assert route is not None, "conditional_split needs >=1 output"
    routed = df.withColumn("_route", route.otherwise(F.lit(default_port)))
    if config.get("persist"):
        # when several ports feed ONE downstream plan (e.g. the medium-
        # package merge), each port's filter would otherwise re-materialize
        # the whole upstream subplan; caching the routed frame computes it
        # once. The runner's fan-out persist only caches the per-port
        # filters, which does not share the parent. The cache is
        # REGISTERED in the shared context so the pipeline's owner can
        # release it once the ports are consumed (NOTES invariant 13:
        # an operator must not leave an untracked corpus-sized persist
        # behind) — see RunResult.release_caches().
        routed = routed.persist()
        context.setdefault("_op_persists", []).append(routed)
    out = {
        port: routed.filter(F.col("_route") == port).drop("_route")
        for port in list(config["outputs"]) + [default_port]
    }
    return out


@operator("multicast")
def multicast(spark: SparkSession, inputs, config, context):
    """Multicast (reference enhanced_json_mapper.py:270-277 emits
    ``df.cache()``): expose N identical ports. The runner's fan-out
    persistence handles caching when >1 action consumes them; duplicating
    the lazy plan is otherwise free."""
    df: DataFrame = inputs[0]
    n = config.get("outputs", 2)
    return {f"out{i + 1}": df for i in range(n)}


@operator("sample")
def sample(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Percentage / Row Sampling (reference :1096-1097).

    method='random': ``df.sample`` (seeded, partition-level Bernoulli).
    method='hash': deterministic content-addressed sample —
    ``pmod(xxhash64(key), buckets) < hit_buckets`` — reproducible across
    runs/engines and cheap at 100 TB (no shuffle, pushdown-friendly).
    method='rows': exact N rows by seeded hash order (shuffle: sort+limit).
    """
    df: DataFrame = inputs[0]
    method = config.get("method", "random")
    if method == "random":
        return df.sample(fraction=config["fraction"], seed=config.get("seed", 42))
    if method == "hash":
        key = [F.col(c).cast("string") for c in config["key"]]
        buckets = config.get("buckets", 100)
        hit = int(round(config["fraction"] * buckets))
        return df.filter(F.pmod(F.xxhash64(*key), F.lit(buckets)) < hit)
    if method == "rows":
        key = [F.col(c).cast("string") for c in config["key"]]
        return df.orderBy(F.xxhash64(*key)).limit(config["n"])
    if method == "mod":
        # engine-neutral deterministic sample: key % n == r (oracle-friendly;
        # use method='hash' when the key distribution is clumpy)
        key = F.col(config["key"][0])
        return df.filter(key % config["n"] == config.get("r", 0))
    if method == "stratified":
        # per-stratum sampling rates (down/up-weighting data mixtures —
        # the training-data rebalancing primitive). fractions: stratum
        # value -> rate. Pure filter: no shuffle, pushdown-friendly, same
        # shape at 100 TB. mod=True selects on the integer key (engine-
        # neutral, oracle-able); default hashes the key (robust to clumpy
        # ids). Strata absent from `fractions` fall back to
        # `default_fraction` (0 = drop).
        strata = F.col(config["strata_col"])
        buckets = config.get("buckets", 10_000)
        key = F.col(config["key"][0])
        slot = (
            key % buckets if config.get("mod")
            else F.pmod(F.xxhash64(key.cast("string"), strata.cast("string")),
                        F.lit(buckets))
        )
        rate = F.lit(config.get("default_fraction", 0.0))
        for value, frac in config["fractions"].items():
            rate = F.when(strata == value, F.lit(float(frac))).otherwise(rate)
        return df.filter(slot < rate * buckets)
    raise ValueError(f"unknown sample method {method!r}")


@operator("sample.holdout")
def sample_holdout(spark: SparkSession, inputs, config, context):
    """Leakage-safe train/holdout split for pretraining corpora: the
    unit of assignment is the NEAR-DUPLICATE CLUSTER, not the document.
    A plain per-doc hash split leaks — a near-dup pair straddling the
    boundary puts an (almost) verbatim copy of held-out text in the
    training set, and the eval is contaminated. Here every connected
    component of the pair graph (any dedup.* op's pairs port) moves to
    one side atomically: side = md5-hash of the component
    representative, so two docs joined by ANY near-dup path can never
    land on different sides.

    inputs: [df, pairs] — pairs has (a, b) columns (the contract every
    dedup.* pairs port satisfies). With ``labels_input=True`` the second
    input is instead a precomputed dup-volume (x, comp) label frame —
    dedup.cluster's 'labels' port — so a pipeline that already
    clustered the pairs does NOT run label propagation twice.
    config: id_col, test_frac (0..1), salt (vary to re-draw the split),
    side_col (default 'side'), comp_col (default 'comp', '' to drop).
    Components come from the one data-driven path `_propagate_labels`
    shares with dedup.cluster: driver union-find under its pair cap,
    else min-label propagation with automatic fallback to
    diameter-independent star contraction on a deep graph — never
    partial labels, which would silently break the no-straddle
    guarantee. Their per-round lineage cuts are durable when the
    session has a checkpoint directory (``SparkContext.setCheckpointDir``),
    else ``localCheckpoint``.
    Output ports: 'out' (df + comp + side), 'train', 'test'.

    Scale plan: min-label propagation runs only over nodes that appear
    in an edge (dup-volume-sized — shared `_propagate_labels` with
    dedup.cluster), then ONE broadcast join stamps labels onto the
    corpus; isolated docs are their own component via coalesce. The
    side decision is the engine-neutral 60-bit md5 idiom (NOTES
    invariant 5), so the whole split is exactly re-derivable in SQL —
    deterministic across runs, engines, and executor counts.

    Reference has no counterpart (nearest: Percentage Sampling,
    data_engineering_parser.py:1096) — NEW per SURVEY §2.12."""
    from ssis_to_pyspark_agent_spark.operators.dedup import (
        _md5_60bit,
        _propagate_labels,
    )

    df, second = inputs[0], inputs[1]
    id_col = config["id_col"]
    frac = float(config["test_frac"])
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"test_frac must be in [0, 1], got {frac}")
    salt = config.get("salt", "")
    side_col = config.get("side_col", "side")
    comp_col = config.get("comp_col", "comp")

    # with labels_input the second input is dedup.cluster's 'labels'
    # port, (x, comp)
    prop = second if config.get("labels_input") else _propagate_labels(second)
    lbl = F.broadcast(
        prop.select(F.col("x").alias(id_col), F.col("comp").alias("_hc"))
    )
    comp = F.coalesce(F.col("_hc"), F.col(id_col))
    thr = int(frac * float(1 << 60))
    side = F.when(
        _md5_60bit(F.concat(comp.cast("string"), F.lit(salt))) < F.lit(thr),
        F.lit("test"),
    ).otherwise(F.lit("train"))
    out = df.join(lbl, id_col, "left").withColumns(
        {**({comp_col: comp} if comp_col else {}), side_col: side}
    ).drop("_hc")
    return {
        "out": out,
        "train": out.filter(F.col(side_col) == "train"),
        "test": out.filter(F.col(side_col) == "test"),
    }


@operator("sample.mixture")
def sample_mixture(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Domain-mixture reweighting — the pretraining data-mixing step
    (Pile/DoReMi/LLaMA-style per-source weights): each row's group maps
    to a target weight w and the row is emitted with multiplicity
    floor(w) plus one extra copy with probability frac(w), so expected
    multiplicity is exactly w. The extra-copy decision is a pure
    function of (id, replica) via the engine-neutral 60-bit md5 hash
    (NOTES invariant 5) — reproducible across runs AND engines, and
    exactly re-derivable by the SQL oracle.

    Plan: map-side explode of a <= ceil(w)-element sequence + a filter —
    NO shuffle at any scale; upsampling multiplies bytes only at the
    output. Downsampling (w < 1) is a pure filter. w = 0 drops the
    group. Groups absent from `weights` get `default_weight` (1.0).

    Output = input columns + `replica_col` (0-based copy index, so
    upsampled duplicates stay distinguishable downstream).

    Reference has no counterpart (nearest: Percentage Sampling,
    data_engineering_parser.py:1096) — NEW per SURVEY §2.12.
    """
    df: DataFrame = inputs[0]
    id_col, group_col = config["id_col"], config["group_col"]
    weights = {k: float(v) for k, v in config["weights"].items()}
    if any(w < 0 for w in weights.values()):
        raise ValueError("mixture weights must be >= 0")
    default_w = float(config.get("default_weight", 1.0))
    salt = config.get("salt", "")
    rep_col = config.get("replica_col", "replica")

    grp = F.col(group_col)
    wt = F.lit(default_w)
    for value, w in weights.items():
        wt = F.when(grp == value, F.lit(w)).otherwise(wt)
    # sequence(0, -1) would generate a DESCENDING [0, -1] — guard w = 0
    # with an empty array instead (NOTES invariant: Spark sequence runs
    # backwards when start > stop)
    reps = F.when(
        F.col("_wt") > 0,
        F.sequence(F.lit(0), F.ceil(F.col("_wt")).cast("int") - 1),
    ).otherwise(F.array().cast("array<int>"))
    out = df.withColumn("_wt", wt).withColumn(rep_col, F.explode(reps))
    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit

    h = _md5_60bit(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col(rep_col).cast("string"),
            F.lit(salt),
        )
    )
    frac = F.col("_wt") - F.floor("_wt")
    keep = (F.col(rep_col) < F.floor("_wt")) | (
        h < frac * F.lit(float(1 << 60))
    )
    return out.filter(keep).drop("_wt")


@operator("sample.balanced")
def sample_balanced(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Per-group quota capping — the downsampling complement of
    sample.mixture ("cap every domain at N documents"): each group keeps
    at most ``quota`` rows, chosen DETERMINISTICALLY as the quota
    smallest by (60-bit md5 hash of id, id) within the group —
    reproducible across runs and engines, exactly re-derivable by a SQL
    ``ROW_NUMBER() OVER (PARTITION BY group ORDER BY hash, id)`` oracle.

    Scale plan (the naive form is a window partitioned by group — a hot
    domain at 100 TB serializes into one task, NOTES invariant 17):
    1. one partial-aggregated groupBy counts each group;
    2. groups over quota get a Chernoff-safe hash threshold
       t = (q + 6*sqrt(q) + 20) / n — the per-group candidate set the
       filter keeps is ~quota-sized, so the ranking window then runs
       over bounded partitions;
    3. the rare group whose candidate set undershoots its quota
       (possible only for tiny quotas) is detected IN-PLAN — a per-group
       candidate tally broadcast-joins back, and short groups re-rank
       over their full rows inside the same action — so correctness
       never depends on the bound and the operator stays fully LAZY:
       zero planning jobs, the happy path's fallback branch carries
       zero rows at runtime (round-5 rework of the former eager audit,
       per the round-4 verdict).
    Groups at-or-under quota bypass ranking entirely (no shuffle beyond
    the count and the broadcast-joined counts table).

    config: group_col, id_col, quota (int, or {group: int}),
    default_quota (with a dict quota; None = unlimited), salt. A NULL
    group is its own group (default quota applies), mirroring
    sample.mixture's default-weight passthrough.

    Cost note: the lazy plan reads the input once per branch (under /
    capped / the tallies) within ONE action; nothing is persisted
    (NOTES invariant 13: the operator must not leave a corpus-sized
    cache behind). Persist the input upstream if it is expensive to
    recompute.

    Reference has no counterpart (nearest: Percentage Sampling,
    data_engineering_parser.py:1096) — NEW per SURVEY §2.12.
    """
    from pyspark.sql import Window

    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit

    df: DataFrame = inputs[0]
    id_col, group_col = config["id_col"], config["group_col"]
    quota_cfg = config["quota"]
    salt = config.get("salt", "")

    grp = F.col(group_col)
    if isinstance(quota_cfg, dict):
        default_q = config.get("default_quota")
        if not quota_cfg and default_q is None:
            raise ValueError(
                "sample.balanced: quota={} with no default_quota caps "
                "nothing — set at least one group quota or default_quota"
            )
        q_expr = (
            F.lit(int(default_q)) if default_q is not None
            else F.lit(None).cast("bigint")
        )
        for value, q in quota_cfg.items():
            q_expr = F.when(grp == value, F.lit(int(q))).otherwise(q_expr)
        min_quota = min(
            [int(q) for q in quota_cfg.values()]
            + ([int(default_q)] if default_q is not None else [])
        )
    else:
        q_expr = F.lit(int(quota_cfg))
        min_quota = int(quota_cfg)
    if min_quota < 0:
        raise ValueError("quota must be >= 0")

    h = _md5_60bit(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    base = df.withColumn("_h", h).withColumn("_q", q_expr)

    counts = (
        base.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumnRenamed(group_col, "_bg")
    )
    # null-safe: a NULL group must match its own count row, not vanish
    # from the join (and thus from the output)
    sized = base.join(
        F.broadcast(counts), grp.eqNullSafe(F.col("_bg"))
    ).drop("_bg")
    under = sized.filter(
        F.col("_q").isNull() | (F.col("_n") <= F.col("_q"))
    )
    over = sized.filter(
        F.col("_q").isNotNull() & (F.col("_n") > F.col("_q"))
    )

    # Chernoff-safe candidate threshold: the _h ranks are ~Uniform over
    # [0, 2^60), so keeping t*n candidates with t = (q + 6*sqrt(q) + 20)/n
    # undershoots q with probability < ~1e-8 even at q = 1
    t = (
        (F.col("_q") + 6 * F.sqrt(F.col("_q")) + F.lit(20.0))
        / F.col("_n")
    ) * F.lit(float(1 << 60))
    cand = over.filter(F.col("_h") < t)
    w = Window.partitionBy(group_col).orderBy("_h", id_col)

    # exact-safety audit, IN-PLAN: every capped group must have >= quota
    # candidates, else its top-quota set could be wrong. A per-group
    # candidate tally broadcast-joins back onto both the candidate and
    # the full `over` rows; groups whose tally undershoots their quota
    # ("short" — missing from the tally counts as 0) re-rank over their
    # FULL rows, everyone else ranks over the bounded candidate set.
    # On the happy path (Chernoff says P(short) < ~1e-8 per group) the
    # fallback branch carries ZERO rows at runtime, and because the
    # whole decision is part of the one lazy plan there is no eager
    # planning job at all — the former collect()-based audit cost a
    # full extra pass over an uncached input.
    ccounts = (
        cand.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumnRenamed(group_col, "_cg")
    )
    # short ⇔ quota > 0 and tally < quota (q = 0 keeps nothing — the
    # empty candidate set is already exact, never a fallback trigger)
    is_short = (F.col("_q") > 0) & (
        F.coalesce(F.col("_c"), F.lit(0)) < F.col("_q")
    )
    ok = (
        cand.join(F.broadcast(ccounts), grp.eqNullSafe(F.col("_cg")), "left")
        .filter(~is_short)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_q"))
    )
    redo = (
        over.join(F.broadcast(ccounts), grp.eqNullSafe(F.col("_cg")), "left")
        .filter(is_short)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_q"))
    )
    capped = ok.unionByName(redo)

    drop = ["_h", "_q", "_n", "_rk", "_cg", "_c"]
    return under.drop(*[c for c in drop if c in under.columns]).unionByName(
        capped.drop(*[c for c in drop if c in capped.columns])
    )


@operator("sample.importance")
def sample_importance(spark: SparkSession, inputs, config, context):
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling", public):
    score every raw document by how target-like its hashed bag-of-words
    is under a bucketed unigram language-model ratio, then keep the k
    highest-scoring docs.

    inputs: [raw, target]. Features: word unigrams bucketed by
    pmod(md5_60bit(word), n_buckets) — the engine-neutral md5 idiom
    (NOTES invariant 5), so every stage is oracle-expressible.
    Per-bucket log-ratio with add-one smoothing over B buckets:
    lambda[b] = ln((ct[b]+1)/(Nt+B)) - ln((cr[b]+1)/(Nr+B)); per-doc
    score = sum of lambda over the doc's token occurrences. Lambdas
    are QUANTIZED to integers (``quantize``, default 1e6) before the
    per-doc sum: bigint sums are partition-order-independent, while a
    float sum would be order-dependent and 1-ulp engine-divergent
    (the same transcendental-quantization rule as text.tfidf's round-6
    idf).

    Selection: top ``k`` by (score desc, id) — a total order, executed
    as TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), never a global sort. Docs with zero tokens are unscorable
    and never selected (no evidence either way — DSIR semantics).

    Scale shape: two B-bounded count shuffles with map-side partial
    aggregation; the lambda table (<= B rows) broadcasts; the score
    join runs on per-doc BUCKET COUNTS (doc x distinct-bucket rows,
    not doc x token). Raw text is tokenized twice (count pass + score
    pass) — a narrow recompute, preferred over persisting a
    corpus-token-sized frame (NOTES invariant 13).

    config: id_col, text_col, k, n_buckets (default 8192),
    quantize (default 1_000_000), target_text_col (defaults to
    text_col). Ports: 'out' (selected raw rows + score_q),
    'scores' ((id, score_q) for every scorable raw doc).

    Reference has no counterpart (nearest: Percentage Sampling,
    data_engineering_parser.py:1096) — NEW per SURVEY §2.12.
    """
    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit, _words

    raw, target = inputs[0], inputs[1]
    id_col, text_col = config["id_col"], config["text_col"]
    n_buckets = int(config.get("n_buckets", 8192))
    k = int(config["k"])
    quant = int(config.get("quantize", 1_000_000))
    t_text = config.get("target_text_col", text_col)
    if n_buckets <= 0 or k <= 0 or quant <= 0:
        raise ValueError(
            "sample.importance: n_buckets, k and quantize must be positive"
        )

    def _buckets(df: DataFrame, col: str) -> DataFrame:
        return (
            df.select(F.explode(_words(F.col(col))).alias("_w"))
            .filter(F.col("_w") != "")
            .select(F.pmod(_md5_60bit(F.col("_w")), F.lit(n_buckets)).alias("_b"))
        )

    tcnt = _buckets(target, t_text).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_ct")
    )
    rcnt = _buckets(raw, text_col).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr")
    )
    # corpus token totals ride the plan as broadcast one-row frames (an
    # eager collect would cost an extra full pass per corpus)
    tt = tcnt.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_nt"))
    rt = rcnt.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_nr"))
    # buckets absent from the raw corpus can never score a raw doc, so
    # the lambda table only needs raw-observed buckets (left join)
    lam = (
        rcnt.join(tcnt, "_b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "_b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                        / (F.col("_nt") + n_buckets)
                    )
                    - F.log(
                        (F.col("_cr") + 1).cast("double")
                        / (F.col("_nr") + n_buckets)
                    )
                )
                * quant
            )
            .cast("long")
            .alias("_lam"),
        )
    )
    doc_b = (
        raw.select(
            F.col(id_col).alias("_id"),
            F.explode(_words(F.col(text_col))).alias("_w"),
        )
        .filter(F.col("_w") != "")
        .groupBy(
            "_id", F.pmod(_md5_60bit(F.col("_w")), F.lit(n_buckets)).alias("_b")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    scores = (
        doc_b.join(F.broadcast(lam), "_b")
        .groupBy("_id")
        .agg(F.sum(F.col("_n") * F.col("_lam")).alias("score_q"))
    )
    sel = scores.orderBy(F.col("score_q").desc(), F.col("_id")).limit(k)
    out = raw.join(
        F.broadcast(sel.withColumnRenamed("_id", id_col)), id_col
    )
    return {"out": out, "scores": scores.withColumnRenamed("_id", id_col)}


def _dyadic_pow(x: Column, alpha: float, bits: int = 12) -> tuple[Column, int]:
    """``x ** alpha`` for x >= 0 with alpha quantized to ``bits`` binary
    fraction digits, built ONLY from IEEE-754 correctly-rounded ops
    (sqrt and multiply) so Spark and any IEEE SQL engine produce
    bit-identical doubles — unlike ``pow()``, which libm implementations
    round differently in the last ulp (the reason text.lm_score embeds a
    literal log2 table).

    alpha_q = round(alpha * 2^bits) / 2^bits; the result is the product
    of repeated square roots of x selected by alpha_q's set bits:
    x^(1/2) * x^(1/4) * ... Returns (column, alpha_q_numerator).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("temperature alpha must be in (0, 1]")
    num = int(alpha * (1 << bits) + 0.5)
    if num == 0:
        raise ValueError(f"alpha={alpha} underflows {bits} fraction bits")
    if num == (1 << bits):
        return x, num
    term = x
    acc: Column | None = None
    for j in range(1, bits + 1):
        term = F.sqrt(term)
        if (num >> (bits - j)) & 1:
            acc = term if acc is None else acc * term
    assert acc is not None
    return acc, num


def _dyadic_pow_sql(x_sql: str, num: int, bits: int = 12) -> str:
    """The SQL text mirror of `_dyadic_pow` — same op tree, same result
    bits on any IEEE engine (used by oracle legs)."""
    if num == (1 << bits):
        return x_sql
    terms = []
    expr = x_sql
    for j in range(1, bits + 1):
        expr = f"sqrt({expr})"
        if (num >> (bits - j)) & 1:
            terms.append(expr)
    return " * ".join(terms)


@operator("sample.temperature")
def sample_temperature(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Temperature-scaled domain sampling — the multilingual/multi-source
    rebalancing step (exponentiated smoothing over source shares:
    mBERT/XLM-R/mT5-style p_g ∝ n_g^alpha): small domains are kept at
    higher rates, large domains downsampled, with alpha=1 proportional
    (no change) and alpha→0 uniform.

    Per group g with n_g rows: q_g = n_g^alpha (computed via
    `_dyadic_pow`, exact across engines), quantized to
    qi_g = floor(q_g * 1024 + 0.5) so the normalizer S = Σ qi_g is an
    order-independent INTEGER sum; the keep rate is
    r_g = min(1, T * qi_g / (S * n_g)) with T the row budget (``budget``
    int, or ``budget_frac`` of the total), evaluated as a fixed
    double-typed expression tree (every step correctly rounded ⇒
    engine-identical). A row is kept iff
    md5_60bit(id || salt) < r_g * 2^60 — deterministic across runs AND
    engines, exactly re-derivable by a SQL oracle (NOTES invariant 5).

    Scale shape: ONE tiny shuffle (the per-group count, map-side
    combined), a single-task window-sum over the <=|groups| count rows
    for S, then the rate table broadcast-joins back onto the stream —
    the corpus itself never shuffles, so the operator is a pure filter
    at 100 TB. NULL groups form their own group (consistent with
    sample.balanced).

    config: id_col, group_col, alpha (quantized to ``alpha_bits``
    binary digits, default 12), budget OR budget_frac, salt,
    rate_quant (default 1024). Output = input columns (the kept rows).

    Reference has no counterpart (nearest: Percentage Sampling,
    data_engineering_parser.py:1096) — NEW per SURVEY §2.12.
    """
    from pyspark.sql import Window

    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit

    df: DataFrame = inputs[0]
    id_col, group_col = config["id_col"], config["group_col"]
    alpha = float(config["alpha"])
    bits = int(config.get("alpha_bits", 12))
    rq = int(config.get("rate_quant", 1024))
    salt = config.get("salt", "")
    budget = config.get("budget")
    budget_frac = config.get("budget_frac")
    if (budget is None) == (budget_frac is None):
        raise ValueError(
            "sample.temperature: exactly one of budget / budget_frac required"
        )
    if rq <= 0:
        raise ValueError("sample.temperature: rate_quant must be positive")

    counts = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    powed, _num = _dyadic_pow(F.col("_n").cast("double"), alpha, bits)
    q = counts.select(
        "_g", "_n", F.floor(powed * rq + F.lit(0.5)).cast("long").alias("_qi")
    )
    w = Window.partitionBy()  # <= |groups| rows: a single tiny task
    q = q.select(
        "_g",
        "_n",
        "_qi",
        F.sum("_qi").over(w).alias("_s"),
        F.sum("_n").over(w).alias("_ntot"),
    )
    if budget is not None:
        t_expr = F.lit(int(budget)).cast("double")
    else:
        t_expr = F.floor(F.lit(float(budget_frac)) * F.col("_ntot").cast("double")).cast(
            "double"
        )
    # fixed double expression tree — mirrored token-for-token by oracles
    thr = F.least(
        F.lit(1.0),
        (t_expr * F.col("_qi").cast("double"))
        / (F.col("_s").cast("double") * F.col("_n").cast("double")),
    )
    rates = q.select("_g", thr.alias("_thr"))
    h = _md5_60bit(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    joined = df.join(
        F.broadcast(rates),
        F.col(group_col).eqNullSafe(F.col("_g")),
        "left",
    )
    return (
        joined.filter(h.cast("double") < F.col("_thr") * F.lit(float(1 << 60)))
        .drop("_g", "_thr")
    )


@operator("filter.bloom")
def filter_bloom(spark: SparkSession, inputs, config, context):
    """Bounded-memory blocklist filtering — the 100 TB shape of "drop
    every document whose key appears in a huge blocklist" (bad-URL
    lists, benchmark-contamination digests, takedown lists) when the
    blocklist is too large to broadcast as an equi-join table but a
    fixed false-positive rate is acceptable.

    inputs: [corpus, blocklist]. The blocklist compresses into an
    m-bit Bloom bitmap built IN-PLAN (explode k positions per key ->
    distinct -> 64-bit words via shiftleft/bit_or -> one dense
    array<bigint> row), broadcast once (m/64 bigints — 16 KiB at the
    2^20 default, independent of blocklist size). The corpus is then
    probed in a single narrow pass: k md5-derived bit tests per row
    against the broadcast array — the corpus NEVER shuffles and never
    joins row-by-row against the blocklist. Deterministic by
    construction (positions are md5 arithmetic, no RNG), so Bloom
    FALSE POSITIVES are reproducible bit-for-bit by the DuckDB oracle:
    the usual one-sided Bloom guarantee (no false negatives; FP rate
    ~(1-e^{-kB/m})^k) with engine-exact semantics.

    config: key_col (corpus probe column), block_key_col (blocklist
    column, default key_col), m_bits (bitmap size, default 2^20, must
    be a multiple of 64 and <= 2^26 — the dense word row stays a
    bounded single-row array), k (hash count, default 7), salt
    (position-hash salt, default 'bloom'), emit ('flag' adds boolean
    `flag_col` [default 'bloom_hit']; 'drop' removes hits — the
    decontamination use; 'keep' keeps only hits), flag_col, hash_fn
    ('md5' default — oracle-exact positions; 'xxhash64' — ~5x cheaper
    JVM hash for production runs that no SQL oracle replays). NULL
    keys never hit (hash(NULL) is NULL; blocklist NULLs set no bits).

    Reference has no counterpart — NEW per SURVEY §2.12 family.
    """
    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit

    corpus: DataFrame = inputs[0]
    blocklist: DataFrame = inputs[1]
    key_col = config["key_col"]
    block_key_col = config.get("block_key_col", key_col)
    m_bits = int(config.get("m_bits", 1 << 20))
    k = int(config.get("k", 7))
    salt = config.get("salt", "bloom")
    emit = config.get("emit", "flag")
    flag_col = config.get("flag_col", "bloom_hit")
    if emit not in ("flag", "drop", "keep"):
        raise ValueError(
            f"filter.bloom: emit must be flag|drop|keep, got {emit!r}"
        )
    if m_bits % 64 != 0 or not (64 <= m_bits <= (1 << 26)):
        raise ValueError(
            "filter.bloom: m_bits must be a multiple of 64 in "
            f"[64, 2^26], got {m_bits}"
        )
    if k < 1:
        raise ValueError(f"filter.bloom: k must be >= 1, got {k}")
    hash_fn = config.get("hash_fn", "md5")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"filter.bloom: hash_fn must be md5|xxhash64, got {hash_fn!r}"
        )
    # reserved temp columns (same guard discipline as dedup.url's
    # _URL_TMP_COLS): an input already carrying them would hit an
    # ambiguous-reference analysis error after the crossJoin, and an
    # existing flag_col would be silently overwritten
    clash = [c for c in ("_bloom_bits", "_bloom_pos") if c in corpus.columns]
    if clash:
        raise ValueError(
            f"filter.bloom: corpus already has reserved column(s) {clash}; "
            "rename them before filtering"
        )
    if emit == "flag" and flag_col in corpus.columns:
        raise ValueError(
            f"filter.bloom: flag_col {flag_col!r} already exists in the "
            "corpus; pass flag_col=... to pick a free name"
        )
    n_words = m_bits // 64

    # 2^j as a signed-long literal array (shiftleft takes only a Python
    # int shift amount, but the bit index here is a Column); entry 64 is
    # the sign bit, whose signed value is -2^63 — bit_or and the
    # `& != 0` probe are sign-agnostic
    pow2 = F.array(
        *[F.lit(1 << j).cast("bigint") for j in range(63)],
        F.lit(-(1 << 63)).cast("bigint"),
    )

    def bit_of(p: Column) -> Column:
        return F.element_at(pow2, F.pmod(p, 64).cast("int") + 1)

    def pos(key: Column, i: int) -> Column:
        # hash_fn='md5' (default): oracle-exact positions (DuckDB
        # replicates the hex arithmetic). 'xxhash64': ~5x cheaper JVM
        # hash for production runs where no SQL oracle replays the
        # filter — same determinism, not DuckDB-reproducible.
        if hash_fn == "xxhash64":
            return F.pmod(
                F.xxhash64(key.cast("string"), F.lit(f"#{salt}{i}")),
                F.lit(m_bits),
            )
        return F.pmod(
            _md5_60bit(F.concat(key.cast("string"), F.lit(f"#{salt}{i}"))),
            F.lit(m_bits),
        )

    # DataFrame-qualified references: corpus and blocklist may share the
    # key column NAME; bare F.col() can bind the probe expression to the
    # blocklist lineage (runtime ATTRIBUTE_NOT_FOUND after the crossJoin)
    bk = blocklist[block_key_col]
    positions = blocklist.select(
        F.explode(F.array(*[pos(bk, i) for i in range(1, k + 1)]))
        .alias("_p")
    ).filter(F.col("_p").isNotNull()).distinct()
    # dense word array: every word index present exactly once (missing
    # words = 0), ordered — a single bounded row (n_words <= 2^20)
    words = (
        positions.select(
            (F.col("_p") / 64).cast("bigint").alias("_w"),
            bit_of(F.col("_p")).alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_word"))
    )
    bitmap = (
        spark.range(n_words).select(F.col("id").alias("_w"))
        .join(words, "_w", "left")
        .select("_w", F.coalesce("_word", F.lit(0)).alias("_word"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_w"), F.col("_word")))
                ),
                lambda s: s["_word"],
            ).alias("_bloom_bits")
        )
    )
    key = corpus[key_col]
    # k is a Python int, so the probe unrolls statically — no
    # higher-order functions (a nested transform+forall variant hit a
    # runtime lambda-binding INTERNAL_ERROR in Spark 4.1), and the
    # positions land in their own projection so each md5 is evaluated
    # once (invariant 20)
    probed = corpus.crossJoin(F.broadcast(bitmap)).withColumn(
        "_bloom_pos", F.array(*[pos(key, i) for i in range(1, k + 1)])
    )
    bits = F.col("_bloom_bits")
    p_i = [F.element_at(F.col("_bloom_pos"), i) for i in range(1, k + 1)]
    tests = [
        F.element_at(bits, (p / 64).cast("int") + 1)
        .bitwiseAND(bit_of(p)) != 0
        for p in p_i
    ]
    hit = tests[0]
    for t in tests[1:]:
        hit = hit & t
    hit = F.coalesce(hit, F.lit(False))
    if emit == "flag":
        return probed.withColumn(flag_col, hit).drop(
            "_bloom_bits", "_bloom_pos")
    if emit == "keep":
        return probed.filter(hit).drop("_bloom_bits", "_bloom_pos")
    return probed.filter(~hit).drop("_bloom_bits", "_bloom_pos")
