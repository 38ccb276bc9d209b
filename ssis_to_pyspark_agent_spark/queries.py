"""Query catalog: one entry per implemented operator family (SURVEY §2).

Every entry runs THROUGH the engine (Pipeline + operator registry), not raw
DataFrame calls — the correctness gate doubles as an engine test. Each has a
DuckDB-equivalent ANSI-SQL oracle unless the operation is not SQL-expressible
(LSH candidate generation, streaming state), in which case oracle=None and
the driver records a rows-only check.

Determinism rules used throughout (driver hash-compares values):
- SUM/AVG over doubles goes through DECIMAL(18,4) (exact arithmetic, same
  result bit-for-bit in any engine), then CAST to DOUBLE.
- every computed column is aliased identically in Spark and SQL.
- ties in rankings broken by a unique key.
- floats never feed GROUP BY keys.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators.dedup import _lambda_bind, _local_frame
from ssis_to_pyspark_agent_spark.operators.dedup import _words as _words_fn
from ssis_to_pyspark_agent_spark.plans import Pipeline, run_pipeline


def _words_col(name: str) -> Column:
    """Normalized word array of a column — the shared tokenization every
    text oracle mirrors (lower/trim/collapse-whitespace, split on space)."""
    return _words_fn(F.col(name))

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _p(name: str, sf_dir: str, *tables: str) -> Pipeline:
    p = Pipeline(name)
    for t in tables:
        p.step(t, "source.parquet", path=f"{sf_dir}/{t}.parquet")
    return p


def _scratch(tag: str) -> str:
    """STABLE per-query scratch dir for sink round-trips. mkdtemp-per-run
    leaked a fresh copy of the written data into /tmp on every bench /
    sweep iteration; a stable path + mode='overwrite' at every writer
    reuses one footprint. (Single-process use by design — the driver runs
    queries sequentially.)"""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "spark_graft_scratch", tag)
    os.makedirs(d, exist_ok=True)
    return d


def _dec(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,4)")


def _dsum(c: str | Column) -> Column:
    # decimal -> string -> double: the string parse is correctly rounded
    # in every engine, while decimal->double conversion is not (DuckDB
    # divides int128 by 10^scale: up to 2 ulp off for sums >= 2^53/scale)
    return F.sum(_dec(c)).cast("string").cast("double")


# ---------------------------------------------------------------------------
# Aggregate / filter / derived column (SURVEY §2.3, §2.7) — TPC-H Q1 shape
# ---------------------------------------------------------------------------


@query(
    "q01_agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    p = (
        _p("q01", sf_dir, "lineitem")
        .step(
            "flt", "filter", "lineitem",
            predicate="l_shipdate <= timestamp'1998-09-02 00:00:00'", sql=True,
        )
        .step(
            "agg", "aggregate", "flt",
            keys=["l_returnflag", "l_linestatus"],
            aggs={
                "sum_qty": _dsum("l_quantity"),
                "sum_base_price": _dsum("l_extendedprice"),
                "sum_disc_price": F.sum(disc_price).cast("string").cast("double"),
                "avg_qty": _dsum("l_quantity") / F.count("l_quantity"),
                "count_order": F.count(F.lit(1)),
            },
        )
    )
    return run_pipeline(spark, p).df("agg")


# ---------------------------------------------------------------------------
# Derived Column / SSIS expression language (§2.3)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Lookup (§2.5)
# ---------------------------------------------------------------------------


@query(
    "q03_lookup_chain",
    # Merged q03+q04 (round-2 consolidation: every query must sit inside
    # the driver's 50-query window): the chained-lookup match path AND the
    # no-match redirect port of a partial lookup, as one tagged union.
    oracle="""
    WITH n AS (SELECT * FROM nation WHERE n_nationkey < 10)
    SELECT c.c_custkey, c.c_name, c.c_acctbal,
           n.n_name AS nation_name, r.r_name AS region_name,
           'match' AS port
    FROM customer c
    JOIN n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.c_acctbal,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'nomatch'
    FROM customer c LEFT JOIN n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_nationkey IS NULL
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q03", sf_dir, "customer", "nation", "region")
        .step("small_n", "filter", "nation", predicate="[n_nationkey] < 10")
        # Cache Transform feeding the Lookup (the SSIS full-cache
        # connection-manager pattern) — the lookup reads THROUGH the
        # cached dim, so the cache step is oracle-load-bearing
        .step("cm", "cache", "small_n")
        .step(
            "ln", "lookup", ["customer", "cm"],
            keys={"c_nationkey": "n_nationkey"},
            copy={"nation_name": "n_name", "_rk": "n_regionkey"},
            split_match=True,
        )
        .step(
            "lr", "lookup", ["ln.match", "region"],
            keys={"_rk": "r_regionkey"},
            copy={"region_name": "r_name"},
            no_match="fail",
        )
    )
    r = run_pipeline(spark, p)
    cols = ["c_custkey", "c_name", "c_acctbal"]
    matched = r.df("lr").select(
        *cols, "nation_name", "region_name", F.lit("match").alias("port")
    )
    nomatch = r.df("ln.nomatch").select(
        *cols,
        F.lit(None).cast("string").alias("nation_name"),
        F.lit(None).cast("string").alias("region_name"),
        F.lit("nomatch").alias("port"),
    )
    return matched.unionByName(nomatch)


# ---------------------------------------------------------------------------
# Merge Join inner/left/full (§2.5), null-safe keys
# ---------------------------------------------------------------------------


@query(
    "q05_merge_join_full",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nkey, COUNT(*) AS n_cust
               FROM customer WHERE c_acctbal > 0 GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nkey, COUNT(*) AS n_supp
               FROM supplier WHERE s_acctbal > 2500 GROUP BY s_nationkey)
    SELECT COALESCE(c.nkey, s.nkey) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nkey = s.nkey
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q05", sf_dir, "customer", "supplier")
        .step("cf", "filter", "customer", predicate="[c_acctbal] > 0")
        .step("sf", "filter", "supplier", predicate="[s_acctbal] > 2500")
        .step("ca", "aggregate", "cf", keys=["c_nationkey"],
              aggs={"n_cust": ("count", "*")})
        .step("ca2", "select", "ca", columns={"ckey": "c_nationkey", "n_cust": "n_cust"})
        .step("sa", "aggregate", "sf", keys=["s_nationkey"],
              aggs={"n_supp": ("count", "*")})
        .step("sa2", "select", "sa", columns={"skey": "s_nationkey", "n_supp": "n_supp"})
        .step("j", "join", ["ca2", "sa2"], how="full", keys=[("ckey", "skey")],
              null_safe=True)
        .step("drv", "derived_column", "j", columns={
            "nationkey": "REPLACENULL([ckey], [skey])",
            "n_cust2": "REPLACENULL([n_cust], 0)",
            "n_supp2": "REPLACENULL([n_supp], 0)",
        })
        .step("prj", "select", "drv",
              columns={"nationkey": "nationkey", "n_cust": "n_cust2", "n_supp": "n_supp2"})
    )
    return run_pipeline(spark, p).df("prj")


@query(
    "q06_join_semi_anti",
    # Merged q06+q07: LeftSemi and LeftAnti joins as one tagged union.
    oracle="""
    SELECT c_custkey, c_name, 'has_big_order' AS port FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    UNION ALL
    SELECT c_custkey, c_name, 'no_orders' FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q06", sf_dir, "customer", "orders")
        # prune before the fan-out persist (two join consumers each side)
        .step("cust", "select", "customer",
              columns=["c_custkey", "c_name"])
        .step("ok", "select", "orders",
              columns=["o_custkey", "o_totalprice"])
        .step("big", "filter", "ok", predicate="[o_totalprice] > 300000")
        .step("semi", "join", ["cust", "big"], how="left_semi",
              keys=[("c_custkey", "o_custkey")],
              select_left=["c_custkey", "c_name"])
        .step("semi_t", "derived_column", "semi",
              columns={"port": '"has_big_order"'})
        .step("anti", "join", ["cust", "ok"], how="left_anti",
              keys=[("c_custkey", "o_custkey")],
              select_left=["c_custkey", "c_name"])
        .step("anti_t", "derived_column", "anti", columns={"port": '"no_orders"'})
        .step("u", "union_all", ["semi_t", "anti_t"])
    )
    return run_pipeline(spark, p).df("u")


@query(
    "q08_join_theta_range",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_quantity
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 45
    WHERE o.o_orderstatus = 'F'
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q08", sf_dir, "orders", "lineitem")
        .step("of", "filter", "orders", predicate='[o_orderstatus] == "F"')
        .step("j", "join", ["of", "lineitem"], how="inner",
              keys=[("o_orderkey", "l_orderkey")],
              condition="r.l_quantity > 45",
              select_left=["o_orderkey"],
              select_right=["l_linenumber", "l_quantity"])
    )
    return run_pipeline(spark, p).df("j")


# ---------------------------------------------------------------------------
# Conditional split (§2.4) — first-match-wins with overlapping predicates
# ---------------------------------------------------------------------------

_SPLIT_ORACLE_ROUTE = """
    CASE WHEN o_totalprice > 300000 THEN 'huge'
         WHEN o_orderstatus = 'O' OR o_totalprice > 200000 THEN 'open_or_big'
         WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
         ELSE 'default' END
"""


@query(
    "q09_conditional_split_route",
    # Merged q09+q10: every routed row with its port tag — row-level
    # verification of first-match-wins exclusivity across ALL four ports
    # (strictly stronger than the old one-port rows + per-port counts).
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           {_SPLIT_ORACLE_ROUTE} AS route
    FROM orders
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _p("q09", sf_dir, "orders")
    # prune BEFORE the split: the fan-out persist materializes its input,
    # so projecting first keeps the cached relation (and the scan) at the
    # 4 needed columns instead of the full table width
    p.step("prj0", "select", "orders",
           columns=["o_orderkey", "o_orderstatus", "o_totalprice",
                    "o_orderpriority"])
    p.step(
        "split", "conditional_split", "prj0", outputs={
            "huge": "[o_totalprice] > 300000",
            "open_or_big": '[o_orderstatus] == "O" || [o_totalprice] > 200000',
            "urgent": '[o_orderpriority] == "1-URGENT"',
        },
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    for port in ("huge", "open_or_big", "urgent", "default"):
        p.step(f"t_{port}", "derived_column", f"split.{port}",
               columns={"route": F.lit(port)})
        p.step(f"p_{port}", "select", f"t_{port}", columns=cols + ["route"])
    # the urgent port leaves through the JSON destination and comes back
    # through the JSON source (declared schema, no inference) — the
    # JSON sink/source pair is oracle-load-bearing for these rows
    jdir = _scratch("q09_json") + "/urgent"
    p.step("jsink", "sink.json", "p_urgent", path=jdir, mode="overwrite")
    p.step("jrt", "source.json", "jsink", path=jdir,
           schema="o_orderkey bigint, o_orderstatus string, "
                  "o_totalprice double, route string")
    p.step("jprj", "select", "jrt", columns=cols + ["route"])
    p.step("u", "union_all",
           ["p_huge", "p_open_or_big", "jprj", "p_default"])
    return run_pipeline(spark, p).df("u")


# ---------------------------------------------------------------------------
# Set ops (§2.6)
# ---------------------------------------------------------------------------


@query(
    "q11_set_ops",
    # Merged q11+q12+q13: UNION ALL / INTERSECT / EXCEPT as one tagged
    # union over the same two inputs.
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS op FROM customer
    UNION ALL
    SELECT s_nationkey, 'supplier' FROM supplier
    UNION ALL
    SELECT nationkey, 'intersect' FROM
      (SELECT c_nationkey AS nationkey FROM customer
       INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'except' FROM
      (SELECT c_nationkey AS nationkey FROM customer
       EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q11", sf_dir, "customer", "supplier")
        .step("c", "select", "customer", columns={"nationkey": "c_nationkey"})
        .step("cl", "derived_column", "c", columns={"op": '"customer"'})
        .step("s", "select", "supplier", columns={"nationkey": "s_nationkey"})
        .step("sl", "derived_column", "s", columns={"op": '"supplier"'})
        .step("i", "intersect", ["c", "s"])
        .step("il", "derived_column", "i", columns={"op": '"intersect"'})
        .step("e", "except", ["c", "s"])
        .step("el", "derived_column", "e", columns={"op": '"except"'})
        .step("u", "union_all", ["cl", "sl", "il", "el"])
    )
    return run_pipeline(spark, p).df("u")


# ---------------------------------------------------------------------------
# Sort + EliminateDuplicates, top-k, window (§2.8, §2.10)
# ---------------------------------------------------------------------------


@query(
    "q14_sort_dedup",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
    FROM lineitem ORDER BY l_shipdate DESC, l_returnflag, l_linestatus
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q14", sf_dir, "lineitem")
        .step("prj", "select", "lineitem",
              columns=["l_returnflag", "l_linestatus", "l_shipdate"])
        .step("srt", "sort", "prj",
              keys=[("l_shipdate", "desc"), ("l_returnflag", "asc"),
                    ("l_linestatus", "asc")],
              eliminate_duplicates=True)
    )
    return run_pipeline(spark, p).df("srt")


@query(
    "q15_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders) WHERE rank <= 3
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q15", sf_dir, "orders")
        .step("prj", "select", "orders",
              columns=["o_orderpriority", "o_orderkey", "o_totalprice"])
        .step("tk", "top_k", "prj", partition_by=["o_orderpriority"],
              order_by=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
              k=3, keep_rank=True, rank_col="rank")
    )
    df = run_pipeline(spark, p).df("tk")
    return df.withColumn("rank", F.col("rank").cast("long"))


@query(
    "q16_window_suite",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           row_number()   OVER w1 AS rn,
           lag(o_totalprice)  OVER w1 AS lag_price,
           lead(o_totalprice) OVER w1 AS lead_price,
           ntile(4)       OVER w1 AS quartile,
           count(*)       OVER (w1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (w1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS run_price,
           first_value(o_totalprice) OVER (w1 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
           last_value(o_totalprice)  OVER (w1 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
           rank()         OVER w2 AS rk,
           dense_rank()   OVER w2 AS drk,
           percent_rank() OVER w2 AS prk,
           cume_dist()    OVER w2 AS cd
    FROM orders WHERE o_orderkey % 7 = 0
    WINDOW w1 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey),
           w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority)
    """,
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset/frame window functions as one suite through the
    `window` operator (SURVEY §2.10: the reference has NO window functions;
    first-class here). Offset functions are ordered by the unique order key
    (total order -> deterministic); ranking functions are ordered by the
    5-value priority so ties exercise rank vs dense_rank vs percent_rank.
    The running SUM goes through DECIMAL(18,4) in both engines: windowed
    double summation trees differ between engines, exact decimal does not."""
    part, okey = ["o_orderstatus"], [("o_orderkey", "asc")]
    p = (
        _p("q16", sf_dir, "orders")
        .step("flt", "filter", "orders", predicate="[o_orderkey] % 7 == 0")
        .step("w1", "window", "flt", partition_by=part, order_by=okey,
              columns={"rn": ("row_number",),
                       "lag_price": ("lag", "o_totalprice"),
                       "lead_price": ("lead", "o_totalprice"),
                       "quartile": ("ntile", 4)})
        .step("w2", "window", "w1", partition_by=part, order_by=okey,
              frame=("rows", "unbounded", "current"),
              columns={"run_cnt": ("count", "o_orderkey"),
                       "_run_price_dec": ("sum", _dec("o_totalprice"))})
        .step("w3", "window", "w2", partition_by=part, order_by=okey,
              frame=("rows", "unbounded", "unbounded_following"),
              columns={"fv": ("first", "o_totalprice"),
                       "lv": ("last", "o_totalprice")})
        .step("w4", "window", "w3", partition_by=part,
              order_by=[("o_orderpriority", "asc")],
              columns={"rk": ("rank",), "drk": ("dense_rank",),
                       "prk": ("percent_rank",), "cd": ("cume_dist",)})
        .step("drv", "derived_column", "w4", columns={
            "run_price": F.col("_run_price_dec").cast("string").cast("double"),
        })
        .step("prj", "select", "drv", columns=[
            "o_orderkey", "o_orderstatus", "rn", "lag_price", "lead_price",
            "quartile", "run_cnt", "run_price", "fv", "lv", "rk", "drk",
            "prk", "cd",
        ])
    )
    return run_pipeline(spark, p).df("prj")


# ---------------------------------------------------------------------------
# Pivot / unpivot / rollup / cube (§2.7, §2.9)
# ---------------------------------------------------------------------------


@query(
    "q17_pivot_unpivot_roundtrip",
    # Merged q17+q18: pivot to wide (status columns, zero-filled), then
    # unpivot the SAME frame back to long — one query exercises both
    # reshape operators, and the roundtrip makes fill_value visible
    # (absent (year,status) combinations come back as explicit zeros).
    oracle="""
    WITH y AS (SELECT DISTINCT YEAR(o_orderdate) AS order_year FROM orders),
    m(status) AS (VALUES ('O'), ('F'), ('P')),
    cnt AS (SELECT YEAR(o_orderdate) AS order_year, o_orderstatus AS status,
                   COUNT(*) AS n FROM orders GROUP BY 1, 2)
    SELECT y.order_year, m.status, COALESCE(cnt.n, 0) AS n
    FROM y CROSS JOIN m
    LEFT JOIN cnt ON cnt.order_year = y.order_year AND cnt.status = m.status
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q17", sf_dir, "orders")
        .step("drv", "derived_column", "orders",
              columns={"order_year": "YEAR([o_orderdate])"})
        .step("pv", "pivot", "drv", keys=["order_year"], pivot_col="o_orderstatus",
              values=["O", "F", "P"], aggs={"n": ("count", "*")}, fill_value=0)
        .step("up", "unpivot", "pv", ids=["order_year"],
              values=["O", "F", "P"], var_col="status", value_col="n")
    )
    return run_pipeline(spark, p).df("up")


@query(
    "q19_multilevel_aggregates",
    # Merged q19+q20+q69: ROLLUP, CUBE, and an explicit GROUPING SETS
    # (one set — (l_linestatus) — not reachable by rollup/cube order) over
    # the same keys/aggs, tagged and unioned.
    oracle="""
    SELECT 'rollup' AS mode, l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube', l_returnflag, l_linestatus, COUNT(*),
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets', l_returnflag, l_linestatus, COUNT(*),
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = ["l_returnflag", "l_linestatus"]
    aggs = {"n": ("count", "*"), "sum_qty": _dsum("l_quantity")}
    p = _p("q19", sf_dir, "lineitem")
    p.step("prj0", "select", "lineitem",
           columns=["l_returnflag", "l_linestatus", "l_quantity"])
    # ONE cube pass instead of rollup + cube + grouping_sets passes
    # (r11, guide §2.4): cube's grouping sets are a superset of both
    # other modes', so each aggregated row fans out to its 1-3 mode
    # tags via grouping_id — 1 scan + 1 Expand(4x) + 1 exchange where
    # the old plan paid 3 scans + Expand(3x/4x/2x) + 3 exchanges for
    # identical rows (equality oracle-checked; the rollup set is
    # {(rf,ls),(rf),()} = gid 0/1/3, gsets is {(rf,ls),(ls)} = gid 0/2
    # under Spark's leftmost-key-is-MSB grouping_id contract).
    p.step("cu", "aggregate", "prj0", keys=keys, mode="cube", aggs=aggs,
           emit_grouping_id="_gid")
    r = run_pipeline(spark, p)
    c = r.df("cu")
    mode = F.explode(
        F.filter(
            F.array(
                F.when(F.col("_gid").isin(0, 1, 3), F.lit("rollup")),
                F.lit("cube"),
                F.when(F.col("_gid").isin(0, 2), F.lit("gsets")),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return c.select(
        mode.alias("mode"), "l_returnflag", "l_linestatus", "n", "sum_qty")


# ---------------------------------------------------------------------------
# Checksum / data conversion / sample (§2.3, §2.4)
# ---------------------------------------------------------------------------


@query(
    "q21_checksum_md5",
    oracle="""
    SELECT c_custkey,
           MD5(CONCAT_WS(CHR(31), CAST(c_custkey AS VARCHAR), c_name,
                         c_mktsegment)) AS row_md5
    FROM customer
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q21", sf_dir, "customer")
        .step("ck", "checksum", "customer",
              columns=["c_custkey", "c_name", "c_mktsegment"],
              algorithm="md5", out="row_md5")
        .step("prj", "select", "ck", columns=["c_custkey", "row_md5"])
    )
    return run_pipeline(spark, p).df("prj")


def _q22_script(pdf):
    """Script Component body (merged q54): vectorized pandas arithmetic."""
    return pdf.assign(
        qty_price=pdf.qty_int * pdf.price_dec,
        qty_centered=pdf.qty_int - 25.0,
    )


@query(
    "q22_data_conversion_script",
    # Merged q22+q54: SSIS Data Conversion casts plus the Script Component
    # (Arrow-vectorized pandas batch) in one pipeline; the script's
    # arithmetic is IEEE-exact so the oracle stays bit-green.
    oracle="""
    SELECT l_orderkey, CAST(TRUNC(l_quantity) AS INT) AS qty_int,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
           CAST(l_linenumber AS SMALLINT) AS line_small,
           CAST(l_shipdate AS DATE) AS ship_date,
           CAST(TRUNC(l_quantity) AS INT)
             * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
             AS qty_price,
           CAST(TRUNC(l_quantity) AS INT) - 25.0 AS qty_centered
    FROM lineitem WHERE l_orderkey % 100 = 1
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q22", sf_dir, "lineitem")
        .step("flt", "filter", "lineitem", predicate="[l_orderkey] % 100 == 1")
        .step("dc", "data_conversion", "flt", casts={
            "qty_int": ("l_quantity", "DT_I4"),
            "price_dec": ("l_extendedprice", "decimal(12,2)"),
            "line_small": ("l_linenumber", "DT_I2"),
            "ship_date": ("l_shipdate", "DT_DBDATE"),
        })
        # exit the decimal to double: Spark->pandas keeps Decimal objects
        # while DuckDB fetchdf gives float64, so the driver's value hash
        # diverges on repr alone. The DT_NUMERIC conversion itself (the
        # 2-dp quantization) still happens at the decimal step above.
        .step("dc2", "data_conversion", "dc",
              casts={"price_dec": ("price_dec", "DT_R8")})
        .step("prj", "select", "dc2",
              columns=["l_orderkey", "qty_int", "price_dec", "line_small",
                       "ship_date"])
        .step("sc", "script", "prj", fn=_q22_script,
              schema="l_orderkey bigint, qty_int int, price_dec double, "
                     "line_small smallint, ship_date date, "
                     "qty_price double, qty_centered double")
    )
    return run_pipeline(spark, p).df("sc")


@query(
    "q23_sampling_modes",
    # Merged q23+q79+mixture+balanced+importance: deterministic mod
    # sampling, per-stratum-rate stratified sampling (both pure
    # pushdown-friendly filters), sample.mixture — domain-mixture
    # reweighting over documents.source (src0 2.5x up, src1 exact 2x,
    # src2 0.3 down, src3 dropped, rest 1.0 passthrough; the
    # fractional-replica decision is the engine-neutral 60-bit md5
    # hash, re-derived here verbatim) — sample.balanced, per-group
    # quota capping: each source keeps its 120 rows with the smallest
    # (md5 hash, id), the exact ROW_NUMBER the oracle computes
    # directly — sample.importance (DSIR, Xie et al. 2023):
    # quantized bucketed-unigram log-ratio scores vs the %19 target
    # split, integer-exact in both engines — AND sample.temperature
    # (mT5/XLM-R-style n^alpha domain rebalancing, alpha=0.5,
    # budget_frac=0.4): the n^0.5 is IEEE sqrt (correctly rounded in
    # BOTH engines, unlike pow), the normalizer is an integer sum of
    # quantized q_g, and the keep rule is the md5-hash threshold —
    # every double op mirrored token-for-token below.
    oracle="""
    SELECT 'mod' AS mode, o_orderkey AS key, o_orderstatus AS grp,
           0 AS replica
    FROM orders WHERE o_orderkey % 20 = 7
    UNION ALL
    SELECT 'stratified', o_orderkey, o_orderstatus, 0 FROM orders
    WHERE o_orderkey % 10000 < (CASE o_orderstatus WHEN 'F' THEN 0.5
                                                   WHEN 'O' THEN 0.1
                                                   ELSE 0.02 END) * 10000
    UNION ALL
    SELECT 'mixture', doc_id, source, CAST(replica AS INT) FROM (
      SELECT doc_id, source, wt,
             unnest(range(0, CAST(ceil(wt) AS BIGINT))) AS replica
      FROM (SELECT doc_id, source,
                   CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 2.0
                               WHEN 'src2' THEN 0.3 WHEN 'src3' THEN 0.0
                               ELSE 1.0 END AS wt
            FROM documents))
    WHERE replica < floor(wt)
       OR CAST('0x' || substr(md5(doc_id || ':' || replica), 1, 15)
               AS BIGINT) < (wt - floor(wt)) * 1152921504606846976
    UNION ALL
    SELECT 'balanced', doc_id, source, 0 FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 15) AS BIGINT), doc_id) AS rk
      FROM documents) WHERE rk <= 120
    UNION ALL
    -- sample.importance (DSIR): docs with doc_id % 19 = 0 act as the
    -- target corpus; the rest are scored by summed quantized bucketed
    -- unigram log-ratios and the top 200 selected (score desc, id).
    -- The md5 bucket, add-one smoothing, and round(x*1000) quantization
    -- re-derive the operator's exact integer arithmetic.
    SELECT 'importance', s.doc_id, r2.source, CAST(s.s AS INT) FROM (
      WITH tgtw AS (
        SELECT CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS b
        FROM (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
              FROM documents WHERE doc_id % 19 = 0)),
      raww AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS b
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\\S+')) AS w
              FROM documents WHERE doc_id % 19 <> 0)),
      tc AS (SELECT b, COUNT(*) AS c FROM tgtw GROUP BY b),
      rc AS (SELECT b, COUNT(*) AS c FROM raww GROUP BY b),
      nt AS (SELECT COALESCE(SUM(c), 0) AS n FROM tc),
      nr AS (SELECT COALESCE(SUM(c), 0) AS n FROM rc),
      lam AS (SELECT rc.b,
                     CAST(round((ln((COALESCE(tc.c, 0) + 1.0)
                                    / (nt.n + 4096))
                                 - ln((rc.c + 1.0) / (nr.n + 4096)))
                                * 1000) AS BIGINT) AS lam
              FROM rc LEFT JOIN tc USING (b), nt, nr),
      db AS (SELECT doc_id, b, COUNT(*) AS n FROM raww
             GROUP BY doc_id, b),
      sc AS (SELECT db.doc_id, SUM(db.n * lam.lam) AS s
             FROM db JOIN lam USING (b) GROUP BY db.doc_id)
      SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 200
    ) s JOIN documents r2 USING (doc_id)
    UNION ALL
    SELECT 'temperature', d.doc_id, d.source, 0
    FROM documents d JOIN (
      SELECT _g, least(1.0,
               (CAST(floor(0.4 * CAST(ntot AS DOUBLE)) AS DOUBLE)
                * CAST(qi AS DOUBLE))
               / (CAST(s AS DOUBLE) * CAST(n AS DOUBLE))) AS thr
      FROM (SELECT _g, n, qi, SUM(qi) OVER () AS s, SUM(n) OVER () AS ntot
            FROM (SELECT source AS _g, COUNT(*) AS n,
                         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1024
                                    + 0.5) AS BIGINT) AS qi
                  FROM documents GROUP BY source))
    ) r ON d.source = r._g
    WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS DOUBLE) < r.thr * 1152921504606846976.0
    """,
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_orderstatus"]
    p = (
        _p("q23", sf_dir, "orders", "documents")
        # prune before the fan-out persist (two sample consumers)
        .step("prj0", "select", "orders", columns=cols)
        .step("m", "sample", "prj0", method="mod", key=["o_orderkey"],
              n=20, r=7)
        .step("s", "sample", "prj0", method="stratified",
              strata_col="o_orderstatus", key=["o_orderkey"], mod=True,
              fractions={"F": 0.5, "O": 0.1}, default_fraction=0.02)
        .step("mixp", "select", "documents", columns=["doc_id", "source"])
        .step("mix", "sample.mixture", "mixp", id_col="doc_id",
              group_col="source",
              weights={"src0": 2.5, "src1": 2.0, "src2": 0.3, "src3": 0.0},
              default_weight=1.0)
        .step("bal", "sample.balanced", "mixp", id_col="doc_id",
              group_col="source", quota=120)
        # DSIR importance resampling: docs with doc_id % 19 == 0 are the
        # target distribution, the rest are scored and top-200 selected
        .step("tgt", "filter", "documents",
              predicate="[doc_id] % 19 == 0")
        .step("rawd", "filter", "documents",
              predicate="[doc_id] % 19 != 0")
        .step("imp", "sample.importance", ["rawd", "tgt"],
              id_col="doc_id", text_col="text", k=200, n_buckets=4096,
              quantize=1000)
        .step("temp", "sample.temperature", "mixp", id_col="doc_id",
              group_col="source", alpha=0.5, budget_frac=0.4)
    )
    r = run_pipeline(spark, p)

    def leg(df: DataFrame, mode: str, key: str, grp: str,
            rep: str | None = None) -> DataFrame:
        return df.select(
            F.lit(mode).alias("mode"),
            F.col(key).alias("key"),
            F.col(grp).alias("grp"),
            (F.col(rep) if rep else F.lit(0)).cast("int").alias("replica"),
        )

    return (
        leg(r.df("m"), "mod", "o_orderkey", "o_orderstatus")
        .unionByName(leg(r.df("s"), "stratified", "o_orderkey",
                         "o_orderstatus"))
        .unionByName(leg(r.df("mix"), "mixture", "doc_id", "source",
                         "replica"))
        .unionByName(leg(r.df("bal"), "balanced", "doc_id", "source"))
        .unionByName(leg(r.df("imp.out"), "importance", "doc_id",
                         "source", "score_q"))
        .unionByName(leg(r.df("temp"), "temperature", "doc_id", "source"))
    )


# ---------------------------------------------------------------------------
# Merge upsert / delete / SCD (§2.5 OLE DB Command, §2.9 SCD)
# ---------------------------------------------------------------------------


@query(
    "q24_merge_dml",
    # Merged q24+q25: set-based UPSERT then DELETE against the same target
    # in one pipeline (the OLE DB Command replacement chain: upsert the
    # feed, then purge keys flagged for deletion).
    oracle="""
    WITH target AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                    WHERE c_custkey % 3 = 0),
         updates AS (SELECT c_custkey, c_name,
                            CAST(c_acctbal + 1000 AS DOUBLE) AS c_acctbal
                     FROM customer WHERE c_custkey % 2 = 0),
         upserted AS (
           SELECT t.c_custkey, t.c_name, t.c_acctbal FROM target t
           WHERE NOT EXISTS (SELECT 1 FROM updates u
                             WHERE u.c_custkey = t.c_custkey)
           UNION ALL
           SELECT * FROM updates)
    SELECT * FROM upserted
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F' AND o_totalprice > 350000)
    """,
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q24", sf_dir, "customer", "orders")
        # prune before the fan-out persist (target + updates branches)
        .step("cust", "select", "customer",
              columns=["c_custkey", "c_name", "c_acctbal"])
        .step("t0", "filter", "cust", predicate="[c_custkey] % 3 == 0")
        .step("target", "select", "t0", columns=["c_custkey", "c_name", "c_acctbal"])
        .step("u0", "filter", "cust", predicate="[c_custkey] % 2 == 0")
        .step("u1", "derived_column", "u0", columns={"acct2": "[c_acctbal] + 1000"})
        .step("updates", "select", "u1",
              columns={"c_custkey": "c_custkey", "c_name": "c_name",
                       "c_acctbal": "acct2"})
        .step("m", "merge_upsert", ["target", "updates"], keys=["c_custkey"])
        .step("d0", "filter", "orders",
              predicate='[o_orderstatus] == "F" && [o_totalprice] > 350000')
        .step("dels", "select", "d0", columns={"c_custkey": "o_custkey"})
        .step("md", "merge_delete", ["m", "dels"], keys=["c_custkey"])
    )
    return run_pipeline(spark, p).df("md")


@query(
    "q26_scd2",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             TIMESTAMP '2020-01-01 00:00:00' AS effective_from,
             CAST(NULL AS TIMESTAMP) AS effective_to,
             TRUE AS is_current
      FROM customer
    ),
    upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END
               AS c_mktsegment,
             c_acctbal
      FROM customer WHERE c_custkey % 2 = 0
    ),
    changed AS (
      SELECT d.c_custkey FROM dim d JOIN upd u ON d.c_custkey = u.c_custkey
      WHERE NOT (d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment)
         OR NOT (d.c_acctbal IS NOT DISTINCT FROM u.c_acctbal)
    )
    SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, d.effective_from,
           CASE WHEN ch.c_custkey IS NOT NULL
                THEN TIMESTAMP '2024-06-01 00:00:00' ELSE d.effective_to END
             AS effective_to,
           CASE WHEN ch.c_custkey IS NOT NULL THEN FALSE ELSE TRUE END
             AS is_current
    FROM dim d LEFT JOIN changed ch ON d.c_custkey = ch.c_custkey
    UNION ALL
    SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal,
           TIMESTAMP '2024-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
    FROM upd u JOIN changed ch ON u.c_custkey = ch.c_custkey
    """,
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q26", sf_dir, "customer")
        .step("d0", "select", "customer",
              columns=["c_custkey", "c_mktsegment", "c_acctbal"])
        .step("dim", "derived_column", "d0", columns={
            "effective_from": F.to_timestamp(F.lit("2020-01-01 00:00:00")),
            "effective_to": F.lit(None).cast("timestamp"),
            "is_current": F.lit(True),
        })
        .step("u0", "filter", "customer", predicate="[c_custkey] % 2 == 0")
        .step("upd", "derived_column", "u0", columns={
            "c_mktsegment": '[c_custkey] % 5 == 0 ? "CHANGED" : [c_mktsegment]',
        })
        .step("upd2", "select", "upd",
              columns=["c_custkey", "c_mktsegment", "c_acctbal"])
        .step("scd", "scd2", ["dim", "upd2"], keys=["c_custkey"],
              tracked=["c_mktsegment", "c_acctbal"],
              as_of="2024-06-01 00:00:00")
    )
    return run_pipeline(spark, p).df("scd")


# ===========================================================================
# NEW scale operators (SURVEY §2.12): dedup / text / similarity / streaming
# ===========================================================================

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_WORDS_SQL = "regexp_extract_all(lower(text), '\\S+')"


def _lm_tab_sql() -> str:
    """text.lm_score's fixed-point log table as a DuckDB VALUES list —
    generated from the SAME module constant the Spark plan embeds, so the
    oracle never computes a log in SQL (engine libm drift is the whole
    reason the table exists)."""
    from ssis_to_pyspark_agent_spark.operators.text import LM_ILOG

    return ", ".join(f"({q + 1},{b})" for q, b in enumerate(LM_ILOG))


@query(
    "q30_dedup_exact_digest",
    # Merged q30+spans+decon: ('doc', survivors of exact-digest dedup),
    # ('span', per-doc exact duplicated-substring-span stats + cleaned
    # length from dedup.spans — the ExactSubstr method of Lee et al.
    # 2022), and ('decon', span-level DECONTAMINATION: docs whose
    # doc_id % 17 == 0 act as the benchmark corpus; every 8-gram of the
    # remaining docs that appears ANYWHERE in it flags its positions,
    # regardless of corpus-internal counts). The oracle re-derives both
    # span legs from raw 8-gram strings (no hashing): flagged positions
    # -> lag-gap islands -> covered token removal, mirroring the
    # operator's constant-length span algebra exactly.
    oracle=f"""
    WITH docs AS (SELECT doc_id, lang, source,
                  string_split({_NORM_SQL}, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(w) - 7, 0))) AS gpos,
             unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
                    i -> array_to_string(w[i:i+7], ' '))) AS gram
      FROM docs),
    fg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    fp AS (SELECT g.doc_id, g.gpos FROM g JOIN fg USING (gram)),
    lagged AS (SELECT doc_id, gpos,
               gpos - lag(gpos) OVER (PARTITION BY doc_id ORDER BY gpos)
                 AS gap
               FROM fp),
    isl AS (SELECT doc_id, gpos,
            SUM(CASE WHEN gap IS NULL OR gap > 8 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY gpos
                    ROWS UNBOUNDED PRECEDING) AS isl
            FROM lagged),
    spans AS (SELECT doc_id, MIN(gpos) AS s, MAX(gpos) + 8 AS e
              FROM isl GROUP BY doc_id, isl),
    sp AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_dup_spans,
                  CAST(SUM(e - s) AS INT) AS dup_tokens
           FROM spans GROUP BY doc_id),
    toks AS (SELECT doc_id, unnest(range(0, len(w))) AS p, unnest(w) AS tok
             FROM docs),
    cov AS (SELECT doc_id, unnest(range(s, e)) AS p FROM spans),
    kept AS (SELECT t.doc_id, t.p, t.tok
             FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
             WHERE c.p IS NULL),
    clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct
              FROM kept GROUP BY doc_id),
    surv AS (SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY MD5({_NORM_SQL})
                                ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1),
    blk AS (SELECT MD5({_NORM_SQL}) AS key FROM documents
            WHERE doc_id % 17 = 0
            UNION ALL
            SELECT MD5({_NORM_SQL}) FROM documents WHERE doc_id % 85 = 3),
    blpos AS (SELECT DISTINCT
                CAST('0x' || substr(md5(key || '#bloom'
                                        || CAST(i AS VARCHAR)), 1, 15)
                     AS BIGINT) % 4096 AS p
              FROM blk, (VALUES (1), (2), (3)) t(i)
              WHERE key IS NOT NULL),
    mpos AS (SELECT doc_id,
               CAST('0x' || substr(md5(MD5({_NORM_SQL}) || '#bloom'
                                       || CAST(t.i AS VARCHAR)), 1, 15)
                    AS BIGINT) % 4096 AS p
             FROM documents, (VALUES (1), (2), (3)) t(i)
             WHERE doc_id % 17 <> 0),
    bhit AS (SELECT doc_id,
               CAST(CASE WHEN SUM(CASE WHEN bp.p IS NOT NULL
                                       THEN 1 ELSE 0 END) = 3
                         THEN 1 ELSE 0 END AS INT) AS hit
             FROM mpos LEFT JOIN blpos bp ON mpos.p = bp.p
             GROUP BY doc_id),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
    fp2 AS (SELECT g.doc_id, g.gpos FROM g JOIN bg USING (gram)
            WHERE g.doc_id % 17 <> 0),
    lag2 AS (SELECT doc_id, gpos,
             gpos - lag(gpos) OVER (PARTITION BY doc_id ORDER BY gpos)
               AS gap
             FROM fp2),
    isl2 AS (SELECT doc_id, gpos,
             SUM(CASE WHEN gap IS NULL OR gap > 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY gpos
                     ROWS UNBOUNDED PRECEDING) AS isl
             FROM lag2),
    spans2 AS (SELECT doc_id, MIN(gpos) AS s, MAX(gpos) + 8 AS e
               FROM isl2 GROUP BY doc_id, isl),
    sp2 AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_dup_spans,
                   CAST(SUM(e - s) AS INT) AS dup_tokens
            FROM spans2 GROUP BY doc_id),
    cov2 AS (SELECT doc_id, unnest(range(s, e)) AS p FROM spans2),
    kept2 AS (SELECT t.doc_id, t.p, t.tok
              FROM toks t LEFT JOIN cov2 c ON c.doc_id = t.doc_id AND c.p = t.p
              WHERE t.doc_id % 17 <> 0 AND c.p IS NULL),
    clean2 AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct
               FROM kept2 GROUP BY doc_id)
    SELECT 'doc' AS kind, doc_id, lang, source,
           CAST(NULL AS INT) AS n_dup_spans,
           CAST(NULL AS INT) AS dup_tokens,
           CAST(NULL AS INT) AS clean_len
    FROM surv
    UNION ALL
    SELECT 'span', d.doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           COALESCE(sp.n_dup_spans, 0), COALESCE(sp.dup_tokens, 0),
           CAST(length(COALESCE(c.ct, '')) AS INT)
    FROM docs d LEFT JOIN sp ON sp.doc_id = d.doc_id
    LEFT JOIN clean c ON c.doc_id = d.doc_id
    UNION ALL
    SELECT 'decon', d.doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           COALESCE(sp2.n_dup_spans, 0), COALESCE(sp2.dup_tokens, 0),
           CAST(length(COALESCE(c2.ct, '')) AS INT)
    FROM docs d LEFT JOIN sp2 ON sp2.doc_id = d.doc_id
    LEFT JOIN clean2 c2 ON c2.doc_id = d.doc_id
    WHERE d.doc_id % 17 <> 0
    UNION ALL
    SELECT 'bloom', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           hit, CAST(NULL AS INT), CAST(NULL AS INT)
    FROM bhit
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text digest (keep-min-doc_id) unioned
    with per-doc exact duplicated-substring-span stats (dedup.spans)
    and span-level decontamination against an in-corpus benchmark split
    (dedup.spans with a second input)."""
    from ssis_to_pyspark_agent_spark.operators.dedup import _norm_text

    p = (
        _p("q30", sf_dir, "documents")
        .step("fp", "derived_column", "documents",
              columns={"_digest": F.md5(_norm_text(F.col("text")))})
        .step("dd", "dedup.exact", "fp", columns=["_digest"],
              keep_by=[("doc_id", "asc")])
        .step("sp", "dedup.spans", "documents", id_col="doc_id",
              text_col="text", n=8, emit_clean=True)
        .step("bench", "filter", "documents",
              predicate="doc_id % 17 = 0", sql=True)
        .step("main", "filter", "documents",
              predicate="doc_id % 17 != 0", sql=True)
        .step("dc", "dedup.spans", ["main", "bench"], id_col="doc_id",
              text_col="text", n=8, emit_clean=True)
        # bloom leg: bounded-memory blocklist probe. Blocklist = bench
        # digests + PLANTED main digests (doc_id % 85 == 3 — guaranteed
        # hits; the %17 split has no natural cross-split exact dups),
        # m=4096/k=3 keeps deterministic false positives in play — the
        # oracle reproduces every hit AND every FP bit-for-bit
        .step("bkey", "derived_column", "bench",
              columns={"key": F.md5(_norm_text(F.col("text")))})
        .step("bkey2", "select", "bkey", columns=["key"])
        .step("pl", "filter", "documents",
              predicate="doc_id % 85 = 3", sql=True)
        .step("plkey", "derived_column", "pl",
              columns={"key": F.md5(_norm_text(F.col("text")))})
        .step("plkey2", "select", "plkey", columns=["key"])
        .step("blk", "union_all", ["bkey2", "plkey2"])
        .step("mkey", "derived_column", "main",
              columns={"key": F.md5(_norm_text(F.col("text")))})
        .step("bloom", "filter.bloom", ["mkey", "blk"], key_col="key",
              m_bits=4096, k=3, emit="flag")
    )
    r = run_pipeline(spark, p)
    surv = r.df("dd").select(
        F.lit("doc").alias("kind"), "doc_id", "lang", "source",
        F.lit(None).cast("int").alias("n_dup_spans"),
        F.lit(None).cast("int").alias("dup_tokens"),
        F.lit(None).cast("int").alias("clean_len"),
    )
    spans = r.df("sp").select(
        F.lit("span").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        "n_dup_spans", "dup_tokens",
        F.length("text_clean").cast("int").alias("clean_len"),
    )
    decon = r.df("dc").select(
        F.lit("decon").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        "n_dup_spans", "dup_tokens",
        F.length("text_clean").cast("int").alias("clean_len"),
    )
    bloom = r.df("bloom").select(
        F.lit("bloom").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.col("bloom_hit").cast("int").alias("n_dup_spans"),
        F.lit(None).cast("int").alias("dup_tokens"),
        F.lit(None).cast("int").alias("clean_len"),
    )
    return (
        surv.unionByName(spans).unionByName(decon).unionByName(bloom)
    )


_SHINGLE_SQL = """
      list_distinct(list_transform(
        range(1, greatest(len(words) - 2, 1) + 1),
        i -> array_to_string(words[i:i+2], ' ')))
"""


@query(
    "q31_dedup_ngram_cluster",
    # Merged q31+q62: exact n-gram-Jaccard near-dup PAIRS (engine-neutral
    # length-bucket blocking) plus the connected-components clustering of
    # those pairs (transitive closure vs a recursive-CTE reachability
    # oracle), as one tagged union: ('pair', a, b, jaccard) rows and
    # ('comp', doc_id, comp, NULL) rows. Round 5 adds ('split_train' /
    # 'split_test', doc_id, comp, NULL): sample.holdout's leakage-safe
    # split, re-derived from the same comp CTE + the md5-60bit idiom.
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, n_chars, string_split({_NORM_SQL}, ' ') AS words
      FROM documents),
    sh AS (SELECT doc_id, n_chars, {_SHINGLE_SQL} AS shingles FROM docs),
    -- AllPairs prefix-filtered candidates (Bayardo et al. 2007, the
    -- SAME recall-complete bound the engine's prefix-filter tests pin:
    -- under any fixed total order, J(A,B) >= t implies the first
    -- |X| - ceil(t*|X|) + 1 elements of A and of B share a token) —
    -- ordered by ascending document frequency so boilerplate shingles
    -- never enter a prefix. Candidates then verify with the EXACT
    -- Jaccard below, so the oracle's result set is unchanged; only its
    -- all-pairs cost goes (sf1: 3531s brute -> 802s, identical 259
    -- pairs; sf0.1: 78.6s -> 10.8s, identical 256 — round-10,
    -- round-9 verdict item 3).
    tok AS (SELECT doc_id, n_chars, len(shingles) AS sz,
                   unnest(shingles) AS s FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS df FROM tok GROUP BY s),
    pref AS (
      SELECT doc_id, n_chars, s FROM (
        SELECT t.doc_id, t.n_chars, t.s, t.sz,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df, t.s) AS rn
        FROM tok t JOIN dfreq d USING (s))
      WHERE rn <= sz - ceil(sz * 0.5 - 1e-9) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM pref a JOIN pref b
        ON a.s = b.s AND a.doc_id < b.doc_id
       AND floor(a.n_chars / 16) - floor(b.n_chars / 16)
           BETWEEN -1 AND 1),
    pairs AS (
      SELECT c.a, c.b,
             CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a
      JOIN sh sb ON sb.doc_id = c.b
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5),
    edges AS (SELECT a AS x, b AS y FROM pairs
              UNION SELECT b, a FROM pairs),
    reach AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
    comp AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.y), d.doc_id)) AS comp
      FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
      GROUP BY d.doc_id)
    SELECT 'pair' AS kind, a, b, jaccard FROM pairs
    UNION ALL
    SELECT 'comp', doc_id, comp, CAST(NULL AS DOUBLE) FROM comp
    UNION ALL
    -- round 5: leakage-safe holdout split — the assignment unit is the
    -- near-dup COMPONENT (md5 of its representative), so no near-dup
    -- path can straddle train/test; 0.125 * 2^60 = 2^57 exactly
    SELECT 'split_' || CASE
             WHEN CAST('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15)
                  AS BIGINT) < {int(0.125 * float(1 << 60))}
             THEN 'test' ELSE 'train' END,
           doc_id, comp, CAST(NULL AS DOUBLE)
    FROM comp
    """,
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs with engine-neutral multi-probe
    length-bucket blocking (each doc lands in buckets k and k+1, so any
    pair within 16 chars of each other shares a block — measured true-pair
    length deltas max out at 12 on this corpus), then iterative
    min-label connected components over those pairs."""
    p = (
        _p("q31", sf_dir, "documents")
        .step("dd", "dedup.ngram_jaccard", "documents",
              id_col="doc_id", text_col="text", shingle_k=3, threshold=0.5,
              block_exprs=["floor(n_chars / 16)", "floor(n_chars / 16) + 1"],
              return_pairs=True)
        .step("cc", "dedup.cluster", ["documents", "dd.pairs"],
              id_col="doc_id")
        # labels_input: reuse cc's propagated labels — one label
        # propagation serves both the clustering and the split
        .step("split", "sample.holdout", ["documents", "cc.labels"],
              id_col="doc_id", test_frac=0.125, labels_input=True)
    )
    r = run_pipeline(spark, p)
    pairs = r.df("dd.pairs").select(
        F.lit("pair").alias("kind"), F.col("a"), F.col("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )
    comps = r.df("cc.components").select(
        F.lit("comp").alias("kind"), F.col("doc_id").alias("a"),
        F.col("comp").alias("b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    split = r.df("split.out").select(
        F.concat(F.lit("split_"), F.col("side")).alias("kind"),
        F.col("doc_id").alias("a"), F.col("comp").alias("b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    return pairs.unionByName(comps).unionByName(split)


@query(
    "q32_dedup_minhash_lsh",
    # Exact oracle: survivors after removing every doc that has an exact
    # shingle-Jaccard >= 0.7 partner with a smaller id, computed by brute
    # force in SQL. The engine's 16x8 LSH banding at threshold 0.7 has
    # measured full recall on this corpus (PLANS.md probe; verify stage is
    # exact Jaccard), so LSH output == brute-force output. The length-
    # ratio prefilter in the oracle join is exact-preserving:
    # J(A,B) <= min|A|,|B| / max|A|,|B|, so ratio < 0.7 implies J < 0.7.
    oracle=f"""
    WITH docs AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
                  FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM docs),
    -- AllPairs prefix-filtered candidates (same recall-complete bound
    -- as q31's oracle, here at t=0.7 so prefixes are ~30% of each
    -- shingle set): candidates verify with the EXACT Jaccard below, so
    -- the dominated sets are provably unchanged — validated identical
    -- at sf0.01/sf0.1/sf1 (sf1: 3943s brute -> minutes, round-10).
    tok AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s
            FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS df FROM tok GROUP BY s),
    pref AS (
      SELECT doc_id, sz, s FROM (
        SELECT t.doc_id, t.s, t.sz,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df, t.s) AS rn
        FROM tok t JOIN dfreq d USING (s))
      WHERE rn <= sz - ceil(sz * 0.7 - 1e-9) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM pref a JOIN pref b
        ON a.s = b.s AND a.doc_id < b.doc_id
       AND least(a.sz, b.sz) * 1.0 / greatest(a.sz, b.sz) >= 0.7),
    dominated AS (
      SELECT DISTINCT c.b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a
      JOIN sh sb ON sb.doc_id = c.b
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= 0.7)
    SELECT 'full' AS kind, doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT b FROM dominated)
    UNION ALL
    SELECT 'inc', doc_id, lang, source FROM documents
    WHERE doc_id >= (SELECT COUNT(*) // 10 FROM documents)
      AND doc_id < (SELECT COUNT(*) // 5 FROM documents)
      AND doc_id NOT IN (
        SELECT c.b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b
        WHERE c.b >= (SELECT COUNT(*) // 10 FROM documents)
          AND c.b < (SELECT COUNT(*) // 5 FROM documents)
          AND c.a < (SELECT COUNT(*) // 5 FROM documents)
          AND CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles))) >= 0.7)
    """,
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus minhash survivors ('full') UNION the incremental
    batch-vs-history run ('inc') via dedup.minhash_incremental over a
    bounded window: history = the first 10% of the corpus by doc_id,
    batch = the second 10% (ids are dense from 0, so the cuts are
    count//10 and count//5 at every sf) — the daily-ingest shape with a
    cost that stays a fixed fraction of the corpus. With ids globally
    ordered, a batch doc is dropped iff it has a smaller-id partner
    below the upper cut, so the inc oracle is the same brute-force
    dominated join restricted to both sides < count//5 (the
    compose-to-full identity is test-pinned separately)."""
    import pyarrow.dataset as _pads

    # row count from parquet footer metadata — no Spark job, no scan
    n_docs = _pads.dataset(f"{sf_dir}/documents.parquet").count_rows()
    cut1, cut2 = n_docs // 10, n_docs // 5
    p = (
        _p("q32", sf_dir, "documents")
        .step(
            "dd", "dedup.minhash", "documents",
            id_col="doc_id", text_col="text", threshold=0.7,
            # 16 bands x 8 rows: s-curve midpoint (1/16)^(1/8) ~= 0.71 sits
            # at the 0.7 threshold -- 32x4 (midpoint 0.42) floods the verify
            # stage with sub-threshold candidates (measured 7.7x slower,
            # same output)
            num_hashes=128, bands=16,
        )
        .step("hist", "filter", "documents",
              predicate=f"[doc_id] < {cut1}")
        .step("batch", "filter", "documents",
              predicate=f"[doc_id] >= {cut1} && [doc_id] < {cut2}")
        .step("inc", "dedup.minhash_incremental", ["batch", "hist"],
              id_col="doc_id", text_col="text", threshold=0.7,
              num_hashes=128, bands=16)
    )
    r = run_pipeline(spark, p)
    full = r.df("dd").select(
        F.lit("full").alias("kind"), "doc_id", "lang", "source")
    inc = r.df("inc").select(
        F.lit("inc").alias("kind"), "doc_id", "lang", "source")
    return full.unionByName(inc)


@query(
    "q33_dedup_simhash",
    # Exact oracle, no banding shortcut: the 60-bit md5-based simhash is
    # computed from scratch in SQL (per-bit majority vote over token
    # hashes) and ALL pairs are hamming-checked. The engine's pigeonhole
    # banding (max_d+1 chunks) has guaranteed full recall for
    # hamming <= max_d, so the two definitions coincide exactly.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(t.w), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
            FROM documents) d,
           UNNEST(d.words) AS t(w)),
    bits AS (
      SELECT doc_id, r.b,
             CASE WHEN SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                  THEN CAST(1 AS BIGINT) << r.b ELSE 0 END AS bit
      FROM tok CROSS JOIN range(60) r(b) GROUP BY doc_id, r.b),
    fp AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS sh FROM bits
           GROUP BY doc_id)
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _p("q33", sf_dir, "documents").step(
        "dd", "dedup.simhash", "documents",
        id_col="doc_id", text_col="text", max_distance=3, return_pairs=True,
        hash_fn="md5",  # engine-neutral fingerprint -> exact DuckDB oracle
    )
    df = run_pipeline(spark, p).df("dd.pairs")
    return df.withColumn("hamming", F.col("hamming").cast("int"))


_EN_SW = "['the','and','of','to','a','in','is','that','it','for','was','on','with','as','are']"

_LANGS_SQL = {
    "en": _EN_SW,
    "de": "['der','die','und','das','ist','von','mit','den','nicht','ein','eine','zu','im','für']",
    "fr": "['le','la','les','et','de','des','un','une','est','que','pour','dans','qui','pas']",
    "es": "['el','la','los','las','y','de','que','en','un','una','es','por','con','para','no']",
    "it": "['il','la','di','che','e','un','una','per','non','sono','con','del','si','nel']",
}


@query(
    "q34_text_features",
    # Merged q34+q35+q36+pack: token counts, md5 fingerprint, quality
    # metrics, n-gram-heuristic language ID — all per-doc 1:1 operators
    # chained in one pipeline — plus text.pack sequence packing (global
    # ws_tokens prefix sum in doc_id order, capacity 512; the engine's
    # two-phase distributed scan must equal this naive SQL cumsum).
    # Tagged union: ('doc', per-doc features) rows plus ('chunk',
    # text.pack emit='text' materialized packed sequences — md5 + token
    # count of each 512-token chunk of the normalized global token
    # stream, re-derived in SQL from the same cumsum), plus the
    # text.segment legs (merged former q83, round-6 consolidation):
    # ('seg_para', paragraph mode over text with injected blank-line
    # breaks — every 'table ' occurrence becomes a paragraph boundary,
    # a deterministic replace both engines share) and ('seg_fixed',
    # 16-word windows over the raw whitespace tokens). Segment indices
    # are dense post-filter; md5 + token count of EVERY segment
    # hash-checked.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             len(regexp_extract_all(trim(text), '\\S+')) AS ws_tokens,
             CAST(list_sum(list_transform(
                 regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'),
                 p -> CAST(ceil(length(p) / 4.0) AS BIGINT))) AS BIGINT)
               AS bpe_tokens,
             MD5({_NORM_SQL}) AS fp_md5
      FROM documents),
    qbase AS (
      SELECT doc_id, text, {_WORDS_SQL} AS words,
             GREATEST(length(regexp_replace(text, '\\s', '', 'g')), 1) AS nonspace
      FROM documents),
    qual AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(words) AS n_words,
             CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
               / GREATEST(len(words), 1) AS mean_word_len,
             CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
               / nonspace AS punct_ratio,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / nonspace AS digit_ratio,
             CAST(len(list_filter(words, w -> list_contains({_EN_SW}, w))) AS DOUBLE)
               / GREATEST(len(words), 1) AS stopword_ratio
      FROM qbase),
    lbase AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    lscored AS (
      SELECT doc_id, lang, CAST(hits AS DOUBLE) / GREATEST(len(words), 1) AS score
      FROM lbase, LATERAL (VALUES
        {", ".join(f"('{lg}', len(list_filter(words, w -> list_contains({sw}, w))))" for lg, sw in _LANGS_SQL.items())}
      ) t(lang, hits)),
    lbest AS (
      SELECT doc_id,
             CASE WHEN score <= 0 THEN 'und' ELSE lang END AS lang_pred,
             score AS lang_score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM lscored),
    pk AS (
      SELECT doc_id,
             CAST(COALESCE(SUM(ws_tokens) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tok_offset,
             ws_tokens FROM tok),
    pk2 AS (
      SELECT doc_id, tok_offset,
             CASE WHEN ws_tokens > 0
                  THEN CAST(tok_offset // 512 AS BIGINT) END AS first_chunk,
             CASE WHEN ws_tokens > 0
                  THEN CAST((tok_offset + ws_tokens - 1) // 512 AS BIGINT)
             END AS last_chunk
      FROM pk),
    pwords AS (SELECT doc_id,
                      list_filter(string_split({_NORM_SQL}, ' '),
                                  t -> t <> '') AS w
               FROM documents),
    pstream AS (SELECT doc_id, unnest(range(0, len(w))) AS i,
                       unnest(w) AS tok
                FROM pwords),
    pglob AS (SELECT p.tok_offset + s.i AS g, s.tok
              FROM pstream s JOIN pk p USING (doc_id)),
    pchunk AS (SELECT CAST(g // 512 AS BIGINT) AS chunk_id,
                      MD5(string_agg(tok, ' ' ORDER BY g)) AS packed_md5,
                      CAST(COUNT(*) AS INT) AS packed_tokens
               FROM pglob GROUP BY g // 512),
    saug AS (
      SELECT doc_id,
             replace(text, 'table ', 'table.' || chr(10) || chr(10)) AS t
      FROM documents),
    spl AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(t, '\\n\\s*\\n+'),
                                        x -> trim(x)), x -> x <> '') AS l
      FROM saug),
    spara AS (
      SELECT doc_id, unnest(l) AS seg, generate_subscripts(l, 1) AS i
      FROM spl),
    sw AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
      FROM documents),
    sfseg AS (
      SELECT doc_id, j,
             array_to_string(w[j*16+1 : least((j+1)*16, len(w))], ' ') AS seg
      FROM (SELECT doc_id, w,
                   unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS j
            FROM sw WHERE len(w) > 0))
    SELECT 'doc' AS kind, t.doc_id, t.ws_tokens, t.bpe_tokens, t.fp_md5,
           q.n_chars, q.n_words, q.mean_word_len, q.punct_ratio,
           q.digit_ratio, q.stopword_ratio, l.lang_pred, l.lang_score,
           p.tok_offset, p.first_chunk, p.last_chunk,
           CAST(COALESCE(p.last_chunk - p.first_chunk + 1, 0) AS INT)
             AS n_chunks,
           CAST(NULL AS VARCHAR) AS packed_md5,
           CAST(NULL AS INT) AS packed_tokens
    FROM tok t
    JOIN qual q ON q.doc_id = t.doc_id
    JOIN (SELECT * FROM lbest WHERE rn = 1) l ON l.doc_id = t.doc_id
    JOIN pk2 p ON p.doc_id = t.doc_id
    UNION ALL
    SELECT 'chunk', chunk_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           packed_md5, packed_tokens
    FROM pchunk
    UNION ALL
    -- text.segment legs (merged former q83, round-6 consolidation):
    -- ws_tokens carries seg_idx, packed_md5/packed_tokens carry the
    -- segment md5 + token count (same column-repurposing idiom as the
    -- 'chunk' leg's chunk_id-in-doc_id)
    SELECT 'seg_para', doc_id, CAST(i - 1 AS BIGINT), NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, md5(seg),
           CAST(len(regexp_extract_all(seg, '\\S+')) AS INT)
    FROM spara
    UNION ALL
    SELECT 'seg_fixed', doc_id, CAST(j AS BIGINT), NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, md5(seg),
           CAST(len(regexp_extract_all(seg, '\\S+')) AS INT)
    FROM sfseg
    """,
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q34", sf_dir, "documents")
        .step("tc", "text.token_count", "documents", text_col="text")
        .step("fp", "text.fingerprint", "tc", text_col="text")
        .step("q", "text.quality", "fp", text_col="text")
        .step("l", "text.lang_id", "q", text_col="text")
        .step("pk", "text.pack", "l", id_col="doc_id",
              count_col="ws_tokens", capacity=512)
        .step("prj", "select", "pk",
              columns=["doc_id", "ws_tokens", "bpe_tokens", "fp_md5",
                       "n_chars", "n_words", "mean_word_len", "punct_ratio",
                       "digit_ratio", "stopword_ratio", "lang_pred",
                       "lang_score", "tok_offset", "first_chunk",
                       "last_chunk", "n_chunks"])
        .step("pkt", "text.pack", "documents", id_col="doc_id",
              count_col=None, text_col="text", capacity=512, emit="text")
        # text.segment legs (merged former q83): paragraph mode over
        # injected blank-line breaks + fixed 16-word windows
        .step("sa", "derived_column", "documents", columns={
            "t": F.replace(F.col("text"), F.lit("table "),
                           F.lit("table.\n\n"))
        })
        .step("ps", "text.segment", "sa", text_col="t", mode="paragraph")
        .step("fs", "text.segment", "documents", text_col="text",
              mode="fixed_words", n=16)
    )
    r = run_pipeline(spark, p)
    docs = (
        r.df("prj")
        .withColumn("kind", F.lit("doc"))
        .withColumn("packed_md5", F.lit(None).cast("string"))
        .withColumn("packed_tokens", F.lit(None).cast("int"))
    )
    doc_cols = [c for c in docs.columns if c != "kind"]
    docs = docs.select("kind", *doc_cols)
    null_of = {c: docs.schema[c].dataType for c in doc_cols}
    chunks = r.df("pkt").select(
        F.lit("chunk").alias("kind"),
        F.col("chunk_id").alias("doc_id"),
        *[
            F.lit(None).cast(null_of[c]).alias(c)
            for c in doc_cols
            if c not in ("doc_id", "packed_md5", "packed_tokens")
        ],
        F.md5("text").alias("packed_md5"),
        F.col("n_tokens").cast("int").alias("packed_tokens"),
    )

    def seg_leg(df: DataFrame, kind: str) -> DataFrame:
        # ws_tokens carries seg_idx; packed_md5/packed_tokens carry the
        # segment md5 + token count (mirrors the oracle's repurposing)
        return df.select(
            F.lit(kind).alias("kind"),
            F.col("doc_id"),
            F.col("seg_idx").cast(null_of["ws_tokens"]).alias("ws_tokens"),
            *[
                F.lit(None).cast(null_of[c]).alias(c)
                for c in doc_cols
                if c not in ("doc_id", "ws_tokens", "packed_md5",
                             "packed_tokens")
            ],
            F.md5("seg_text").alias("packed_md5"),
            F.col("seg_tokens").cast("int").alias("packed_tokens"),
        )

    return (
        docs.unionByName(chunks)
        .unionByName(seg_leg(r.df("ps"), "seg_para"))
        .unionByName(seg_leg(r.df("fs"), "seg_fixed"))
    )


# -- similarity search ------------------------------------------------------

_QCOS_SQL = """
      CAST(list_sum(list_transform(range(1, 65),
            i -> CAST(round(CAST(a[i] AS DOUBLE) * 10000) AS BIGINT)
               * CAST(round(CAST(b[i] AS DOUBLE) * 10000) AS BIGINT)))
           AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(a,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                  * CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS DOUBLE))
       * sqrt(CAST(list_sum(list_transform(b,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                  * CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS DOUBLE)))
"""


_Q37_BRUTE_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS a FROM embeddings
               WHERE vec_id IN (0, 7, 21)),
         c AS (SELECT vec_id AS corpus_id, embedding AS b FROM embeddings)
    SELECT query_id, corpus_id, cosine, rank FROM (
      SELECT query_id, corpus_id, {_QCOS_SQL} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {_QCOS_SQL} DESC, corpus_id) AS rank
      FROM c, q) WHERE rank <= 5
    """


_Q38_LSH_SQL = f"""
    WITH hyp AS (
      SELECT t.t, b.b, d.d,
             CAST(concat('0x', substr(md5(concat('42:', t.t, ':', b.b, ':',
                  d.d)), 1, 15)) AS BIGINT) % 2001 - 1000 AS w
      FROM range(8) t(t), range(8) b(b), range(64) d(d)),
    vq AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
           FROM embeddings),
    dots AS (
      SELECT v.vec_id, h.t, h.b, SUM(v.q[h.d + 1] * h.w) AS dot
      FROM vq v, hyp h GROUP BY v.vec_id, h.t, h.b),
    buckets AS (
      SELECT vec_id, t,
             SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << b
                      ELSE 0 END) AS bucket
      FROM dots GROUP BY vec_id, t),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
      FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < 5),
    scored AS (
      SELECT cand.query_id, cand.corpus_id,
             {_QCOS_SQL.replace("a[i]", "qe.embedding[i]")
                       .replace("b[i]", "ce.embedding[i]")
                       .replace("(a,", "(qe.embedding,")
                       .replace("(b,", "(ce.embedding,")} AS cosine
      FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                JOIN embeddings ce ON ce.vec_id = cand.corpus_id)
    SELECT query_id, corpus_id, cosine, rank FROM (
      SELECT query_id, corpus_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, corpus_id) AS rank
      FROM scored) WHERE rank <= 5
    """

_Q38_IVF_SQL = f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding AS cv
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 16),
    assign AS (
      SELECT vec_id AS corpus_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 {_QCOS_SQL.replace("a[i]", "e.embedding[i]")
                           .replace("b[i]", "c.cv[i]")
                           .replace("(a,", "(e.embedding,")
                           .replace("(b,", "(c.cv,")} DESC, c.cid) AS rn
        FROM embeddings e, cents c) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 {_QCOS_SQL.replace("a[i]", "e.embedding[i]")
                           .replace("b[i]", "c.cv[i]")
                           .replace("(a,", "(e.embedding,")
                           .replace("(b,", "(c.cv,")} DESC, c.cid) AS rn
        FROM embeddings e, cents c WHERE e.vec_id < 5) WHERE rn <= 4),
    cand AS (
      SELECT DISTINCT p.query_id, a.corpus_id
      FROM probes p JOIN assign a ON p.cid = a.cid),
    scored AS (
      SELECT cand.query_id, cand.corpus_id,
             {_QCOS_SQL.replace("a[i]", "qe.embedding[i]")
                       .replace("b[i]", "ce.embedding[i]")
                       .replace("(a,", "(qe.embedding,")
                       .replace("(b,", "(ce.embedding,")} AS cosine
      FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                JOIN embeddings ce ON ce.vec_id = cand.corpus_id)
    SELECT query_id, corpus_id, cosine, rank FROM (
      SELECT query_id, corpus_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, corpus_id) AS rank
      FROM scored) WHERE rank <= 5
    """


@query(
    "q37_ann_topk",
    # Merged q37+q38+q39 (round-6 consolidation — the catalog must sit
    # inside the driver's 50-query window): ALL THREE similarity-search
    # paths as one tagged union — exact brute-force cosine top-k
    # (the baseline), hyperplane-LSH, and IVF coarse quantization.
    # Each leg keeps its full pre-merge oracle: md5-derived integer
    # hyperplanes / md5-ordered centroids + quantized cosine make even
    # the approximate candidate sets bit-reproducible in SQL.
    oracle=f"""
    SELECT 'brute' AS method, * FROM ({_Q37_BRUTE_SQL})
    UNION ALL
    SELECT 'lsh', * FROM ({_Q38_LSH_SQL})
    UNION ALL
    SELECT 'ivf', * FROM ({_Q38_IVF_SQL})
    """,
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q37", sf_dir, "embeddings")
        .step("qb", "filter", "embeddings",
              predicate="[vec_id] == 0 || [vec_id] == 7 || [vec_id] == 21")
        .step("brute", "similarity.topk_bruteforce", ["embeddings", "qb"],
              id_col="vec_id", vec_col="embedding",
              query_id_col="vec_id", query_vec_col="embedding",
              k=5, quantize=10000)
        .step("brute_t", "derived_column", "brute",
              columns={"method": '"brute"'})
        .step("qs", "filter", "embeddings", predicate="[vec_id] < 5")
        .step("lsh", "similarity.topk_lsh", ["embeddings", "qs"],
              id_col="vec_id", vec_col="embedding",
              query_id_col="vec_id", query_vec_col="embedding",
              k=5, lsh_tables=8, lsh_bits=8,
              hyperplanes="md5", quantize=10000)
        .step("lsh_t", "derived_column", "lsh", columns={"method": '"lsh"'})
        .step("ivf", "similarity.topk_ivf", ["embeddings", "qs"],
              id_col="vec_id", vec_col="embedding",
              query_id_col="vec_id", query_vec_col="embedding",
              k=5, centroids=16, nprobe=4,
              centroid_order="md5", quantize=10000)
        .step("ivf_t", "derived_column", "ivf", columns={"method": '"ivf"'})
        .step("u", "union_all", ["brute_t", "lsh_t", "ivf_t"])
        .step("prj", "select", "u",
              columns=["method", "query_id", "corpus_id", "cosine", "rank"])
    )
    df = run_pipeline(spark, p).df("prj")
    return df.withColumn("rank", F.col("rank").cast("long"))


@query(
    "q40_dedup_embedding_pairs",
    # Merged q40+semantic: ('pair', global brute-force cosine pairs) plus
    # SemDeDup (Abbas et al. 2023) — ('sem_pair', within-cluster pairs
    # with the md5-ordered deterministic centroids and quantized-cosine
    # assignment re-derived in SQL, cluster id included) and ('sem_surv',
    # survivors under the PAPER's far-from-centroid diversity rule: of
    # each over-threshold pair, drop the member CLOSER to its centroid
    # (more typical), tie on centroid-cosine drops the larger id. Round 5
    # adds ('sem2_pair', the verify_nprobe=2 boundary mitigation: pairs
    # sharing ANY of their top-2 clusters, with the exact top-2
    # assignment and the min-shared-cluster collapse re-derived in SQL).
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    cent AS (
      SELECT embedding AS cv,
             CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
                  - 1 AS INT) AS cid
      FROM e
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 4),
    asg_ranked AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_QCOS_SQL.replace("a[i]", "e.embedding[i]").replace("b[i]", "c.cv[i]").replace("(a,", "(e.embedding,").replace("(b,", "(c.cv,")} DESC,
                        c.cid ASC) AS rn
      FROM e, cent c),
    asg AS (
      SELECT vec_id, embedding, cid FROM asg_ranked WHERE rn = 1),
    -- verify_nprobe=2: each vector rides into its TOP-2 centroids for
    -- the verify; a pair counts when ANY cluster is shared, deduped to
    -- one row with the smallest shared cluster id (the engine's exact
    -- collapse rule)
    asg2 AS (
      SELECT vec_id, embedding, cid FROM asg_ranked WHERE rn <= 2),
    sem2 AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             {_QCOS_SQL.replace("a[i]", "x.embedding[i]").replace("b[i]", "y.embedding[i]").replace("(a,", "(x.embedding,").replace("(b,", "(y.embedding,")} AS cosine,
             CAST(MIN(x.cid) AS INT) AS cluster
      FROM asg2 x JOIN asg2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE {_QCOS_SQL.replace("a[i]", "x.embedding[i]").replace("b[i]", "y.embedding[i]").replace("(a,", "(x.embedding,").replace("(b,", "(y.embedding,")} >= 0.35
      GROUP BY 1, 2, 3),
    sem AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             {_QCOS_SQL.replace("a[i]", "x.embedding[i]").replace("b[i]", "y.embedding[i]").replace("(a,", "(x.embedding,").replace("(b,", "(y.embedding,")} AS cosine,
             x.cid AS cluster
      FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE {_QCOS_SQL.replace("a[i]", "x.embedding[i]").replace("b[i]", "y.embedding[i]").replace("(a,", "(x.embedding,").replace("(b,", "(y.embedding,")} >= 0.35)
    SELECT 'pair' AS kind, x.vec_id AS a, y.vec_id AS b,
           {_QCOS_SQL.replace("a[i]", "x.embedding[i]").replace("b[i]", "y.embedding[i]").replace("(a,", "(x.embedding,").replace("(b,", "(y.embedding,")} AS cosine,
           CAST(NULL AS INT) AS cluster
    FROM e x JOIN e y ON x.vec_id < y.vec_id
    WHERE {_QCOS_SQL.replace("a[i]", "x.embedding[i]").replace("b[i]", "y.embedding[i]").replace("(a,", "(x.embedding,").replace("(b,", "(y.embedding,")} >= 0.35
    UNION ALL
    SELECT 'sem_pair', a, b, cosine, cluster FROM sem
    UNION ALL
    SELECT 'sem2_pair', a, b, cosine, cluster FROM sem2
    UNION ALL
    SELECT 'sem_surv', vec_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS INT)
    FROM e WHERE vec_id NOT IN (
      SELECT CASE WHEN ra.ccos > rb.ccos
                    OR (ra.ccos = rb.ccos AND s.a > s.b) THEN s.a
                  ELSE s.b END
      FROM sem s
      JOIN (SELECT a.vec_id, {_QCOS_SQL.replace("a[i]", "a.embedding[i]").replace("b[i]", "c.cv[i]").replace("(a,", "(a.embedding,").replace("(b,", "(c.cv,")} AS ccos
            FROM asg a JOIN cent c ON c.cid = a.cid) ra ON ra.vec_id = s.a
      JOIN (SELECT a.vec_id, {_QCOS_SQL.replace("a[i]", "a.embedding[i]").replace("b[i]", "c.cv[i]").replace("(a,", "(a.embedding,").replace("(b,", "(c.cv,")} AS ccos
            FROM asg a JOIN cent c ON c.cid = a.cid) rb ON rb.vec_id = s.b)
    """,
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.35: the synthetic embeddings have no true near-dups
    # (max pairwise cosine ~0.48), so a lower cut keeps the verify stage
    # non-trivially exercised.
    p = (
        _p("q40", sf_dir, "embeddings")
        .step("sub", "filter", "embeddings", predicate="[vec_id] % 5 == 0")
        .step("dd", "dedup.embedding", "sub", id_col="vec_id",
              vec_col="embedding", threshold=0.35, brute_force=True,
              quantize=10000, return_pairs=True)
        .step("sem", "dedup.semantic", "sub", id_col="vec_id",
              vec_col="embedding", threshold=0.35, n_clusters=4,
              centroid_order="md5", quantize=10000, return_pairs=True,
              keep="far_centroid")
        # round 5: the verify_nprobe=2 boundary mitigation as its own
        # oracle-backed leg (top-2 centroid assignment re-derived in SQL)
        .step("sem2", "dedup.semantic", "sub", id_col="vec_id",
              vec_col="embedding", threshold=0.35, n_clusters=4,
              centroid_order="md5", quantize=10000, return_pairs=True,
              verify_nprobe=2)
    )
    r = run_pipeline(spark, p)
    pair = r.df("dd.pairs").select(
        F.lit("pair").alias("kind"), "a", "b", "cosine",
        F.lit(None).cast("int").alias("cluster"),
    )
    sem_pair = r.df("sem.pairs").select(
        F.lit("sem_pair").alias("kind"), "a", "b", "cosine", "cluster",
    )
    sem2_pair = r.df("sem2.pairs").select(
        F.lit("sem2_pair").alias("kind"), "a", "b", "cosine", "cluster",
    )
    sem_surv = r.df("sem.out").select(
        F.lit("sem_surv").alias("kind"), F.col("vec_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("double").alias("cosine"),
        F.lit(None).cast("int").alias("cluster"),
    )
    return (
        pair.unionByName(sem_pair).unionByName(sem2_pair)
        .unionByName(sem_surv)
    )


# -- events: batch windows, sessionization, JSON, streaming -----------------


@query(
    "q41_events_windows_json",
    # Merged q41+q43: batch tumbling-window aggregation and JSON property
    # extraction + aggregation over the events table, tagged and unioned.
    oracle="""
    SELECT 'tumble' AS kind,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS val
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'json_props', CAST(NULL AS TIMESTAMP), event_type,
           CAST(NULL AS BIGINT),
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
    FROM events GROUP BY event_type
    """,
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Pipeline("q41").step(
        "events", "source.parquet", path=f"{sf_dir}/events.parquet",
        nanos_ts_cols=["ts"],
    )
    events = run_pipeline(spark, p).df("events")
    tumble = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("string")
            .cast("double").alias("val"),
        )
        .select(
            F.lit("tumble").alias("kind"),
            F.col("window.start").alias("window_start"), "event_type", "n",
            "val",
        )
    )
    jprops = (
        events.withColumn(
            "k", F.get_json_object("props", "$.k").cast("bigint")
        )
        .groupBy("event_type")
        .agg(F.sum("k").cast("double").alias("val"))
        .select(
            F.lit("json_props").alias("kind"),
            F.lit(None).cast("timestamp").alias("window_start"),
            "event_type",
            F.lit(None).cast("bigint").alias("n"),
            "val",
        )
    )
    return tumble.unionByName(jprops)


@query(
    "q42_sessionization",
    # Merged q42+q64: the per-event session index (sessionize operator) is
    # strictly stronger than per-user session counts — the counts are
    # max(session_id) per user, so row-level ids verify both.
    oracle="""
    WITH x AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id, user_id,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_id
    FROM x
    """,
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        Pipeline("q42")
        .step("events", "source.parquet", path=f"{sf_dir}/events.parquet",
              nanos_ts_cols=["ts"])
        .step("s", "sessionize", "events", key=["user_id"], ts_col="ts",
              gap_seconds=1800, order_tiebreak="event_id")
        .step("prj", "select", "s",
              columns=["event_id", "user_id", "session_id"])
    )
    return run_pipeline(spark, p).df("prj")


@query(
    "q43_streaming_windows",
    # Merged q44+q55+q56+stream-dedup+stateful: an ACTUAL Structured
    # Streaming
    # tumbling-window run (file source -> watermarked agg -> memory sink)
    # plus batch-mode sliding and session windows, plus a SECOND real
    # streaming run through dropDuplicatesWithinWatermark on
    # (user_id, event_type) — the watermark horizon covers the bounded
    # replay, so survivors-per-event_type equals COUNT(DISTINCT user_id)
    # regardless of the part files' arrival order (which row survives is
    # arrival-dependent; the COUNT is not). Unified to (kind, k1, k2, n)
    # and unioned. Late-data semantics don't bite: the bounded input is
    # fully replayed and the window sink is complete-mode.
    oracle="""
    SELECT 'tumble' AS kind,
           CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS k1,
           event_type AS k2, COUNT(*) AS n
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'slide', CAST(window_start AS VARCHAR), event_type, COUNT(*)
    FROM (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL 1 HOUR, event_type
      FROM events) starts
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sdedup', event_type, 'n_unique_users',
           COUNT(DISTINCT user_id)
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'state', CAST(user_id AS VARCHAR), 'n_events_state', COUNT(*)
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'session', CAST(user_id AS VARCHAR), m.measure,
           CASE m.measure WHEN 'n_sessions' THEN CAST(SUM(new_session) AS BIGINT)
                          ELSE COUNT(*) END
    FROM (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) x
    CROSS JOIN (VALUES ('n_sessions'), ('n_events')) m(measure)
    GROUP BY user_id, m.measure
    """,
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ssis_to_pyspark_agent_spark.streaming import (
        run_stream_to_memory,
        stream_events,
        windowed_agg,
    )

    sevents = stream_events(spark, f"{sf_dir}/events.parquet",
                            max_files_per_trigger=1)
    agg = windowed_agg(sevents, "ts", "1 hour", {"n": ("count", "*")},
                       keys=["event_type"], watermark="2 hours")
    # complete mode: append would hold back the trailing windows still
    # inside the watermark horizon when the bounded stream ends
    run_stream_to_memory(agg, "q43_out", output_mode="complete")

    from ssis_to_pyspark_agent_spark.streaming import dedup_within_watermark

    sd = dedup_within_watermark(
        stream_events(spark, f"{sf_dir}/events.parquet",
                      max_files_per_trigger=1),
        keys=["user_id", "event_type"], ts_col="ts",
        watermark="3650 days",  # horizon covers the bounded replay ->
        # exact global dedup; real deployments use tight horizons
    )
    run_stream_to_memory(sd, "q43_sd", output_mode="append")
    # NULL-user survivors are excluded from the reported count: streaming
    # dedup keeps NULL as a key value, but the oracle's COUNT(DISTINCT
    # user_id) ignores NULLs — filter so the invariant holds even on a
    # corpus with NULL users (the fixtures have none)

    from ssis_to_pyspark_agent_spark.streaming import stateful_counter

    # custom stateful operator (applyInPandasWithState): running per-user
    # counter; update-mode emits a monotone series per user whose MAX is
    # the final total — arrival-order independent on the bounded replay
    st = stateful_counter(
        stream_events(spark, f"{sf_dir}/events.parquet",
                      max_files_per_trigger=1),
        keys=["user_id"],
    )
    run_stream_to_memory(st, "q43_state", output_mode="update")
    state = (
        spark.table("q43_state")
        .groupBy("user_id")
        .agg(F.max("n").alias("n"))
        .select(
            F.lit("state").alias("kind"),
            F.col("user_id").cast("string").alias("k1"),
            F.lit("n_events_state").alias("k2"),
            "n",
        )
    )
    sdedup = (
        spark.table("q43_sd")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("sdedup").alias("kind"),
            F.col("event_type").alias("k1"),
            F.lit("n_unique_users").alias("k2"),
            "n",
        )
    )
    tumble = spark.table("q43_out").select(
        F.lit("tumble").alias("kind"),
        F.col("window_start").cast("string").alias("k1"),
        F.col("event_type").alias("k2"),
        "n",
    )

    p = Pipeline("q43").step(
        "events", "source.parquet", path=f"{sf_dir}/events.parquet",
        nanos_ts_cols=["ts"],
    )
    ev = run_pipeline(spark, p).df("events")
    slide = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("slide").alias("kind"),
            F.col("window.start").cast("string").alias("k1"),
            F.col("event_type").alias("k2"),
            "n",
        )
    )
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.sum("n").alias("n_events"))
    )
    s1 = sess.select(
        F.lit("session").alias("kind"),
        F.col("user_id").cast("string").alias("k1"),
        F.lit("n_sessions").alias("k2"),
        F.col("n_sessions").alias("n"),
    )
    s2 = sess.select(
        F.lit("session").alias("kind"),
        F.col("user_id").cast("string").alias("k1"),
        F.lit("n_events").alias("k2"),
        F.col("n_events").alias("n"),
    )
    return (
        tumble.unionByName(slide).unionByName(s1).unionByName(s2)
        .unionByName(sdedup).unionByName(state)
    )


# -- fuzzy lookup, merge-sorted, multicast/rowcount, variables, functions ---


# --- q44's curation-funnel legs (merged former q81, round-6) --------------

_Q44_FUNNEL_TOK = "len(regexp_extract_all(trim(text), '\\S+'))"

#: the 21 per-doc q44 columns a funnel row NULLs out (doc_id..url_keep)
_Q44_NULLS20 = ", ".join(["NULL"] * 21)

_Q44_FUNNEL_CTES = f""",
    foff AS (SELECT MAX(doc_id) + 1
                    + ((10007 - (MAX(doc_id) + 1)) % 300 + 300) % 300 AS off
             FROM documents),
    fd0 AS (SELECT doc_id, text, source, {_Q44_FUNNEL_TOK} AS tok FROM (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + (SELECT off FROM foff), text, source
              FROM documents
              WHERE doc_id % 40 = 3) u),
    furw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END) ||
             (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
             (CASE WHEN doc_id % 2 = 0 THEN 'Example.COM'
                   ELSE 'example.com' END) ||
             (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
             '/' || source || '/p' || CAST(doc_id % 50 AS VARCHAR) ||
             (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=feed'
                   ELSE '?a=1&b=2&fbclid=abc' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END) AS url
      FROM fd0),
    furh AS (
      SELECT doc_id, trim(url) AS u,
             regexp_extract(trim(url), '^([^:/?#]+://[^/?#]*)', 1) AS head
      FROM furw),
    furh2 AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(lower(head),
               '^(http://.*):80$', '\\1'), '^(https://.*):443$', '\\1'),
               '^(https?://)www\\.', '\\1') AS head,
             regexp_replace(substr(u, length(head) + 1), '#.*$', '') AS tail
      FROM furh),
    furp AS (
      SELECT doc_id, head, tail,
             list_sort(list_filter(
               string_split(regexp_extract(tail, '^[^?#]*\\?([^#]*)', 1), '&'),
               p -> p <> '' AND NOT (
                 lower(regexp_extract(p, '^([^=]*)', 1))
                   IN ('fbclid', 'gclid', 'msclkid', 'ref')
                 OR starts_with(lower(regexp_extract(p, '^([^=]*)', 1)),
                                'utm_'))))
               AS prm
      FROM furh2),
    furc AS (
      SELECT doc_id,
             head || regexp_extract(tail, '^([^?#]*)', 1) ||
             (CASE WHEN len(prm) > 0 THEN '?' || array_to_string(prm, '&')
                   ELSE '' END) AS url_canon
      FROM furp),
    fs1 AS (
      SELECT fd0.* FROM fd0 JOIN (
        SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY url_canon)
                 AS keepf
        FROM furc) k USING (doc_id)
      WHERE k.keepf),
    flb AS (SELECT doc_id, {_WORDS_SQL} AS words FROM fs1),
    flsc AS (
      SELECT doc_id, lang,
             CAST(hits AS DOUBLE) / GREATEST(len(words), 1) AS score
      FROM flb, LATERAL (VALUES
        {", ".join(f"('{lg}', len(list_filter(words, w -> list_contains({sw}, w))))" for lg, sw in _LANGS_SQL.items())}
      ) t(lang, hits)),
    flbst AS (
      SELECT doc_id, lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM flsc),
    fs2 AS (
      SELECT fs1.* FROM fs1 JOIN flbst b USING (doc_id)
      WHERE b.rn = 1 AND b.score > 0 AND b.lang = 'en'),
    fqual AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM fs2),
    fs3 AS (
      SELECT fs2.* FROM fs2 JOIN (
        SELECT doc_id,
               len(words) AS n_words,
               CAST(len(list_filter(words, w -> list_contains({_EN_SW}, w)))
                    AS DOUBLE) / GREATEST(len(words), 1) AS stopword_ratio
        FROM fqual) q USING (doc_id)
      WHERE q.stopword_ratio > 0.04 AND q.n_words >= 25),
    fs4 AS (
      SELECT * FROM (
        SELECT fs3.*, ROW_NUMBER() OVER (PARTITION BY text
                                         ORDER BY doc_id) AS rk
        FROM fs3) WHERE rk = 1),
    ftcnt AS (SELECT source AS _g, COUNT(*) AS n FROM fs4 GROUP BY source),
    ftq AS (SELECT _g, n,
                   CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1024 + 0.5) AS BIGINT)
                     AS qi
            FROM ftcnt),
    ftr AS (SELECT _g, least(1.0,
                (CAST(floor(0.6 * CAST(ntot AS DOUBLE)) AS DOUBLE)
                 * CAST(qi AS DOUBLE))
                / (CAST(s AS DOUBLE) * CAST(n AS DOUBLE))) AS thr
            FROM (SELECT _g, n, qi, SUM(qi) OVER () AS s,
                         SUM(n) OVER () AS ntot FROM ftq)),
    fs5 AS (
      SELECT fs4.* FROM fs4 JOIN ftr ON fs4.source = ftr._g
      WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS DOUBLE) < ftr.thr * 1152921504606846976.0)"""

_Q44_FUNNEL_LEGS = "".join(
    f"""
    UNION ALL
    SELECT 'stage', {_Q44_NULLS20}, '{key}', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(tok), 0) AS BIGINT)
    FROM {cte}"""
    for cte, key in (
        ("fd0", "s0_raw"), ("fs1", "s1_url"), ("fs2", "s2_lang"),
        ("fs3", "s3_quality"), ("fs4", "s4_exact"),
        ("fs5", "s5_temperature"),
    )
) + f"""
    UNION ALL
    SELECT 'by_source', {_Q44_NULLS20}, source, CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(tok), 0) AS BIGINT)
    FROM fs5 GROUP BY source
    """


def _q44_url(mod: int) -> Column:
    """The messy-but-deterministic synthetic URL both q44 legs share
    (case drift, www, default port, tracking params, unsorted params,
    fragment); ``mod`` sets the path collision group size."""
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://"))
         .otherwise(F.lit("HTTPS://")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("Example.COM"))
         .otherwise(F.lit("example.com")),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443"))
         .otherwise(F.lit("")),
        F.lit("/"), F.col("source"), F.lit("/p"),
        (F.col("doc_id") % mod).cast("string"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("?b=2&a=1&utm_source=feed"))
         .otherwise(F.lit("?a=1&b=2&fbclid=abc")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#sec2"))
         .otherwise(F.lit("")),
    )


def _q44_clone_offset(spark: SparkSession, sf_dir: str) -> int:
    """Clone-id offset for the q44 funnel's planted exact dups: fresh
    ids strictly above max(doc_id) — collision-free at ANY fixture
    scale; the former ``+10007`` literal silently collided with real
    ids past 10007 docs, which cross-flags keepers under dedup.url's
    unique-id fast path and fans out the oracle's id join (ADVICE
    round 6) — bumped to the next value ≡ 10007 (mod 300, the lcm of
    the synthetic url's %2/%3/%4/%50 components) so the clones land in
    EXACTLY the url residue classes the old constant produced and the
    s4 exact-dup stage stays exercised scale-independently. Mirrored by
    the ``foff`` scalar CTE in the oracle. max(doc_id) comes from the
    parquet FOOTER column statistics — zero Spark jobs (r11, the same
    metadata idiom as q32's count_rows; previously a schema-inference
    job + a 1-row aggregate job per invocation); falls back to the
    column-pruned Spark aggregate when any row group lacks stats."""
    mx = _parquet_col_max(f"{sf_dir}/documents.parquet", "doc_id")
    if mx is None:
        from ssis_to_pyspark_agent_spark.sources.catalog import read_parquet

        mx = read_parquet(
            spark, f"{sf_dir}/documents.parquet"
        ).agg(F.max("doc_id")).first()[0]
    base = int(mx) + 1
    return base + (10007 - base) % 300


def _parquet_col_max(path: str, col: str):
    """Column max from parquet footer statistics (no Spark job); None
    when any row group lacks stats for ``col`` (caller falls back to a
    real aggregate)."""
    import pyarrow.dataset as _pads

    try:
        mx = None
        for frag in _pads.dataset(path).get_fragments():
            md = frag.metadata
            names = {n: i for i, n in enumerate(md.schema.names)}
            if col not in names:
                return None
            ci = names[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                mx = st.max if mx is None else max(mx, st.max)
        return mx
    except Exception:
        return None


def _q44_funnel(spark: SparkSession, d0: DataFrame) -> list[tuple]:
    """Run the curation cascade over ``d0`` (doc_id, text, source,
    ws_tokens) and return the funnel-report rows
    [(kind, key, n_docs, n_toks), ...] — SINGLE-PASS per stage. The
    synthetic url's path collision group size is 50, the q44 fixture
    contract the oracle mirrors.

    The former standalone q81 re-derived each stage's full prefix per
    report leg — ~6 corpus passes; at 100 TB a funnel must cost one
    pass per stage (round-5 verdict item 2). Every stage frame is
    persisted and the per-stage count/token aggregates read the caches
    in chain order (Spark's cache manager substitutes a persisted
    subtree into every downstream stage), so the raw input is scanned
    exactly once (pinned by an instrumented-input test counting rows
    leaving the raw source). The footprint is executor STORAGE
    memory/disk — at 100 TB eviction silently re-derives upstream
    stages. Report rows are tiny (6 stages + |sources|), collected
    eagerly; every persist is released before returning (NOTES
    invariant 13).
    """

    def seg(tag: str, x: DataFrame, steps) -> DataFrame:
        p = Pipeline(f"q44_funnel_{tag}").step(
            "in", "source.dataframe", df=x)
        prev = "in"
        for i, (op, cfg) in enumerate(steps):
            name = f"t{i}"
            p = p.step(name, op, prev, **cfg)
            prev = name
        return run_pipeline(spark, p).df(prev)

    stage_defs = [
        ("s1_url", [
            ("derived_column", dict(columns={"url": _q44_url(50)})),
            ("dedup.url", dict(url_col="url", id_col="doc_id",
                               emit="flag")),
            ("filter", dict(predicate="[url_keep]")),
        ]),
        ("s2_lang", [
            ("text.lang_id", dict(text_col="text")),
            ("filter", dict(predicate='[lang_pred] == "en"')),
        ]),
        ("s3_quality", [
            ("text.quality", dict(text_col="text")),
            ("filter", dict(
                predicate="[stopword_ratio] > 0.04 && [n_words] >= 25")),
        ]),
        ("s4_exact", [
            ("dedup.exact", dict(columns=["text"], keep_by=["doc_id"])),
        ]),
        ("s5_temperature", [
            ("sample.temperature", dict(id_col="doc_id",
                                        group_col="source", alpha=0.5,
                                        budget_frac=0.6)),
        ]),
    ]
    keys = ["s0_raw"] + [k for k, _ in stage_defs]
    frames = [d0.persist()]
    for key, steps in stage_defs:
        frames.append(seg(key, frames[-1], steps).persist())
    rows: list[tuple] = []

    def report(f: DataFrame):
        return f.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("ws_tokens"), F.lit(0)).cast("long")
             .alias("tok"),
        )

    try:
        # NOTE (r11): a 2-action variant (one cache-fill pass over the
        # last stage + one union-of-aggregates job) was built and
        # measured SLOWER than this 7-action chain at sf0.1 (funnel-only
        # alternating A/B, min-of-5 x3: 4.88 vs 4.13 s — the single-job
        # chain fill loses more than the 5 saved scheduler round-trips
        # gain). The incremental per-stage reports stay.
        for key, f in zip(keys, frames):
            agg = report(f).collect()[0]
            rows.append(("stage", key, agg["n"], agg["tok"]))
        for src in (
            frames[-1].groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.coalesce(F.sum("ws_tokens"), F.lit(0)).cast("long")
                 .alias("tok"),
            ).collect()
        ):
            rows.append(("by_source", src["source"], src["n"], src["tok"]))
    finally:
        for f in frames:
            f.unpersist()
    return rows


@query(
    "q44_data_hygiene",
    # Training-data hygiene pair: PII redaction (emails/IPv4/phones ->
    # typed placeholders, per-type counts) and GPT-3-style benchmark
    # decontamination (8-gram overlap against a held-out benchmark set —
    # here every 100th doc). PII is INJECTED deterministically so the
    # patterns actually fire on the synthetic corpus; regexes are
    # lookaround-free so Java (Spark) and RE2 (DuckDB) agree.
    # PLUS (merged former q81, round-6 consolidation) the RefinedWeb/
    # FineWeb-shaped curation CASCADE as 'stage'/'by_source' rows —
    # unlike the parallel per-doc hygiene legs, each funnel stage
    # consumes the PREVIOUS stage's survivors:
    #   s0 raw(+planted exact-dup clones) -> s1 URL-canonicalize+dedup
    #   -> s2 language gate (lang_pred = 'en') -> s3 quality gate
    #   (stopword_ratio > 0.04 AND n_words >= 25) -> s4 exact-text
    #   dedup (keep-first by id) -> s5 temperature resample (n^0.5
    #   source shares, 60% budget).
    # The oracle replays the whole funnel in nested CTEs and checks
    # per-stage doc+token counts plus the final source mix; any stage
    # computing the wrong survivor set corrupts every later count.
    # The Spark side runs the funnel SINGLE-PASS (each stage persisted
    # and scanned once — see _q44_funnel).
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com at 10.0.' || (doc_id % 256) || '.7 or 555-' ||
             lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' card ' ||
             (CASE WHEN doc_id % 2 = 0 THEN '4111 1111 1111 1111'
                   ELSE '4111111111111111' END) ||
             ' not 4111111111111112' AS t
      FROM documents WHERE doc_id % 100 != 0),
    redc AS (
      SELECT doc_id, t,
             list_filter(
               regexp_extract_all(t, '\\b\\d(?:[ -]?\\d){12,18}\\b'),
               s -> len(string_split(reverse(regexp_replace(s, '[ -]', '', 'g')), ''))
                      BETWEEN 13 AND 19
                AND list_sum(list_transform(
                      string_split(reverse(regexp_replace(s, '[ -]', '', 'g')), ''),
                      (x, i) -> CASE WHEN (i - 1) % 2 = 1
                                THEN CASE WHEN CAST(x AS INT) * 2 > 9
                                     THEN CAST(x AS INT) * 2 - 9
                                     ELSE CAST(x AS INT) * 2 END
                                ELSE CAST(x AS INT) END)) % 10 = 0)
               AS ccv
      FROM aug),
    red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
             CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
             CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phone,
             CAST(len(ccv) AS INT) AS n_credit_card,
             -- card fold FIRST (on the text candidates were extracted
             -- from), \b-anchored — mirrors text.redact exactly
             length(regexp_replace(regexp_replace(regexp_replace(
               list_reduce(list_prepend(t, ccv),
                 (acc, x) -> regexp_replace(
                   acc, '\\b' || x || '\\b', '[CREDIT_CARD]', 'g')),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IPV4]', 'g'),
                 '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g')) AS red_len
      FROM redc),
    words AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 7, 1) + 1),
               i -> array_to_string(w[i:i+7], ' '))) AS shingles
      FROM words),
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 100 = 0),
    overlap AS (
      SELECT d.doc_id, COUNT(*) AS n_overlap
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
            WHERE doc_id % 100 != 0) d
      JOIN bench USING (s) GROUP BY d.doc_id),
    lt AS (
      SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(w) / 8.0) AS BIGINT) + 1),
               i -> array_to_string(w[(i-1)*8+1:(i-1)*8+8], ' ')) AS lines
      FROM words WHERE doc_id % 100 != 0),
    lstat AS (
      SELECT doc_id,
             CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
               / CAST(greatest(len(lines), 1) AS DOUBLE) AS dup_line_frac,
             CAST(list_sum(list_transform(lines, x -> length(x)))
                  - list_sum(list_transform(list_distinct(lines), x -> length(x)))
                  AS DOUBLE)
               / CAST(greatest(list_sum(list_transform(lines, x -> length(x))), 1)
                      AS DOUBLE) AS dup_line_char_frac
      FROM lt),
    gr AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
               i -> array_to_string(w[i:i+1], ' '))) AS g
      FROM words WHERE doc_id % 100 != 0
      UNION ALL
      SELECT doc_id, 5,
             unnest(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
               i -> array_to_string(w[i:i+4], ' ')))
      FROM words WHERE doc_id % 100 != 0),
    gcnt AS (SELECT doc_id, n, g, COUNT(*) AS c FROM gr GROUP BY doc_id, n, g),
    rstat AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 2 THEN c * length(g) END) AS top2,
             CAST(SUM(CASE WHEN n = 5 AND c >= 2 THEN c * length(g)
                           ELSE 0 END) AS BIGINT) AS dup5
      FROM gcnt GROUP BY doc_id),
    nl AS (
      SELECT doc_id,
             length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS nlen
      FROM documents WHERE doc_id % 100 != 0),
    locc AS (SELECT doc_id, unnest(lines) AS line FROM lt),
    ldf AS (SELECT line, COUNT(DISTINCT doc_id) AS dfc
            FROM locc GROUP BY line),
    bp AS (
      SELECT o.doc_id,
             CAST(SUM(CASE WHEN ldf.dfc >= 2 THEN 1 ELSE 0 END) AS INT)
               AS n_boilerplate_lines,
             CAST(SUM(CASE WHEN ldf.dfc < 2 THEN length(o.line) ELSE 0 END)
                  + greatest(SUM(CASE WHEN ldf.dfc < 2 THEN 1 ELSE 0 END) - 1,
                             0) AS INT) AS clean_len
      FROM locc o JOIN ldf USING (line) GROUP BY o.doc_id),
    ctoks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               t -> t <> '')) AS tok
      FROM documents WHERE doc_id % 100 != 0),
    cfeat AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS d,
             COUNT(*) AS n
      FROM ctoks GROUP BY doc_id, d),
    cwts AS (
      SELECT l.li, l.lab, d.d,
             CAST(concat('0x', substr(md5(concat('lrw:', l.lab, ':', d.d)),
                  1, 15)) AS BIGINT) % 2001 - 1000 AS w
      FROM (VALUES (0, 'negative'), (1, 'neutral'), (2, 'positive'))
           l(li, lab), range(64) d(d)),
    clog AS (
      SELECT f.doc_id, w.li, w.lab, SUM(f.n * w.w) AS logit
      FROM cfeat f JOIN cwts w USING (d) GROUP BY f.doc_id, w.li, w.lab),
    cbest AS (
      SELECT doc_id, lab, logit,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY logit DESC, li ASC) AS rn
      FROM clog),
    hw AS (
      SELECT doc_id,
             '<html><head><title> Doc ' || doc_id ||
             ' &amp; friends </title><style>p {color: red}</style>' ||
             '<script>var x = 1 < 2;</script></head>' ||
             '<body><!-- nav boilerplate --><h1>Doc ' || doc_id ||
             '</h1><p>' || text ||
             '</p><div>footer &lt;generated&gt;</div></body></html>'
               AS page
      FROM documents WHERE doc_id % 100 != 0),
    hx AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(page,
                     '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                   '(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>',
                   chr(10), 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
             '[ \\t\\r\\f]+', ' ', 'g'),
             ' ?\\n ?', chr(10), 'g'),
             '\\n+', chr(10), 'g') AS t0,
             regexp_extract(page, '(?is)<title[^>]*>(.*?)<', 1) AS ttl
      FROM hw),
    hfin AS (
      SELECT doc_id,
             length(regexp_replace(t0, '^\\s+|\\s+$', '', 'g')) AS html_len,
             md5(regexp_replace(t0, '^\\s+|\\s+$', '', 'g')) AS html_md5,
             regexp_replace(replace(replace(replace(replace(replace(replace(
               replace(ttl, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
               '&amp;', '&'),
             '^\\s+|\\s+$', '', 'g') AS html_title
      FROM hx),
    urw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END) ||
             (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
             (CASE WHEN doc_id % 2 = 0 THEN 'Example.COM'
                   ELSE 'example.com' END) ||
             (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
             '/' || source || '/p' || CAST(doc_id % 211 AS VARCHAR) ||
             (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=feed'
                   ELSE '?a=1&b=2&fbclid=abc' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END) AS url
      FROM documents WHERE doc_id % 100 != 0),
    urh AS (
      SELECT doc_id, trim(url) AS u,
             regexp_extract(trim(url), '^([^:/?#]+://[^/?#]*)', 1) AS head
      FROM urw),
    urh2 AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(lower(head),
               '^(http://.*):80$', '\\1'), '^(https://.*):443$', '\\1'),
               '^(https?://)www\\.', '\\1') AS head,
             regexp_replace(substr(u, length(head) + 1), '#.*$', '') AS tail
      FROM urh),
    urp AS (
      SELECT doc_id, head, tail,
             list_sort(list_filter(
               string_split(regexp_extract(tail, '^[^?#]*\\?([^#]*)', 1), '&'),
               p -> p <> '' AND NOT (
                 lower(regexp_extract(p, '^([^=]*)', 1))
                   IN ('fbclid', 'gclid', 'msclkid', 'ref')
                 OR starts_with(lower(regexp_extract(p, '^([^=]*)', 1)),
                                'utm_'))))
               AS prm
      FROM urh2),
    urc AS (
      SELECT doc_id,
             head || regexp_extract(tail, '^([^?#]*)', 1) ||
             (CASE WHEN len(prm) > 0 THEN '?' || array_to_string(prm, '&')
                   ELSE '' END) AS url_canon
      FROM urp),
    urk AS (
      SELECT doc_id, url_canon,
             doc_id = MIN(doc_id) OVER (PARTITION BY url_canon) AS url_keep
      FROM urc)""" + _Q44_FUNNEL_CTES + """
    SELECT 'doc' AS kind,
           r.doc_id, r.n_email, r.n_ipv4, r.n_phone, r.n_credit_card,
           r.red_len,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(o.n_overlap, 0) >= 1 AS contaminated,
           ls.dup_line_frac, ls.dup_line_char_frac,
           CAST(COALESCE(rs.top2, 0) AS DOUBLE)
             / CAST(greatest(nl.nlen, 1) AS DOUBLE) AS top_2gram_char_frac,
           CAST(COALESCE(rs.dup5, 0) AS DOUBLE)
             / CAST(greatest(nl.nlen, 1) AS DOUBLE) AS dup_5gram_char_frac,
           bp.n_boilerplate_lines, bp.clean_len,
           COALESCE(cb.lab, 'negative') AS cls_label,
           CAST(COALESCE(cb.logit, 0) AS DOUBLE) AS cls_score,
           hf.html_len, hf.html_md5, hf.html_title,
           uk.url_canon, uk.url_keep,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS n_toks
    FROM red r LEFT JOIN overlap o ON o.doc_id = r.doc_id
    JOIN lstat ls ON ls.doc_id = r.doc_id
    JOIN rstat rs ON rs.doc_id = r.doc_id
    JOIN nl ON nl.doc_id = r.doc_id
    JOIN bp ON bp.doc_id = r.doc_id
    JOIN hfin hf ON hf.doc_id = r.doc_id
    JOIN urk uk ON uk.doc_id = r.doc_id
    LEFT JOIN (SELECT * FROM cbest WHERE rn = 1) cb ON cb.doc_id = r.doc_id"""
    + _Q44_FUNNEL_LEGS,
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    clone_off = _q44_clone_offset(spark, sf_dir)
    p = (
        _p("q44", sf_dir, "documents")
        .step("bench", "filter", "documents", predicate="[doc_id] % 100 == 0")
        .step("corpus", "filter", "documents", predicate="[doc_id] % 100 != 0")
        # REAL model inference in the hygiene pass: numpy linear
        # classifier over md5-bucketed bag-of-words (integer logits,
        # re-derived exactly in the oracle); quality-classifier filtering
        # is a standard pretraining-pipeline stage
        .step("cls", "text.classify", "corpus", text_col="text",
              model="logreg", hash_dim=64)
        .step("aug", "derived_column", "cls", columns={
            "t": F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com at 10.0."), F.col("doc_id") % 256,
                F.lit(".7 or 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                # payment-card pair: one Luhn-VALID number (separator
                # style varies by parity) that MUST redact, one
                # checksum-invalid neighbor that must NOT — exercising
                # the mod-10 gate, not just the regex
                F.lit(" card "),
                F.when(F.col("doc_id") % 2 == 0,
                       F.lit("4111 1111 1111 1111"))
                 .otherwise(F.lit("4111111111111111")),
                F.lit(" not 4111111111111112"),
            )
        })
        .step("red", "text.redact", "aug", text_col="t", out="t_red",
              luhn_cc=True)
        .step("dc", "text.decontaminate", ["red", "bench"],
              id_col="doc_id", text_col="text", shingle_k=8)
        .step("rl", "derived_column", "dc",
              columns={"red_len": F.length("t_red")})
        # line-ify deterministically (the synthetic corpus has no
        # newlines): 8-word lines from the normalized word array, so the
        # Gopher line-repetition stats exercise real line structure and
        # the oracle can rebuild the identical lines in SQL
        .step("lin", "derived_column", "rl", columns={
            "text_l": F.array_join(
                _lambda_bind(
                    _words_col("text"),
                    lambda w: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.ceil(F.size(w) / F.lit(8.0)).cast("int"),
                        ),
                        lambda i: F.concat_ws(
                            " ", F.slice(w, (i - 1) * 8 + 1, 8)
                        ),
                    ),
                ),
                "\n",
            )
        })
        .step("rep", "text.repetition", "lin", text_col="text_l",
              top_ns=[2], dup_ns=[5])
        # corpus-level boilerplate line removal over the same derived
        # lines (153 of the 3434 distinct 8-word lines at sf0.01 occur
        # in >= 2 docs, so min_df=2 fires on natural data)
        .step("ld", "text.line_dedup", "rep", id_col="doc_id",
              text_col="text_l", min_df=2)
        .step("cl", "derived_column", "ld",
              columns={"clean_len": F.length("text_clean")})
        # raw-web ingest leg: wrap each surviving doc in deterministic
        # HTML (script/style/comment noise, entities, a title) and run
        # the WET-style extraction back to text — the step a
        # pretraining pipeline runs before any dedup/quality pass
        .step("hw", "derived_column", "cl", columns={
            "page": F.concat(
                F.lit("<html><head><title> Doc "), F.col("doc_id"),
                F.lit(" &amp; friends </title><style>p {color: red}"
                      "</style><script>var x = 1 < 2;</script></head>"
                      "<body><!-- nav boilerplate --><h1>Doc "),
                F.col("doc_id"),
                F.lit("</h1><p>"), F.col("text"),
                F.lit("</p><div>footer &lt;generated&gt;</div>"
                      "</body></html>"),
            )
        })
        .step("hx", "text.html_extract", "hw", html_col="page",
              out="page_text", title_col="html_title")
        .step("hm", "derived_column", "hx", columns={
            "html_len": F.length("page_text"),
            "html_md5": F.md5("page_text"),
        })
        # URL-level dedup leg: synthesize a messy-but-deterministic URL
        # per doc (case drift, www, default port, tracking params,
        # unsorted params, fragment) and run the canonicalize+dedup the
        # raw-web pipelines do FIRST — docs sharing (source, doc_id%211)
        # collide post-canonicalization and only the min doc_id keeps
        .step("uw", "derived_column", "hm", columns={"url": _q44_url(211)})
        .step("ud", "dedup.url", "uw", url_col="url", id_col="doc_id",
              emit="flag")
        .step("prj", "select", "ud",
              columns=["doc_id", "n_email", "n_ipv4", "n_phone",
                       "n_credit_card",
                       "red_len", "n_overlap", "contaminated",
                       "dup_line_frac", "dup_line_char_frac",
                       "top_2gram_char_frac", "dup_5gram_char_frac",
                       "n_boilerplate_lines", "clean_len",
                       "cls_label", "cls_score",
                       "html_len", "html_md5", "html_title",
                       "url_canon", "url_keep"])
        # funnel input (merged former q81): plant exact-dup clones with
        # FRESH ids (clone_off = max(doc_id)+1 bumped to ≡ 10007 mod
        # 300, see _q44_clone_offset — unique at any fixture scale AND
        # the same url residue classes as the original +10007 constant,
        # so clones reach s4 and must be caught by the exact-text stage;
        # without them the synthetic corpus has zero exact dups and s4
        # would be an unexercised pass)
        .step("fbase", "select", "documents",
              columns=["doc_id", "text", "source"])
        .step("fcl0", "filter", "fbase", predicate="[doc_id] % 40 == 3")
        .step("fcl1", "derived_column", "fcl0",
              columns={"doc_id2": f"[doc_id] + {clone_off}"})
        .step("fcl2", "select", "fcl1",
              columns={"doc_id": "doc_id2", "text": "text",
                       "source": "source"})
        .step("fd0", "union_all", ["fbase", "fcl2"])
        .step("ftok", "text.token_count", "fd0", text_col="text")
    )
    r = run_pipeline(spark, p)
    doc = r.df("prj")
    doc_cols = doc.columns
    null_of = {c: doc.schema[c].dataType for c in doc_cols}
    doc = doc.select(
        F.lit("doc").alias("kind"), *doc_cols,
        F.lit(None).cast("string").alias("key"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("n_toks"),
    )
    fun_rows = _q44_funnel(
        spark, r.df("ftok").select("doc_id", "text", "source", "ws_tokens")
    )
    fun = _local_frame(
        spark, fun_rows, "kind string, key string, n_docs long, n_toks long"
    ).select(
        "kind",
        *[F.lit(None).cast(null_of[c]).alias(c) for c in doc_cols],
        "key", "n_docs", "n_toks",
    )
    return doc.unionByName(fun)


@query(
    "q45_fuzzy_lookup",
    oracle="""
    WITH probes AS (SELECT n_nationkey, substr(n_name, 1, length(n_name) - 2)
                      AS probe FROM nation),
         scored AS (
      SELECT p.n_nationkey, p.probe, n.n_name AS matched, n.n_nationkey AS matched_key,
             1.0 - CAST(levenshtein(lower(trim(p.probe)), lower(trim(n.n_name))) AS DOUBLE)
                 / GREATEST(length(lower(trim(p.probe))), length(lower(trim(n.n_name)))) AS _similarity
      FROM probes p, nation n)
    SELECT n_nationkey, probe, matched, matched_key, _similarity FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY n_nationkey, probe
                                   ORDER BY _similarity DESC, matched) AS rn
      FROM scored WHERE _similarity >= 0.5) WHERE rn = 1
    """,
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q45", sf_dir, "nation")
        .step("probes", "derived_column", "nation", columns={
            "probe": "SUBSTRING([n_name], 1, LEN([n_name]) - 2)"
        })
        .step("probes2", "select", "probes", columns=["n_nationkey", "probe"])
        .step("fz", "fuzzy_lookup", ["probes2", "nation"],
              left_on="probe", right_on="n_name", min_similarity=0.5,
              max_matches=1, method="levenshtein",
              copy={"matched": "n_name", "matched_key": "n_nationkey"})
    )
    return run_pipeline(spark, p).df("fz")


@query(
    "q46_merge_sorted",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey AS k, 'A' AS src FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT o_orderkey, 'B' FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, 'C' FROM orders WHERE o_orderstatus = 'P')
    ORDER BY k
    """,
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge (sorted union) — with each input arriving through a file
    format round-trip: branch A via the Flat-File/CSV destination+source
    (declared DDL schema, no inferSchema double-scan), branch B via the
    Spark-4-native XML destination+source, branch C via a REAL JDBC
    round-trip (sink.jdbc into Apache Derby embedded — the RDBMS+driver
    pyspark bundles for its metastore — then a bounds-PARTITIONED
    source.jdbc read back) feeding the native ORC columnar
    writer+reader. All four transport paths are oracle-load-bearing: a
    mis-parsed row, type, or a partition-range bug dropping/duplicating
    rows would hash-mismatch. The JDBC bounds are deliberately loose
    (Spark's range partitioning clamps, never filters — rows outside
    the bounds land in the edge partitions), so the leg is exact at any
    sf."""
    scratch = _scratch("q46_files")
    derby_url = f"jdbc:derby:{scratch}/derbydb;create=true"
    p = (
        _p("q46", sf_dir, "orders")
        .step("a0", "filter", "orders", predicate='[o_orderstatus] == "O"')
        .step("a", "select", "a0", columns={"k": "o_orderkey"})
        .step("al", "derived_column", "a", columns={"src": '"A"'})
        .step("csv_out", "sink.csv", "al", path=f"{scratch}/a_csv",
              mode="overwrite")
        .step("al_rt", "source.csv", "csv_out", path=f"{scratch}/a_csv",
              schema="k bigint, src string")
        .step("b0", "filter", "orders", predicate='[o_orderstatus] == "F"')
        .step("b", "select", "b0", columns={"k": "o_orderkey"})
        .step("bl", "derived_column", "b", columns={"src": '"B"'})
        .step("xml_out", "sink.xml", "bl", path=f"{scratch}/b_xml",
              mode="overwrite")
        .step("bl_rt", "source.xml", "xml_out", path=f"{scratch}/b_xml",
              schema="k bigint, src string")
        .step("c0", "filter", "orders", predicate='[o_orderstatus] == "P"')
        .step("c", "select", "c0", columns={"k": "o_orderkey"})
        .step("cl", "derived_column", "c", columns={"src": '"C"'})
        .step("jdbc_out", "sink.jdbc", "cl", url=derby_url,
              table="q46_c", mode="overwrite")
        # the input edge on a source step is the ordering dependency
        # (write-before-read), not a data edge — NOTES invariant 12
        .step("jdbc_rt", "source.jdbc", "jdbc_out", url=derby_url,
              table="q46_c", partition_column="k", lower_bound=0,
              upper_bound=6_000_000, num_partitions=4)
        .step("orc_out", "sink.orc", "jdbc_rt", path=f"{scratch}/c_orc",
              mode="overwrite")
        .step("cl_rt", "source.orc", "orc_out", path=f"{scratch}/c_orc")
        .step("m", "merge_sorted", ["al_rt", "bl_rt", "cl_rt"], keys=["k"])
    )
    return run_pipeline(spark, p).df("m")


@query(
    "q47_multicast_rowcounts",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O') AS n_open,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice > 100000) AS n_big,
           (SELECT COUNT(*) FROM orders) AS n_total
    """,
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multicast fan-out + Row Count into context variables (the
    Simple-package shape: source -> rowcount -> branches)."""
    p = (
        _p("q47", sf_dir, "orders")
        .step("rc_total", "row_count", "orders", into="n_total", eager=True)
        .step("mc", "multicast", "rc_total", outputs=2)
        .step("open", "filter", "mc.out1", predicate='[o_orderstatus] == "O"')
        .step("rc_open", "row_count", "open", into="n_open", eager=True)
        .step("big", "filter", "mc.out2", predicate="[o_totalprice] > 100000")
        .step("rc_big", "row_count", "big", into="n_big", eager=True)
    )
    ctx = run_pipeline(spark, p).context
    return _local_frame(
        spark,
        [(ctx["n_open"], ctx["n_big"], ctx["n_total"])],
        "n_open bigint, n_big bigint, n_total bigint",
    )


@query(
    "q48_variables_binding",
    # Merged q48+q66: package variables bound as plan-time literals AND
    # the variable-driven high-watermark incremental load, in one
    # pipeline (the SSIS "WHERE col > @[User::watermark]" pattern).
    # Round 5 adds the 'dtsx' leg: the reference's ACTUAL
    # Sample_Medium_Package.dtsx parsed and EXECUTED on TPC-H-derived
    # views; the oracle re-derives the package's FAITHFUL semantics
    # (its sentinel-before-flags quirk makes the INSERT/DELETE ports
    # structurally empty, so every non-default non-matching row routes
    # to UPDATE and the set-based stored-proc rewrite coalesces NULL
    # params to target values).
    oracle="""
    SELECT 'wm' AS leg, o_orderkey, o_totalprice, o_orderdate,
           250000.0 AS threshold_used, CAST(NULL AS VARCHAR) AS seg
    FROM orders
    WHERE o_orderdate > TIMESTAMP '1997-06-01 00:00:00'
      AND o_totalprice > 250000.0 AND o_orderstatus = 'F'
    UNION ALL
    SELECT 'dtsx' AS leg,
           CAST(catid AS BIGINT) AS o_orderkey,
           CAST(cs AS DOUBLE) AS o_totalprice,
           CAST(NULL AS TIMESTAMP) AS o_orderdate,
           CAST(dflag AS DOUBLE) AS threshold_used,
           CAST(cid AS VARCHAR) || '|' || CAST(lcid AS VARCHAR) AS seg
    FROM (
      WITH dtsx_enriched AS (
        -- feed -> 3 lookup joins; the lookup tables are deterministic
        -- TPC-H derivations, so the enrichment collapses to arithmetic
        SELECT CAST(c_nationkey + 1 AS INT) AS cid,
               CAST(c_custkey + 100000 AS INT) AS catid,
               CAST(length(c_mktsegment) AS INT) AS lcid,
               CAST(c_nationkey + 1 + c_custkey + 100000
                    + length(c_mktsegment) AS INT) AS cs_new
        FROM customer WHERE c_custkey % 5 <> 4),
      dtsx_target AS (
        SELECT CAST(c_nationkey + 1 AS INT) AS cid,
               CAST(c_custkey + 100000 AS INT) AS catid,
               CAST(length(c_mktsegment) AS INT) AS lcid,
               CAST(c_nationkey + 1 + c_custkey + 100000
                    + length(c_mktsegment)
                    + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END
                 AS INT) AS cs,
               CAST(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END
                 AS INT) AS dflag
        FROM customer WHERE c_custkey % 7 <> 3
        UNION ALL SELECT * FROM (VALUES
          (-1, -10, 0, 0, 0), (-2, -20, 0, 0, 0)))
      SELECT t.cid, t.catid,
             CASE WHEN t.cid IN (-1, -2) OR f.cs_new = t.cs THEN t.lcid
                  ELSE COALESCE(f.lcid, t.lcid) END AS lcid,
             CASE WHEN t.cid IN (-1, -2) OR f.cs_new = t.cs THEN t.cs
                  ELSE COALESCE(f.cs_new, -1) END AS cs,
             CASE WHEN t.cid IN (-1, -2) OR f.cs_new = t.cs THEN t.dflag
                  WHEN f.cs_new IS NOT NULL THEN 0
                  ELSE t.dflag END AS dflag
      FROM dtsx_target t LEFT JOIN dtsx_enriched f
        ON t.cid = f.cid AND t.catid = f.catid)
    """,
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSIS package variables (@[User::X]) bound as plan-time literals,
    run as a full CONTROL-FLOW package (TaskGraph), not a bare pipeline —
    so precedence constraints, containers, and disabled-task skip are all
    ORACLE-LOAD-BEARING (reference parsing/data_engineering_parser.py:
    1255-1299 constraint parse; fixture guard Sample_Medium_Package.dtsx:
    905):

    - `count_src`: Execute-SQL-Task-with-result-binding analogue — binds
      SourceRowCount into package variables;
    - `pick_wm` foreach container: iterates watermark candidates and
      keeps the max via an Expression Task (skipping the container would
      leave the 1990 sentinel -> more rows -> hash mismatch);
    - `set_threshold` FOR LOOP container (For Loop at reference
      data_engineering_parser.py:336-361): Init sets PriceThreshold to
      15625, Eval re-runs while < 250000, Assign doubles — exactly 4
      iterations land on 250000.0, which both filters the rows and is
      emitted as `threshold_used`, so a skipped container, an off-by-one
      iteration, or a mis-ordered Assign all corrupt the hash (and the
      doubling means a sabotage-zeroed threshold can never silently
      re-reach 250000 — it would spin to max_iterations and FAIL);
    - edge count_src -> pick_wm guarded by `@[User::SourceRowCount] > 0`
      (a false/unevaluated guard skips the container -> mismatch);
    - `on_fail` (failure edge) and `sabotage` (DTS:Disabled) would BOTH
      corrupt the variables if (mis)run — correct skip semantics are the
      only way this query hashes green.
    """
    from ssis_to_pyspark_agent_spark.plans.control import (
        Foreach, ForLoop, TaskGraph, run_task_graph,
    )

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders_q48"
    )

    def bind_rowcount(spark_, ctx):
        # Execute SQL Task + ResultBinding: single-row result -> variable
        ctx["SourceRowCount"] = spark_.sql(
            "SELECT COUNT(*) AS n FROM orders_q48"
        ).first().n

    # foreach body: Expression Task keeping the running max (ISO strings
    # compare lexicographically, same as timestamps)
    body = TaskGraph("pick_wm_body").task(
        "keep_max", "expression",
        ("watermark",
         '@[User::wm_candidate] > @[User::watermark] '
         '? @[User::wm_candidate] : @[User::watermark]'),
    )
    load = Pipeline("load")
    load.step("orders", "source.table", table="orders_q48")
    load.step("inc", "incremental_load", "orders",
              watermark_col="o_orderdate", var="watermark", eager=False)
    load.step("flt", "filter", "inc",
              predicate="[o_totalprice] > @[User::PriceThreshold] && "
                        "[o_orderstatus] == @[User::Status]")
    load.step("drv", "derived_column", "flt",
              columns={"threshold_used": "@[User::PriceThreshold]"})
    load.step("prj", "select", "drv",
              columns=["o_orderkey", "o_totalprice", "o_orderdate",
                       "threshold_used"])

    g = TaskGraph("q48", variables={
        "Status": "F", "watermark": "1990-01-01 00:00:00",
        "SourceRowCount": 0, "LoopIters": 0,
    })
    g.task("count_src", "python", bind_rowcount)
    g.task("pick_wm", "foreach", Foreach(
        var="wm_candidate",
        items=["1995-03-15 00:00:00", "1997-06-01 00:00:00",
               "1996-01-01 00:00:00"],
        body=body,
    ))
    # For Loop: doubles PriceThreshold 15625 -> 250000 in exactly 4
    # iterations; the body's Expression Task counts them
    g.task("set_threshold", "forloop", ForLoop(
        init=("PriceThreshold", "15625.0"),
        eval_expr="@[User::PriceThreshold] < 250000",
        assign=("PriceThreshold", "@[User::PriceThreshold] * 2"),
        body=TaskGraph("tick").task(
            "bump", "expression", ("LoopIters", "@[User::LoopIters] + 1")
        ),
        max_iterations=64,
    ))
    # would-corrupt tasks: only correct skip semantics keep the hash green
    g.task("on_fail", "expression", ("Status", '"O"'))
    g.task("sabotage", "expression", ("PriceThreshold", "0.0"),
           enabled=False)
    g.task("load", "pipeline", load)
    g.edge("count_src", "pick_wm", on="success",
           condition="@[User::SourceRowCount] > 0")
    g.edge("count_src", "on_fail", on="failure")
    g.edge("pick_wm", "set_threshold", on="success")
    g.edge("set_threshold", "sabotage", on="success")
    g.edge("set_threshold", "load", on="success")
    results, _ctx = run_task_graph(spark, g)
    assert results["on_fail"].status == "skipped"
    assert "sabotage" not in results  # disabled: never scheduled
    assert _ctx["LoopIters"] == 4 and _ctx["PriceThreshold"] == 250000.0
    wm = results["load"].run.df("prj").select(
        F.lit("wm").alias("leg"),
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        "threshold_used",
        F.lit(None).cast("string").alias("seg"),
    )
    return wm.unionByName(_dtsx_medium_leg(spark, sf_dir))


@query(
    "q49_scalar_function_library",
    # Merged q02+q49+q68: the full scalar expression surface — derived-
    # column expressions, string/math functions, and the complete
    # DATEADD/DATEDIFF/DATEPART sweep — as one wide projection over one
    # row set (orders, o_orderkey % 7 = 0). DATEDIFF is boundary-crossing
    # (T-SQL semantics) = DuckDB date_diff; Spark dayofweek (Sunday=1)
    # differs from DuckDB (Sunday=0) so the oracle compensates.
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice > 200000 AS INT)                        AS big_flag,
           CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE 'OTHER' END AS status_label,
           UPPER(SUBSTR(o_orderpriority, 1, 3))                      AS prio3,
           CAST(TRUNC(o_totalprice) AS INT)                          AS price_int,
           YEAR(o_orderdate)                                         AS order_year,
           o_orderpriority || '/' || o_orderstatus                   AS prio_status,
           LENGTH(TRIM(o_orderpriority))                             AS prio_len,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING')           AS status_np,
           o_orderdate + INTERVAL 2 MONTH                      AS plus2m,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS days_to_2025,
           quarter(o_orderdate)                                AS qtr,
           substr(o_orderpriority, 1, 1)                       AS left1,
           substr(o_orderpriority, length(o_orderpriority) - 2, 3) AS right3,
           replace(o_orderpriority, '-', '_')                  AS underscored,
           POSITION('-' IN o_orderpriority)                    AS dash_pos,
           reverse(o_orderstatus)                              AS rev_status,
           abs(o_totalprice - 200000)                          AS abs_diff,
           CAST(ceil(o_totalprice / 1000) AS BIGINT)           AS price_k_ceil,
           CAST(floor(o_totalprice / 1000) AS BIGINT)          AS price_k_floor,
           sqrt(o_totalprice)                                  AS price_sqrt,
           CAST(sign(o_totalprice - 200000) AS DOUBLE)         AS price_sign,
           o_orderdate + INTERVAL 12 MONTH   AS add_y,
           o_orderdate + INTERVAL 9 MONTH    AS add_q,
           o_orderdate + INTERVAL 14 DAY     AS add_w,
           o_orderdate + INTERVAL 5 HOUR     AS add_hh,
           o_orderdate + INTERVAL 90 MINUTE  AS add_mi,
           o_orderdate + INTERVAL 3601 SECOND AS add_ss,
           date_diff('year',    CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS diff_y,
           date_diff('quarter', CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS diff_q,
           date_diff('month',   CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS diff_m,
           date_diff('week',    CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS diff_w,
           CAST(date_diff('hour',   CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS BIGINT) AS diff_hh,
           CAST(date_diff('minute', CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS BIGINT) AS diff_mi,
           CAST(date_diff('second', CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '2025-03-15 12:30:45') AS BIGINT) AS diff_ss,
           dayofyear(o_orderdate)      AS dp_doy,
           weekofyear(o_orderdate)     AS dp_wk,
           dayofweek(o_orderdate) + 1  AS dp_dw
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = '(DT_DBTIMESTAMP)"2025-03-15 12:30:45"'
    p = (
        _p("q49", sf_dir, "orders")
        .step("flt", "filter", "orders", predicate="[o_orderkey] % 7 == 0")
        .step("drv", "derived_column", "flt", columns={
            "big_flag": "[o_totalprice] > 200000 ? 1 : 0",
            "status_label": '[o_orderstatus] == "O" ? "OPEN" : "OTHER"',
            "prio3": "UPPER(SUBSTRING([o_orderpriority], 1, 3))",
            "price_int": "(DT_I4)[o_totalprice]",
            "order_year": "YEAR([o_orderdate])",
            "prio_status": '[o_orderpriority] + "/" + [o_orderstatus]',
            "prio_len": "LEN(TRIM([o_orderpriority]))",
            "status_np": '[o_orderstatus] == "P" ? "PENDING" : [o_orderstatus]',
            "plus2m": 'DATEADD("month", 2, [o_orderdate])',
            "days_to_2025": 'DATEDIFF("day", [o_orderdate], (DT_DBTIMESTAMP)"2025-01-01")',
            "qtr": 'DATEPART("quarter", [o_orderdate])',
            "left1": "LEFT([o_orderpriority], 1)",
            "right3": "RIGHT([o_orderpriority], 3)",
            "underscored": 'REPLACE([o_orderpriority], "-", "_")',
            "dash_pos": 'FINDSTRING([o_orderpriority], "-")',
            "rev_status": "REVERSE([o_orderstatus])",
            "abs_diff": "ABS([o_totalprice] - 200000)",
            "price_k_ceil": "CEILING([o_totalprice] / 1000)",
            "price_k_floor": "FLOOR([o_totalprice] / 1000)",
            "price_sqrt": "SQRT([o_totalprice])",
            "price_sign": "SIGN([o_totalprice] - 200000)",
            "add_y": 'DATEADD("year", 1, [o_orderdate])',
            "add_q": 'DATEADD("quarter", 3, [o_orderdate])',
            "add_w": 'DATEADD("week", 2, [o_orderdate])',
            "add_hh": 'DATEADD("hour", 5, [o_orderdate])',
            "add_mi": 'DATEADD("minute", 90, [o_orderdate])',
            "add_ss": 'DATEADD("second", 3601, [o_orderdate])',
            "diff_y": f'DATEDIFF("year", [o_orderdate], {ts})',
            "diff_q": f'DATEDIFF("quarter", [o_orderdate], {ts})',
            "diff_m": f'DATEDIFF("month", [o_orderdate], {ts})',
            "diff_w": f'DATEDIFF("week", [o_orderdate], {ts})',
            "diff_hh": f'DATEDIFF("hour", [o_orderdate], {ts})',
            "diff_mi": f'DATEDIFF("minute", [o_orderdate], {ts})',
            "diff_ss": f'DATEDIFF("second", [o_orderdate], {ts})',
            "dp_doy": 'DATEPART("dayofyear", [o_orderdate])',
            "dp_wk": 'DATEPART("week", [o_orderdate])',
            "dp_dw": 'DATEPART("weekday", [o_orderdate])',
        })
        .step("prj", "select", "drv", columns=[
            "o_orderkey", "big_flag", "status_label", "prio3", "price_int",
            "order_year", "prio_status", "prio_len", "status_np",
            "plus2m", "days_to_2025", "qtr", "left1", "right3",
            "underscored", "dash_pos", "rev_status", "abs_diff",
            "price_k_ceil", "price_k_floor", "price_sqrt", "price_sign",
            "add_y", "add_q", "add_w", "add_hh", "add_mi", "add_ss",
            "diff_y", "diff_q", "diff_m", "diff_w", "diff_hh", "diff_mi",
            "diff_ss", "dp_doy", "dp_wk", "dp_dw",
        ])
    )
    return run_pipeline(spark, p).df("prj")


# ===========================================================================
# Flagship: the Medium-package change-detection flow end-to-end
# (Sample_Medium_Package.dtsx:119-605 re-expressed on TPC-H customer —
# SURVEY §5 fixture A2-A6 semantics: feed vs existing, additive checksum,
# full null-safe merge join, ISNULL flags, 5-way exclusive conditional
# split with EvaluationOrder, set-based UPDATE/DELETE replacing the
# per-row stored procs sp_GenericUpdate / sp_GenericHardDelete.)
# ===========================================================================

_Q50_ORACLE = """
    WITH feed0 AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 50 ELSE c_acctbal END AS acct
      FROM customer WHERE c_custkey % 5 != 4),
    feed AS (
      SELECT *, CAST(k + length(seg) + trunc(acct) AS BIGINT) AS cs FROM feed0),
    exist0 AS (
      SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS acct
      FROM customer WHERE c_custkey % 7 != 3
      UNION ALL SELECT * FROM (VALUES (-1, 'N/A', 0.0), (-2, 'N/A', 0.0))),
    exist AS (
      SELECT *, CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END AS deleted_flag,
             CAST(k + length(seg) + trunc(acct) AS BIGINT) AS cs
      FROM exist0),
    routed AS (
      SELECT COALESCE(e.k, f.k) AS k,
             e.seg AS seg_old, e.acct AS acct_old, e.deleted_flag,
             e.cs AS cs_old, f.seg AS seg_new, f.acct AS acct_new, f.cs AS cs_new,
             CASE
               WHEN f.cs IS NOT NULL AND e.cs IS NULL THEN 'insert'
               WHEN e.cs IS NOT NULL AND COALESCE(e.k, f.k) IN (-1, -2) THEN 'nochange'
               WHEN e.cs IS NOT NULL AND f.cs IS NULL AND e.deleted_flag = 1 THEN 'nochange'
               WHEN e.cs IS NOT NULL AND f.cs IS NULL AND e.deleted_flag = 0 THEN 'delete'
               WHEN f.cs IS NOT NULL AND e.cs IS NOT NULL AND f.cs != e.cs THEN 'update'
               ELSE 'nochange' END AS route
      FROM exist e FULL OUTER JOIN feed f ON e.k = f.k)
    SELECT k AS c_custkey, seg_new AS c_mktsegment, acct_new AS c_acctbal,
           deleted_flag
    FROM routed WHERE route = 'update'
    UNION ALL
    SELECT k, seg_new, acct_new, 0 FROM routed WHERE route = 'insert'
    UNION ALL
    SELECT k, seg_old, acct_old, deleted_flag FROM routed WHERE route = 'nochange'
"""


@query("q50_medium_package_flow", oracle=_Q50_ORACLE)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Medium-package CDC flow, with every routed output leaving
    through a REAL destination and being re-read — so the file/table/
    recordset/trash sinks are oracle-load-bearing, not unit-test-only:

    - `already_deleted` terminates in the Trash Destination (row count
      recorded into a variable, SSIS RowCount-on-trash idiom);
    - the upsert batch round-trips a Recordset Destination (temp view);
    - the post-delete target snapshot round-trips the parquet
      destination (a lost/retyped row there = hash mismatch);
    - the final frame lands in the OLE DB Destination analogue (managed
      table, overwrite) and the RETURNED DataFrame is read back from it.

    Source steps take their sink as an input edge purely for ordering
    (source ops ignore input frames — a control dependency, the pipeline
    analogue of an SSIS completion constraint).

    The PARSED Sample_Medium_Package.dtsx itself runs as q48's 'dtsx'
    leg (bench keeps q50 measuring the CDC dataflow; the parsed graph's
    cost is fixed eager-row-count job overhead, not data)."""
    import os
    import shutil
    from urllib.parse import urlparse

    scratch = _scratch("q50_sink")
    # a fresh session's in-memory catalog forgets the table but its
    # warehouse directory persists — clear both or the overwrite-save
    # fails with LOCATION_ALREADY_EXISTS on the next process's run
    spark.sql("DROP TABLE IF EXISTS q50_final")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "q50_final"), ignore_errors=True)
    sentinels = _local_frame(
        spark,
        [(-1, "N/A", 0.0), (-2, "N/A", 0.0)],
        "c_custkey bigint, c_mktsegment string, c_acctbal double",
    )
    cs_cols = ["c_custkey", "_seg_len", "_acct_trunc"]
    p = (
        _p("q50", sf_dir, "customer")
        # ---- feed side (the package's SRC_InputTable + derived columns)
        .step("feed0", "filter", "customer", predicate="[c_custkey] % 5 != 4")
        .step("feed1", "derived_column", "feed0", columns={
            "c_acctbal": "[c_custkey] % 3 == 0 ? [c_acctbal] + 50 : [c_acctbal]",
        })
        .step("feed2", "select", "feed1",
              columns=["c_custkey", "c_mktsegment", "c_acctbal"])
        .step("feed3", "derived_column", "feed2", columns={
            "_seg_len": "LEN([c_mktsegment])", "_acct_trunc": "(DT_I8)[c_acctbal]",
        })
        .step("feed4", "checksum", "feed3", columns=cs_cols,
              algorithm="sum", out="cs_new")
        .step("feed", "select", "feed4",
              columns={"key_new": "c_custkey", "seg_new": "c_mktsegment",
                       "acct_new": "c_acctbal", "cs_new": "cs_new"})
        # ---- existing side (DST_GenericTable with default rows)
        .step("ex0", "filter", "customer", predicate="[c_custkey] % 7 != 3")
        .step("ex1", "select", "ex0",
              columns=["c_custkey", "c_mktsegment", "c_acctbal"])
        .step("sentinels", "source.dataframe", df=sentinels)
        .step("ex2", "union_all", ["ex1", "sentinels"])
        .step("ex3", "derived_column", "ex2", columns={
            "deleted_flag": "[c_custkey] % 11 == 0 ? 1 : 0",
            "_seg_len": "LEN([c_mktsegment])", "_acct_trunc": "(DT_I8)[c_acctbal]",
        })
        .step("ex4", "checksum", "ex3", columns=cs_cols,
              algorithm="sum", out="cs_old")
        .step("existing", "select", "ex4",
              columns={"key_old": "c_custkey", "seg_old": "c_mktsegment",
                       "acct_old": "c_acctbal", "deleted_flag": "deleted_flag",
                       "cs_old": "cs_old"})
        # ---- MRGJ: full outer, TreatNullsAsEqual (dtsx:399)
        .step("mrgj", "join", ["existing", "feed"], how="full",
              keys=[("key_old", "key_new")], null_safe=True)
        .step("flags", "derived_column", "mrgj", columns={
            "k": "REPLACENULL([key_old], [key_new])",
        })
        # ---- CSPL: ordered, mutually exclusive (dtsx:569-602)
        .step("split", "conditional_split", "flags", outputs={
            "insert": "!ISNULL([cs_new]) && ISNULL([cs_old])",
            "default_rows": "!ISNULL([cs_old]) && ([k] == -1 || [k] == -2)",
            "already_deleted":
                "!ISNULL([cs_old]) && ISNULL([cs_new]) && [deleted_flag] == 1",
            "delete": "!ISNULL([cs_old]) && ISNULL([cs_new]) && [deleted_flag] == 0",
            "update": "!ISNULL([cs_new]) && !ISNULL([cs_old]) && [cs_new] != [cs_old]",
        }, default="nochange", persist=True)
        # ---- set-based replacements for the per-row stored procs
        .step("target", "select", "existing",
              columns={"c_custkey": "key_old", "c_mktsegment": "seg_old",
                       "c_acctbal": "acct_old", "deleted_flag": "deleted_flag"})
        .step("dels", "select", "split.delete", columns={"c_custkey": "k"})
        .step("after_delete", "merge_delete", ["target", "dels"],
              keys=["c_custkey"])
        .step("upserts_upd", "select", "split.update",
              columns={"c_custkey": "k", "c_mktsegment": "seg_new",
                       "c_acctbal": "acct_new", "deleted_flag": "deleted_flag"})
        .step("ins0", "select", "split.insert",
              columns={"c_custkey": "k", "c_mktsegment": "seg_new",
                       "c_acctbal": "acct_new"})
        .step("upserts_ins", "derived_column", "ins0",
              columns={"deleted_flag": F.lit(0)})
        .step("upserts", "union_all", ["upserts_upd", "upserts_ins"])
        # ---- destinations (all load-bearing: the output flows through)
        .step("trash", "sink.trash", "split.already_deleted",
              count_into="n_already_deleted")
        .step("rs", "sink.view", "upserts", view="q50_upserts_rs")
        .step("upserts_rt", "source.table", "rs", table="q50_upserts_rs")
        # rebalance: advisory-sized output files (r11, guide §6) — the
        # 32-way shuffle tail was writing 32 ~2KB files per sink here
        .step("snap", "sink.parquet", "after_delete",
              path=f"{scratch}/after_delete", mode="overwrite",
              rebalance=True)
        .step("after_delete_rt", "source.parquet", "snap",
              path=f"{scratch}/after_delete")
        .step("final", "merge_upsert", ["after_delete_rt", "upserts_rt"],
              keys=["c_custkey"])
        .step("tbl", "sink.table", "final", table="q50_final",
              mode="overwrite", rebalance=True)
        .step("out", "source.table", "tbl", table="q50_final")
    )
    res = run_pipeline(spark, p)
    assert res.context["n_already_deleted"] >= 0
    df = res.df("out")
    # the split's route cache served the in-run sinks; 'out' re-reads the
    # managed table, so nothing downstream needs the cache — release it
    # instead of leaking one persisted frame per invocation
    res.release_caches()
    return df.withColumn("deleted_flag", F.col("deleted_flag").cast("int"))


def _dtsx_medium_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the reference's Sample_Medium_Package.dtsx and RUN the
    resulting TaskGraph against TPC-H-derived views; return the target
    table's post-update state (the CMD_SP stored-proc rewrite output)
    shaped for q48's tagged union. This makes the dtsx front end
    oracle-load-bearing end to end — parse -> TaskGraph -> run ->
    values — matching the reference's core promise
    (ssis_to_pyspark_app.py:90-197: dtsx in, executed semantics out);
    before round 5 only unit tests ran the parsed graph.

    The package's tables map onto deterministic TPC-H derivations so
    the oracle can re-derive every value:
      SRC_InputTable        -> customers (x5 filter) + nation join
      LKP_CategoryTable     -> CategoryID = c_custkey + 100000
      LKP_LocalCategoryTable-> LocalCategoryID = length(c_mktsegment)
      LKP_CountryTable      -> CountryID = n_nationkey + 1
      DST_GenericTable      -> managed table from customers (x7 filter)
                               with planted checksum mismatches (%3)
                               and deleted flags (%11), plus the two
                               -1/-2 default rows the package expects.
    The EXEC-only control task is overridden (sp_GenericGetWorkHistoryID
    has no Spark equivalent; the variable default stands in), exactly
    the declared-not-guessed contract parse_package documents."""
    from ssis_to_pyspark_agent_spark.parsing import parse_package
    from ssis_to_pyspark_agent_spark.plans.control import run_task_graph

    import os
    import shutil
    from urllib.parse import urlparse

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    cust.filter("c_custkey % 5 != 4").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).selectExpr(
        "c_custkey AS CategoryCode",
        "n_name AS CountryCode",
        "c_mktsegment AS Status",
    ).createOrReplaceTempView("q48x_feed")
    cust.selectExpr(
        "c_custkey AS CategoryCode",
        "c_custkey + 100000 AS CategoryID",
    ).createOrReplaceTempView("q48x_cat")
    cust.selectExpr(
        "c_mktsegment AS CategoryDescription",
        "length(c_mktsegment) AS LocalCategoryID",
    ).distinct().createOrReplaceTempView("q48x_localcat")
    nation.selectExpr(
        "n_nationkey + 1 AS CountryID", "n_name AS CountryCode"
    ).createOrReplaceTempView("q48x_country")

    # the package's destination is a mutable physical table (the OLE DB
    # Destination appends to it; the stored-proc rewrite probes it) —
    # a managed table, rebuilt per invocation (NOTES invariant 11)
    spark.sql("DROP TABLE IF EXISTS q48x_target")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "q48x_target"), ignore_errors=True)
    target = cust.filter("c_custkey % 7 != 3").selectExpr(
        "CAST(c_nationkey + 1 AS INT) AS CountryID",
        "CAST(c_custkey + 100000 AS INT) AS CategoryID",
        "CAST(length(c_mktsegment) AS INT) AS LocalCategoryID",
        "CAST(c_nationkey + 1 + c_custkey + 100000 + length(c_mktsegment)"
        " + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS INT)"
        " AS ETLCheckSum",
        "CAST(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END AS INT)"
        " AS DeletedFlag",
    ).unionByName(
        _local_frame(
            spark,
            [(-1, -10, 0, 0, 0), (-2, -20, 0, 0, 0)],
            "CountryID int, CategoryID int, LocalCategoryID int, "
            "ETLCheckSum int, DeletedFlag int",
        )
    )
    target.write.saveAsTable("q48x_target")

    pkg = parse_package(
        "/root/reference/input-sample packages/Sample_Medium_Package.dtsx",
        table_map={
            "src_inputtable": "q48x_feed",
            "lkp_categorytable": "q48x_cat",
            "lkp_localcategorytable": "q48x_localcat",
            "lkp_countrytable": "q48x_country",
            "dst_generictable": "q48x_target",
        },
        sql_overrides={"SQL_Set_TaskWorkHistoryID": "SELECT 1 AS ok"},
        command_targets={
            "CMD_SP": {
                "table": "q48x_target",
                "keys": ["CountryID", "CategoryID"],
                "column_map": {"CheckSum_New": "ETLCheckSum",
                               "WorkHistoryID": None,
                               "TemplateFlag": None},
            },
            "CMD_Delete": {
                "table": "q48x_target",
                "keys": ["CountryID", "CategoryID"],
                "column_map": {"WorkHistoryID": None},
            },
        },
    )
    results, ctx = run_task_graph(spark, pkg.task_graph)
    bad = {k: (v.status, v.error) for k, v in results.items()
           if v.status != "success"}
    assert not bad, f"dtsx graph tasks failed: {bad}"
    assert ctx["SourceRowCount"] > 0  # the guard constraint actually fired

    updated = results["DFT_Load"].run.df("CMD_SP")
    # the parsed split's route cache served the graph's eager row counts;
    # the returned frame recomputes the (tiny) update branch on collect —
    # release the cache rather than leak one per invocation. NOTE: the
    # release must go through the dataflow's OWN RunResult: the control
    # runner strips underscore keys when merging task contexts, so the
    # outer ctx never sees '_op_persists'
    results["DFT_Load"].run.release_caches()
    return updated.select(
        F.lit("dtsx").alias("leg"),
        F.col("CategoryID").cast("bigint").alias("o_orderkey"),
        F.col("ETLCheckSum").cast("double").alias("o_totalprice"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        F.col("DeletedFlag").cast("double").alias("threshold_used"),
        F.concat_ws(
            "|",
            F.col("CountryID").cast("string"),
            F.col("LocalCategoryID").cast("string"),
        ).alias("seg"),
    )


# ===========================================================================
# Coverage fill-ins: distinct aggregates, row-level misc, term lookup
# ===========================================================================


@query(
    "q51_agg_distinct_stringagg",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT o_orderpriority) AS n_prios,
           CAST(CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_distinct_price,
           MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|')
             AS priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _p("q51", sf_dir, "orders").step(
        "agg", "aggregate", "orders", keys=["o_orderstatus"], aggs={
            "n_custs": ("count_distinct", "o_custkey"),
            "n_prios": ("count_distinct", "o_orderpriority"),
            "sum_distinct_price": F.sum_distinct(
                F.col("o_totalprice").cast("decimal(18,4)")
            ).cast("string").cast("double"),
            "first_order": ("min", "o_orderdate"),
            "last_order": ("max", "o_orderdate"),
            # sorted distinct concat: order-insensitive under parallelism
            "priorities": F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), "|"
            ),
        },
    )
    return run_pipeline(spark, p).df("agg")


@query(
    "q52_rowlevel_misc",
    oracle="""
    SELECT c_custkey, c_name,
           c_name AS name_copy,
           UPPER(c_mktsegment) AS seg_upper,
           REVERSE(c_name) AS name_rev,
           'etl_v1' AS run_tag,
           c_acctbal
    FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 25
    """,
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy Column + Character Map + Audit(context) + ordered Limit —
    and the result leaves through a REAL .xlsx (stdlib writer, Excel
    destination) and is read back by the Excel SOURCE with a declared
    schema, so both Excel endpoints are oracle-load-bearing (bigint/
    double/string survive the untyped-cell round-trip value-exactly)."""
    xlsx_path = _scratch("q52_xlsx") + "/report.xlsx"
    p = Pipeline("q52", variables={"RunTag": "etl_v1"})
    p.step("customer", "source.parquet", path=f"{sf_dir}/customer.parquet")
    p.step("cp", "copy_column", "customer", copies={"name_copy": "c_name"})
    p.step("cm", "character_map", "cp",
           maps={"c_mktsegment": "upper", "c_name": "reverse"},
           out={"c_mktsegment": "seg_upper", "c_name": "name_rev"})
    p.step("au", "audit", "cm", columns={"run_tag": "context:RunTag"})
    p.step("lim", "limit", "au", keys=[("c_acctbal", "desc"), ("c_custkey", "asc")],
           n=25)
    p.step("prj", "select", "lim",
           columns=["c_custkey", "c_name", "name_copy", "seg_upper",
                    "name_rev", "run_tag", "c_acctbal"])
    p.step("xls", "sink.excel", "prj", path=xlsx_path)
    p.step("rt", "source.excel", "xls", path=xlsx_path,
           schema="c_custkey bigint, c_name string, name_copy string, "
                  "seg_upper string, name_rev string, run_tag string, "
                  "c_acctbal double")
    return run_pipeline(spark, p).df("rt")


@query(
    "q53_term_text_stats",
    # Merged q53+q63+novelty+lm: Term Lookup (dictionary occurrence counts
    # via explode + broadcast equi-join), exact TF-IDF,
    # text.ngram_novelty (corpus-self-trained bigram typicality), and
    # text.lm_score (fixed-point CCNet-style bigram-LM cross-entropy —
    # the quantized-probability + literal log-table design keeps the
    # whole score integer-exact across engines; the log table itself is
    # re-derived here as a VALUES join table from the SAME Python
    # constant the Spark plan embeds) as one tagged union over
    # (doc_id, term) rows; novelty/lm rows carry per-doc stats in the
    # cnt/df/tfidf slots (n_ngrams/rare/mean_freq and
    # lm_ngrams/lm_bits_fp/lm_bpt respectively).
    oracle=f"""
    WITH terms(term) AS (VALUES ('data'), ('query'), ('stream'), ('vector')),
    docs AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS words
             FROM documents),
    lookup AS (
      SELECT d.doc_id, t.term,
             len(list_filter(d.words, w -> w = t.term)) AS cnt
      FROM docs d, terms t
      WHERE len(list_filter(d.words, w -> w = t.term)) > 0),
    words AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words
           WHERE term != '' GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term
              HAVING COUNT(*) >= 5),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    nwords AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
               FROM documents),
    ng AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                  i -> array_to_string(w[i:i+1], ' '))) AS g
           FROM nwords),
    gc AS (SELECT g, COUNT(*) AS c FROM ng GROUP BY g),
    nov AS (SELECT ng.doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_ngrams,
            CAST(SUM(CASE WHEN gc.c < 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS rare,
            CAST(SUM(gc.c) AS DOUBLE) / COUNT(*) AS mean_freq
            FROM ng JOIN gc USING (g) GROUP BY ng.doc_id),
    lmg0 AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                    i -> struct_pack(ctx := w[i], nxt := w[i+1]))) AS g
             FROM nwords),
    lmg AS (SELECT doc_id, g.ctx AS ctx, g.nxt AS nxt FROM lmg0),
    lmc AS (SELECT ctx, nxt, COUNT(*) AS c FROM lmg GROUP BY ctx, nxt),
    lmctx AS (SELECT ctx, SUM(c) AS cc FROM lmc GROUP BY ctx),
    lmv AS (SELECT COUNT(DISTINCT tok) AS v FROM
            (SELECT unnest(w) AS tok FROM nwords) WHERE tok <> ''),
    lmtab(q, bits) AS (VALUES {_lm_tab_sql()}),
    lmq AS (SELECT g.doc_id,
            least(2048, greatest(1,
              CAST(((c.c + 1) * 2048) // (x.cc + lmv.v) AS INT))) AS q
            FROM lmg g JOIN lmc c USING (ctx, nxt)
                 JOIN lmctx x USING (ctx), lmv),
    lms AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t.bits) AS BIGINT) AS bits
            FROM lmq JOIN lmtab t USING (q) GROUP BY doc_id)
    SELECT 'lookup' AS kind, doc_id, term, cnt,
           CAST(NULL AS BIGINT) AS df, CAST(NULL AS DOUBLE) AS tfidf
    FROM lookup
    UNION ALL
    SELECT 'tfidf', tf.doc_id, tf.term, tf.tf, dfreq.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1), 6)
    FROM tf JOIN dfreq USING (term), n
    WHERE tf.doc_id % 10 = 0
    UNION ALL
    SELECT 'novelty', doc_id, CAST(NULL AS VARCHAR), n_ngrams, rare,
           mean_freq
    FROM nov
    UNION ALL
    SELECT 'lm', doc_id, CAST(NULL AS VARCHAR), n, bits,
           bits / (1024.0 * n)
    FROM lms
    """,
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = _local_frame(
        spark, [("data",), ("query",), ("stream",), ("vector",)], "term string"
    )
    p = (
        _p("q53", sf_dir, "documents")
        .step("terms", "source.dataframe", df=terms)
        .step("tl", "term_lookup", ["documents", "terms"],
              text_col="text", term_col="term")
        .step("ti", "text.tfidf", "documents", id_col="doc_id",
              text_col="text", min_df=5)
        .step("tif", "filter", "ti", predicate="[doc_id] % 10 == 0")
        .step("nv", "text.ngram_novelty", "documents", id_col="doc_id",
              text_col="text", n=2, min_count=2)
        .step("lm", "text.lm_score", "documents", id_col="doc_id",
              text_col="text", n=2)
    )
    r = run_pipeline(spark, p)
    lk = r.df("tl").select(
        F.lit("lookup").alias("kind"), "doc_id", "term",
        F.col("term_count").cast("bigint").alias("cnt"),
        F.lit(None).cast("bigint").alias("df"),
        F.lit(None).cast("double").alias("tfidf"),
    )
    ti = r.df("tif").select(
        F.lit("tfidf").alias("kind"), "doc_id", "term",
        F.col("tf").cast("bigint").alias("cnt"), F.col("df").cast("bigint"),
        F.col("tfidf").cast("double"),
    )
    nv = r.df("nv").filter(F.col("n_ngrams") > 0).select(
        F.lit("novelty").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.col("n_ngrams").cast("bigint").alias("cnt"),
        F.col("rare_ngrams").cast("bigint").alias("df"),
        F.col("mean_ngram_freq").cast("double").alias("tfidf"),
    )
    lm = r.df("lm").filter(F.col("lm_ngrams") > 0).select(
        F.lit("lm").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.col("lm_ngrams").cast("bigint").alias("cnt"),
        F.col("lm_bits_fp").cast("bigint").alias("df"),
        F.col("lm_bpt").cast("double").alias("tfidf"),
    )
    return lk.unionByName(ti).unionByName(nv).unionByName(lm)


@query(
    "q57_bigjoin_revenue",
    # Merged q57+q59: the big-big shuffle join now reads BOTH fact tables
    # through source.sql (OLE DB Source query mode, AccessMode=2) over the
    # registered views — filters stay in the SQL text and still reach the
    # parquet scans as pushed predicates.
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY o.o_orderpriority
    """,
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big shuffle join (TPC-H Q3/Q4 shape): both sides filtered at the
    scan via query-mode sources, one shuffle on the join key, partial-agg
    after. The plan AQE should pick: SMJ or shuffled-hash with both
    filters pushed down."""
    from ssis_to_pyspark_agent_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    p = (
        Pipeline("q57")
        .step("of", "source.sql",
              query="SELECT o_orderkey, o_orderpriority FROM orders "
                    "WHERE o_orderdate >= timestamp'1995-01-01 00:00:00'")
        .step("lf", "source.sql",
              query="SELECT l_orderkey, l_extendedprice, l_discount "
                    "FROM lineitem "
                    "WHERE l_shipdate >= timestamp'1995-01-01 00:00:00'")
        .step("j", "join", ["of", "lf"], how="inner",
              keys=[("o_orderkey", "l_orderkey")],
              select_left=["o_orderpriority"],
              select_right=["l_extendedprice", "l_discount"])
        .step("agg", "aggregate", "j", keys=["o_orderpriority"], aggs={
            "n_lines": ("count", "*"),
            "revenue": F.sum(rev).cast("string").cast("double"),
        })
    )
    return run_pipeline(spark, p).df("agg")


@query(
    "q58_approx_distinct",
    # Sketch values are engine-specific, so the oracle checks exact anchors
    # plus bounded-error flags: the HLL estimate must sit within 10% of the
    # exact distinct (measured 2.5-2.7% at sf0.001-0.1, rsd default 0.05)
    # and percentile_approx within 2%/1% of the exact percentile (measured
    # <=0.05%). Deterministic: both sketches are order-insensitive.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_parts_ok, TRUE AS p50_ok, TRUE AS p95_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB substitutes for exact distincts
    and exact percentiles (single-pass sketches, no expand shuffle)."""
    p = _p("q58", sf_dir, "lineitem").step(
        "agg", "aggregate", "lineitem", keys=["l_returnflag"], aggs={
            "exact_parts": ("count_distinct", "l_partkey"),
            "approx_parts": ("approx_count_distinct", "l_partkey"),
            "p50_qty": ("percentile", "l_quantity", 0.5),
            "p50_qty_approx": ("percentile_approx", "l_quantity", 0.5),
            "p95_price": ("percentile", "l_extendedprice", 0.95),
            "p95_price_approx": ("percentile_approx", "l_extendedprice", 0.95),
        },
    )
    df = run_pipeline(spark, p).df("agg")
    rel = lambda a, b: F.abs(F.col(a) - F.col(b)) / F.abs(F.col(b))  # noqa: E731
    return df.select(
        "l_returnflag",
        "exact_parts",
        (rel("approx_parts", "exact_parts") <= 0.10).alias("approx_parts_ok"),
        (rel("p50_qty_approx", "p50_qty") <= 0.02).alias("p50_ok"),
        (rel("p95_price_approx", "p95_price") <= 0.01).alias("p95_ok"),
    )


@query(
    "q60_asof_join",
    oracle="""
    WITH purchases AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
         clicks AS (SELECT event_id AS click_id, value AS click_value,
                           user_id, ts
                    FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, c.click_id AS last_click_id,
           c.click_value AS last_click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (one shuffle, union+window carry — no native Spark ASOF):
    for every purchase, the user's most recent click at-or-before it.
    Oracle = DuckDB's native ASOF JOIN."""
    p = (
        Pipeline("q60")
        .step("events", "source.parquet", path=f"{sf_dir}/events.parquet",
              nanos_ts_cols=["ts"])
        .step("purch", "filter", "events", predicate='[event_type] == "purchase"')
        .step("purch2", "select", "purch",
              columns=["event_id", "user_id", "ts"])
        .step("clicks", "filter", "events", predicate='[event_type] == "click"')
        .step("aj", "asof_join", ["purch2", "clicks"], keys=["user_id"],
              left_ts="ts", right_ts="ts",
              copy={"last_click_id": "event_id", "last_click_value": "value"})
        .step("prj", "select", "aj",
              columns=["event_id", "user_id", "last_click_id",
                       "last_click_value"])
    )
    return run_pipeline(spark, p).df("prj")


@query(
    "q61_range_join",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
      ('budget', 0.0, 20000.0), ('mid', 20000.0, 60000.0),
      ('high', 60000.0, 90000.0), ('lux', 90000.0, 1000000.0))
    SELECT l.l_orderkey, l.l_linenumber, b.band
    FROM lineitem l JOIN bands b
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    WHERE l.l_orderkey % 25 = 0
    """,
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via bucketed candidate generation — equi join
    on (bucket) + residual bound filter instead of a cross join."""
    bands = _local_frame(
        spark,
        [("budget", 0.0, 20000.0), ("mid", 20000.0, 60000.0),
         ("high", 60000.0, 90000.0), ("lux", 90000.0, 1000000.0)],
        "band string, lo double, hi double",
    )
    p = (
        _p("q61", sf_dir, "lineitem")
        .step("flt", "filter", "lineitem", predicate="[l_orderkey] % 25 == 0")
        .step("bands", "source.dataframe", df=bands)
        .step("rj", "range_join", ["flt", "bands"], value="l_extendedprice",
              lo="lo", hi="hi", bucket_width=10000.0,
              select_left=["l_orderkey", "l_linenumber"],
              select_right=["band"])
    )
    return run_pipeline(spark, p).df("rj")


@query(
    "q65_quality_gate",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_acctbal > 0 AND c_name IS NOT NULL
      AND length(c_mktsegment) >= 4
    """,
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: rows passing every rule (redirect mode's good
    port)."""
    p = (
        _p("q65", sf_dir, "customer")
        .step("qc", "quality_check", "customer", rules={
            "acct_positive": "[c_acctbal] > 0",
            "name_present": "!ISNULL([c_name])",
            "segment_len": "LEN([c_mktsegment]) >= 4",
        })
        .step("prj", "select", "qc.out",
              columns=["c_custkey", "c_name", "c_acctbal"])
    )
    return run_pipeline(spark, p).df("prj")


def _q67_feat_sql(round_hex: str, j: int) -> str:
    """One little-endian int32 of an md5 hex string -> float32-rounded,
    1e6-quantized bigint (mirrors the pseudo-embedding exactly)."""
    b = (f"CAST(concat('0x', substr({round_hex}, {j*8+7}, 2), "
         f"substr({round_hex}, {j*8+5}, 2), substr({round_hex}, {j*8+3}, 2), "
         f"substr({round_hex}, {j*8+1}, 2)) AS BIGINT)")
    signed = f"(CASE WHEN {b} >= 2147483648 THEN {b} - 4294967296 ELSE {b} END)"
    return (f"CAST(round(CAST(CAST({signed} / 2147483648.0 AS FLOAT4) "
            f"AS DOUBLE) * 1000000) AS BIGINT)")


@query(
    "q67_multimodal_plumbing",
    # The decode stub and pseudo-embedding are deterministic functions of
    # md5 over the payload bytes (= utf-8 text), and the feature chain
    # hashes HEX STRINGS — both fully re-derivable in SQL, so even the
    # stubbed multimodal path is hash-checked end to end. Floats exit as
    # 1e6-quantized ints through an explicit FLOAT4 round (the engine's
    # array<float> storage), making the comparison representation-stable.
    oracle=f"""
    WITH h AS (
      SELECT doc_id, md5(text) AS h0 FROM documents),
    r AS (SELECT doc_id, md5(h0) AS h1, md5(md5(h0)) AS h2,
                 CAST(concat('0x', substr(h0, 1, 2)) AS INT) AS b0,
                 CAST(concat('0x', substr(h0, 3, 2)) AS INT) AS b1
          FROM h)
    SELECT doc_id,
           64 + b0 % 192 AS decoded_width,
           64 + b1 % 192 AS decoded_height,
           TRUE AS decode_ok,
           {", ".join(f'{_q67_feat_sql("h1", j)} AS f{j}' for j in range(4))},
           {", ".join(f'{_q67_feat_sql("h2", j)} AS f{j + 4}' for j in range(4))}
    FROM r
    """,
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing through the gate: text bytes as opaque
    payloads -> magic-byte metadata -> Arrow-batched decode ->
    deterministic pseudo-embedding. Proves schema/partitioning/UDF
    signatures on real driver data. decoder='stub' by intent: the payloads
    here are synthetic (utf-8 text, not real containers), and the md5 fake
    is what a SQL oracle can re-derive — the REAL header decoder
    (PNG/JPEG/GIF/WAV via stdlib struct, decoder='headers') is unit-tested
    on real files in tests/test_operators.py::TestMultimodal."""
    blob_dir = _scratch("q67_blobs")
    p = (
        _p("q67", sf_dir, "documents")
        .step("bin0", "derived_column", "documents",
              columns={"payload": F.encode(F.col("text"), "utf-8")})
        .step("bin1", "select", "bin0", columns=["doc_id", "payload"])
        # Export/Import Column round-trip for a deterministic subset:
        # payloads leave as per-row blob FILES and come back as bytes —
        # one corrupted byte anywhere changes the md5-derived decode and
        # feature chain, so the file round-trip is oracle-load-bearing
        .step("rsplit", "conditional_split", "bin1",
              outputs={"rt": "[doc_id] % 50 == 0"}, default="keep")
        .step("pth", "derived_column", "rsplit.rt", columns={
            "blob_path": F.concat(F.col("doc_id").cast("string"),
                                  F.lit(".bin")),
        })
        .step("exp", "export_column", "pth", data_col="payload",
              path_col="blob_path", base_dir=blob_dir)
        .step("imp", "import_column", "exp", path_col="blob_path",
              out="payload_rt", base_dir=blob_dir)
        .step("swap", "select", "imp",
              columns={"doc_id": "doc_id", "payload": "payload_rt"})
        .step("bin", "union_all", ["swap", "rsplit.keep"])
        .step("meta", "media.attach_meta", "bin", binary_col="payload")
        .step("dec", "media.decode", "meta", binary_col="payload",
              decoder="stub")
        .step("feat", "media.features", "dec", binary_col="payload", dim=8)
        .step("prj", "select", "feat",
              columns=["doc_id", "decoded_width", "decoded_height",
                       "decode_ok", "features"])
    )
    df = run_pipeline(spark, p).df("prj")
    # flatten to scalars: the driver's hash compare is safest on scalar
    # columns (array renderings differ between pandas paths)
    return df.select(
        "doc_id", "decoded_width", "decoded_height", "decode_ok",
        *[
            F.round(F.col("features")[i].cast("double") * 1000000)
            .cast("bigint")
            .alias(f"f{i}")
            for i in range(8)
        ],
    )


@query(
    "q71_stats_percentiles",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sy,
             -- one side DECIMAL(24,4): DuckDB multiplies in the operands'
             -- common storage type, and two int64 decimals overflow int64
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(24,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4)) * CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(24,4)) * CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sxy,
             quantile_cont(l_quantity, 0.25) AS p25_qty,
             quantile_cont(l_quantity, 0.50) AS p50_qty,
             quantile_cont(l_quantity, 0.75) AS p75_qty,
             median(l_quantity) AS med_qty,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           (sxx - (sx * sx) / n) / (n - 1) AS var_qty,
           sqrt((sxx - (sx * sx) / n) / (n - 1)) AS stddev_qty,
           (sxy - (sx * sy) / n) / (n - 1) AS covar_qty_price,
           (n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
           p25_qty, p50_qty, p75_qty, med_qty, min_qty, max_qty
    FROM s
    """,
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance / stddev / covariance / correlation)
    computed from EXACT decimal power sums, then identical double
    arithmetic in both engines — bit-exact where the built-in stddev/corr
    would differ by summation order. This is also the scale-correct shape:
    one map-side-combinable pass over the data (sums), O(1) post-math.
    """
    # DECIMAL(12,4) for the squared terms: wide enough for the values
    # (~1e5 with 4 decimals), narrow enough that DuckDB's decimal multiply
    # stays on the int128 path (18+18 digits overflows its int64 multiply).
    dq = F.col("l_quantity").cast("decimal(12,4)")
    de = F.col("l_extendedprice").cast("decimal(12,4)")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    p = (
        _p("q71", sf_dir, "lineitem")
        .step("s", "aggregate", "lineitem", keys=["l_returnflag"], aggs={
            "n": ("count", "*"),
            "sx": _dsum("l_quantity"),
            "sy": _dsum("l_extendedprice"),
            "sxx": F.sum(dq * dq).cast("string").cast("double"),
            "syy": F.sum(de * de).cast("string").cast("double"),
            "sxy": F.sum(dq * de).cast("string").cast("double"),
            "p25_qty": F.percentile("l_quantity", 0.25),
            "p50_qty": F.percentile("l_quantity", 0.50),
            "p75_qty": F.percentile("l_quantity", 0.75),
            "med_qty": ("median", "l_quantity"),
            "min_qty": ("min", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
        })
        .step("drv", "derived_column", "s", columns={
            "var_qty": (sxx - (sx * sx) / n) / (n - 1),
            "stddev_qty": F.sqrt((sxx - (sx * sx) / n) / (n - 1)),
            "covar_qty_price": (sxy - (sx * sy) / n) / (n - 1),
            "corr_qty_price": (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
        })
        .step("prj", "select", "drv", columns=[
            "l_returnflag", "n", "var_qty", "stddev_qty",
            "covar_qty_price", "corr_qty_price",
            "p25_qty", "p50_qty", "p75_qty", "med_qty", "min_qty", "max_qty",
        ])
    )
    return run_pipeline(spark, p).df("prj")


@query(
    "q73_shipping_priority",
    oracle="""
    SELECT l_orderkey, o_orderdate,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective dim filter ->
    big-big join -> grouped revenue -> ordered top-N. The customer side
    collapses to a key list Catalyst/AQE broadcasts; the ordered LIMIT is
    TakeOrderedAndProject (per-partition heap + driver merge — no global
    sort shuffle). Ties broken by l_orderkey; revenue is decimal-exact."""
    rev = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    ).cast("string").cast("double")
    p = (
        _p("q73", sf_dir, "customer", "orders", "lineitem")
        .step("cust", "filter", "customer",
              predicate='[c_mktsegment] == "BUILDING"')
        .step("ord", "filter", "orders",
              predicate='[o_orderdate] < (DT_DBTIMESTAMP)"1998-06-15"')
        .step("li", "filter", "lineitem",
              predicate='[l_shipdate] > (DT_DBTIMESTAMP)"1998-06-15"')
        .step("co", "join", ["ord", "cust"], keys=[("o_custkey", "c_custkey")],
              broadcast="right")
        .step("col", "join", ["li", "co"], keys=[("l_orderkey", "o_orderkey")])
        .step("agg", "aggregate", "col", keys=["l_orderkey", "o_orderdate"],
              aggs={"revenue": rev})
        .step("top", "limit", "agg", n=10,
              keys=[("revenue", "desc"), ("l_orderkey", "asc")])
    )
    return run_pipeline(spark, p).df("top")


@query(
    "q74_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned items): fact-fact join + two broadcast
    dims, grouped revenue, ordered top-20 with key tiebreak."""
    rev = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    ).cast("string").cast("double")
    p = (
        _p("q74", sf_dir, "customer", "orders", "lineitem", "nation")
        .step("ord", "filter", "orders",
              predicate='[o_orderdate] >= (DT_DBTIMESTAMP)"1997-01-01" && '
                        '[o_orderdate] < (DT_DBTIMESTAMP)"1997-07-01"')
        .step("li", "filter", "lineitem", predicate='[l_returnflag] == "R"')
        .step("lo", "join", ["li", "ord"], keys=[("l_orderkey", "o_orderkey")])
        .step("loc", "join", ["lo", "customer"],
              keys=[("o_custkey", "c_custkey")], broadcast="right")
        .step("locn", "join", ["loc", "nation"],
              keys=[("c_nationkey", "n_nationkey")], broadcast="right")
        .step("agg", "aggregate", "locn",
              keys=["c_custkey", "c_name", "n_name"],
              aggs={"revenue": rev, "n_items": ("count", "*")})
        .step("top", "limit", "agg", n=20,
              keys=[("revenue", "desc"), ("c_custkey", "asc")])
    )
    return run_pipeline(spark, p).df("top")


_Q76_COL = """
    SELECT '{c}' AS "column", '{dt}' AS dtype,
           COUNT(*) AS n_rows, COUNT({c}) AS n_nonnull,
           COUNT(DISTINCT {c}) AS n_distinct,
           {min_num} AS min_num, {max_num} AS max_num, {mean} AS mean,
           {min_str} AS min_str, {max_str} AS max_str
    FROM lineitem"""


def _q76_oracle() -> str:
    num = ("CAST(MIN({c}) AS DOUBLE)", "CAST(MAX({c}) AS DOUBLE)",
           "CAST(CAST(SUM(CAST({c} AS DECIMAL(25,4))) AS VARCHAR) AS DOUBLE)"
           " / COUNT({c})",
           "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
    other = ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
             "CAST(NULL AS DOUBLE)",
             "CAST(MIN({c}) AS VARCHAR)", "CAST(MAX({c}) AS VARCHAR)")
    cols = [("l_orderkey", "bigint", num), ("l_linenumber", "int", num),
            ("l_quantity", "double", num), ("l_extendedprice", "double", num),
            ("l_returnflag", "string", other), ("l_shipdate", "timestamp_ntz", other)]
    parts = []
    for c, dt, (mn, mx, mean, smn, smx) in cols:
        parts.append(_Q76_COL.format(
            c=c, dt=dt, min_num=mn.format(c=c), max_num=mx.format(c=c),
            mean=mean.format(c=c), min_str=smn.format(c=c),
            max_str=smx.format(c=c)))
    return " UNION ALL ".join(parts)


@query("q76_profile", oracle=_q76_oracle())
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (training-data pipeline staple): a single
    groupBy().agg() computes count/nulls/distinct/min/max/mean for every
    profiled column — one scan + one 1-row shuffle regardless of column
    count. exact_distinct=True here for oracle-ability; the default is the
    approx_count_distinct HLL sketch (the 100 TB shape)."""
    p = _p("q76", sf_dir, "lineitem").step(
        "prof", "profile", "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_returnflag", "l_shipdate"],
        exact_distinct=True,
    )
    return run_pipeline(spark, p).df("prof")


@query(
    "q77_small_qty_revenue",
    oracle="""
    WITH th AS (
      SELECT l_partkey,
             0.2 * (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
                    / COUNT(l_quantity)) AS qty_threshold
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem, part, th
    WHERE p_partkey = lineitem.l_partkey AND th.l_partkey = p_partkey
      AND p_brand = 'Brand#23' AND l_quantity < qty_threshold
    """,
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated average-quantity subquery, decorrelated
    into a per-key aggregate + join (the plan Catalyst's subquery
    decorrelation would produce; the pipeline spells it out because the
    operator DSL has no scalar subqueries). The brand filter semi-joins
    the per-key aggregate input first: thresholds are computed over every
    lineitem row of a partkey, but only for partkeys that survive the
    (broadcast) brand filter — at 100 TB the aggregate's shuffle shrinks
    by the brand selectivity (~1/25) instead of covering the full fact
    table. The threshold itself is exact (decimal sum / count), so the
    `quantity < 0.2*avg` cut is engine-exact."""
    th = F.lit(0.2) * (
        F.sum(_dec("l_quantity")).cast("string").cast("double")
        / F.count("l_quantity")
    )
    rev = F.sum(_dec("l_extendedprice")).cast("string").cast("double") / F.lit(7.0)
    p = (
        _p("q77", sf_dir, "lineitem", "part")
        .step("brand", "filter", "part", predicate='[p_brand] == "Brand#23"')
        .step("li_brand", "join", ["lineitem", "brand"],
              keys=[("l_partkey", "p_partkey")], how="left_semi")
        .step("th", "aggregate", "li_brand", keys=["l_partkey"],
              aggs={"qty_threshold": th})
        .step("li_th", "join", ["li_brand", "th"], keys=["l_partkey"],
              select_left=["l_quantity", "l_extendedprice"],
              select_right=["qty_threshold"])
        .step("small", "filter", "li_th",
              predicate="l_quantity < qty_threshold", sql=True)
        .step("agg", "aggregate", "small", keys=[],
              aggs={"avg_yearly": rev, "n_small": ("count", "*")})
    )
    return run_pipeline(spark, p).df("agg")


@query(
    "q78_stream_stream_join",
    oracle="""
    SELECT v.user_id, v.event_id AS v_id, b.event_id AS b_id,
           date_diff('second', v.ts, b.ts) AS lag_s
    FROM events v, events b
    WHERE v.event_type = 'view' AND b.event_type = 'purchase'
      AND v.user_id = b.user_id
      AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 10 MINUTE
    """,
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actual stream-stream join run (two file-source streams, watermarked
    equality+time-range join, append sink) vs the batch SQL oracle — the
    inner join's output is exactly the batch join, while the watermark +
    range bound is what lets Spark evict buffered state (append-mode
    stream-stream joins REQUIRE the range condition for that reason).
    The raw ts columns stay internal (nanos-vs-micros rendering);
    outputs are ids + the integer second lag."""
    p = (
        Pipeline("q78")
        # max_files_per_trigger=64: a BOUNDED replay pays the fixed
        # state-store WAL/commit cost once per micro-batch, and the
        # file source cuts one batch per file at the default of 1 —
        # the r12 growth sweep flagged q78 at 3.6x time for 3x data
        # purely because the 3x rig's events table has 8 part files
        # (the fixture has 1; sf0.1 results/batching are unchanged).
        # Larger trigger batches are also the SAFE direction for
        # replay correctness: the watermark advances between batches,
        # so a many-batch replay of unsorted files can evict join
        # state mid-replay. A real low-latency deployment tunes this
        # down; a backfill/replay wants it high.
        .step("views0", "source.stream", path=f"{sf_dir}/events.parquet",
              max_files_per_trigger=64)
        .step("views1", "filter", "views0", predicate='[event_type] == "view"')
        .step("views", "select", "views1",
              columns={"user_id": "user_id", "v_ts": "ts", "v_id": "event_id"})
        .step("buys0", "source.stream", path=f"{sf_dir}/events.parquet",
              max_files_per_trigger=64)
        .step("buys1", "filter", "buys0",
              predicate='[event_type] == "purchase"')
        .step("buys", "select", "buys1",
              columns={"user_id": "user_id", "b_ts": "ts", "b_id": "event_id"})
        .step("j", "stream.join", ["views", "buys"], keys=["user_id"],
              left_ts="v_ts", right_ts="b_ts",
              watermark="5 minutes", time_bound="10 minutes")
        # the join keeps 4 state stores per state partition, each paying
        # a fixed WAL/commit cost per micro-batch; the sink derives the
        # width from the replay's listed bytes (one partition for the
        # fixtures) instead of inheriting the batch shuffle width
        .step("out", "sink.memory_stream", "j", table="q78_out")
    )
    res = run_pipeline(spark, p).df("out")
    return res.select(
        "user_id", "v_id", "b_id",
        (F.unix_timestamp("b_ts") - F.unix_timestamp("v_ts"))
        .cast("bigint").alias("lag_s"),
    )



# ---------------------------------------------------------------------------
# Embedding clustering (§2.12 — cluster.kmeans)
# ---------------------------------------------------------------------------

_Q80_HASH = "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"


def _q80_ctes(k: int, n_iter: int, quantize: int, dims: int):
    """The CTE chain replaying cluster.kmeans in SQL: quantize, md5-seed,
    then n_iter (assign via exact integer squared-L2 argmin with ties to
    the lowest cluster, update via exact integer floor-division —
    DuckDB's // TRUNCATES on negatives, so the non-negative-remainder
    idiom (s - ((s%n + n) % n)) // n re-derives Python's floor) and one
    final assignment. Built programmatically because the iteration chain
    is mechanical; every op is integer-exact so the chain is bit-stable.
    Returns (ctes, final_assign_name, final_centroid_name) so q82's
    prune oracle can extend the same chain."""
    ctes = [
        f"""vq AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * {quantize}) AS BIGINT)) AS q
            FROM embeddings)""",
        f"""seeds AS (SELECT q, ROW_NUMBER() OVER (ORDER BY {_Q80_HASH},
                   vec_id) - 1 AS cluster
          FROM vq ORDER BY {_Q80_HASH}, vec_id LIMIT {k})""",
        f"""c0 AS (SELECT cluster, d.d AS dim, q[d.d + 1] AS val
          FROM seeds, range({dims}) d(d))""",
    ]
    prev = "c0"
    for i in range(1, n_iter + 2):
        final = i == n_iter + 1
        ctes.append(
            f"""d{i} AS (SELECT v.vec_id, c.cluster,
              SUM((v.q[c.dim + 1] - c.val) * (v.q[c.dim + 1] - c.val)) AS dist
          FROM vq v, {prev} c GROUP BY v.vec_id, c.cluster)"""
        )
        ctes.append(
            f"""a{i} AS (SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY dist, cluster) AS rk
            FROM d{i}) WHERE rk = 1)"""
        )
        if final:
            break
        ctes.append(
            f"""u{i} AS (SELECT a{i}.cluster, d.d AS dim,
              SUM(v.q[d.d + 1]) AS s, COUNT(*) AS n
          FROM a{i} JOIN vq v USING (vec_id), range({dims}) d(d)
          GROUP BY a{i}.cluster, d.d)""",
        )
        ctes.append(
            f"""c{i} AS (SELECT p.cluster, p.dim,
              COALESCE((u.s - ((u.s % u.n + u.n) % u.n)) // u.n, p.val) AS val
          FROM {prev} p LEFT JOIN u{i} u
            ON p.cluster = u.cluster AND p.dim = u.dim)"""
        )
        prev = f"c{i}"
    return ctes, f"a{n_iter + 1}", prev


def _q80_full_oracle(k: int, n_iter: int, quantize: int, dims: int,
                     frac: float) -> str:
    """The q80 oracle: kmeans iterative CTE replay (assign + centroid
    legs) EXTENDED with the cluster.prune rank replay as a third
    ('prune') leg — round-6 consolidation folded the former q82 into
    q80's slot (prune replays the same kmeans CTE chain, so one chained
    query covers both operators inside the driver's 50-query window).
    frac rides CAST(.. AS DOUBLE): a bare literal would be DuckDB
    DECIMAL, whose exact floor(0.3 * 10) = 3 diverges from the
    operator's double floor(2.999..) = 2 for non-dyadic fractions."""
    ctes, last_a, last_c = _q80_ctes(k, n_iter, quantize, dims)
    ctes.append(
        f"""pd0 AS (SELECT v.vec_id, a.cluster,
              SUM((v.q[c.dim + 1] - c.val) * (v.q[c.dim + 1] - c.val))
                AS dist
          FROM vq v JOIN {last_a} a USING (vec_id)
          JOIN {last_c} c ON a.cluster = c.cluster
          GROUP BY v.vec_id, a.cluster)"""
    )
    ctes.append(
        "pn AS (SELECT cluster, COUNT(*) AS n FROM pd0 GROUP BY cluster)"
    )
    ctes.append(
        """pr AS (SELECT vec_id, cluster, dist, ROW_NUMBER() OVER (
              PARTITION BY cluster ORDER BY dist, vec_id) AS rn
          FROM pd0)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT 'assign' AS mode, vec_id AS a, CAST(cluster AS BIGINT) AS b,
           CAST(0 AS BIGINT) AS v
    FROM {last_a}
    UNION ALL
    SELECT 'centroid', CAST(cluster AS BIGINT), CAST(dim AS BIGINT),
           CAST(val AS BIGINT)
    FROM {last_c}
    UNION ALL
    SELECT 'prune', pr.vec_id, CAST(pr.cluster AS BIGINT),
           CAST(pr.dist AS BIGINT)
    FROM pr JOIN pn USING (cluster)
    WHERE pr.rn > CAST(floor(CAST({frac!r} AS DOUBLE)
                             * CAST(pn.n AS DOUBLE)) AS BIGINT)"""
    )


@query(
    "q80_embedding_kmeans",
    # Distributed Lloyd's over the 64-dim embedding corpus: md5-ordered
    # seeding, 2 full assign/update iterations, final labeling — checked
    # row-for-row (every assignment AND every centroid coordinate)
    # against the oracle's iterative CTE replay. Engine-exact because
    # the operator does everything in quantized integers. The 'prune'
    # leg (merged former q82) composes cluster.prune (Sorscher et al.
    # 2022) on the SAME kmeans ports: drop the 50% of each cluster
    # closest to its centroid (keep='hard'); kept ids AND their exact
    # integer distances hash-checked against the rank replay.
    oracle=_q80_full_oracle(k=4, n_iter=2, quantize=10000, dims=64,
                            frac=0.5),
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _p("q80", sf_dir, "embeddings")
        .step("km", "cluster.kmeans", "embeddings", id_col="vec_id",
              vec_col="embedding", k=4, n_iter=2, quantize=10000)
        .step("pr", "cluster.prune", ["km.out", "km.centroids"],
              id_col="vec_id", vec_col="embedding", prune_frac=0.5,
              keep="hard", quantize=10000)
    )
    r = run_pipeline(spark, p)
    assign = r.df("km.out").select(
        F.lit("assign").alias("mode"),
        F.col("vec_id").alias("a"),
        F.col("cluster").cast("long").alias("b"),
        F.lit(0).cast("long").alias("v"),
    )
    cents = r.df("km.centroids").select(
        F.lit("centroid").alias("mode"),
        F.col("cluster").cast("long").alias("a"),
        F.col("dim").cast("long").alias("b"),
        F.col("val").alias("v"),
    )
    pruned = r.df("pr.out").select(
        F.lit("prune").alias("mode"),
        F.col("vec_id").alias("a"),
        F.col("cluster").cast("long").alias("b"),
        F.col("dist").alias("v"),
    )
    return assign.unionByName(cents).unionByName(pruned)

def _q82_oracle(k: int, n_iter: int, quantize: int, dims: int,
                frac: float) -> str:
    """Standalone prune-only replay (kept for the frac=0.3 DECIMAL-vs-
    DOUBLE unit test in tests/test_operators.py; the catalog query now
    runs the merged _q80_full_oracle): exact integer distance of every
    vector to ITS centroid, ROW_NUMBER over (dist, vec_id) per cluster,
    drop the floor(frac*n) most prototypical (keep='hard'). frac is
    emitted as CAST(.. AS DOUBLE) — a bare literal would be DuckDB
    DECIMAL, whose exact floor(0.3 * 10) = 3 diverges from the
    operator's double floor(2.999..) = 2 for non-dyadic fractions
    (review finding, round 5)."""
    ctes, last_a, last_c = _q80_ctes(k, n_iter, quantize, dims)
    ctes.append(
        f"""pd0 AS (SELECT v.vec_id, a.cluster,
              SUM((v.q[c.dim + 1] - c.val) * (v.q[c.dim + 1] - c.val))
                AS dist
          FROM vq v JOIN {last_a} a USING (vec_id)
          JOIN {last_c} c ON a.cluster = c.cluster
          GROUP BY v.vec_id, a.cluster)"""
    )
    ctes.append(
        "pn AS (SELECT cluster, COUNT(*) AS n FROM pd0 GROUP BY cluster)"
    )
    ctes.append(
        """pr AS (SELECT vec_id, cluster, dist, ROW_NUMBER() OVER (
              PARTITION BY cluster ORDER BY dist, vec_id) AS rn
          FROM pd0)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT pr.vec_id, CAST(pr.cluster AS BIGINT) AS cluster,
           CAST(pr.dist AS BIGINT) AS dist
    FROM pr JOIN pn USING (cluster)
    WHERE pr.rn > CAST(floor(CAST({frac!r} AS DOUBLE)
                             * CAST(pn.n AS DOUBLE)) AS BIGINT)"""
    )


