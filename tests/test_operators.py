"""Operator unit tests against tiny in-memory DataFrames (SURVEY §5):
exact expected rows, null-semantics cases (TreatNullsAsEqual, lookup
no-match, exclusive split ordering, dedup tie-breaks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import get_operator
from tests.conftest import assert_local_scan, rows


def run(op, spark, inputs, **config):
    ctx = config.pop("_context", {})
    return get_operator(op)(spark, inputs, config, ctx)


def qcos(x, y, quantize=10000):
    """Quantized cosine by its definition: coordinates scaled and
    HALF_UP-rounded (away from zero, Spark's round) to integers, exact
    integer dot and squared norms, then dot / (sqrt(na) * sqrt(nb));
    None for a zero vector. Without `quantize`, the float cosine."""
    import math

    def q(v):
        if not quantize:
            return list(v)
        return [math.copysign(math.floor(abs(e) * quantize + 0.5), e) for e in v]

    qx, qy = q(x), q(y)
    d = sum(a * b for a, b in zip(qx, qy))
    na, nb = sum(a * a for a in qx), sum(b * b for b in qy)
    if not na or not nb:
        return None
    return d / (math.sqrt(na) * math.sqrt(nb))


def _pack_reference(rows, cap):
    """text.pack's docs rows by definition: order by id, each doc's
    token offset is the running token count before it, and its chunk
    range is where [offset, offset + count) falls at `cap` tokens per
    chunk. Every count here is positive."""
    out, acc = [], 0
    for i, c in sorted(rows):
        out.append((i, acc, acc // cap, (acc + c - 1) // cap))
        acc += c
    return out


def _q(x, q: int):
    return F.round(x.cast("double") * q, 0).cast("long")


def _cosine(a, b, quantize: int):
    """Quantized cosine as a Catalyst expression — what a SQL oracle
    computes: elements scaled to integers first so dot/norm sums are
    EXACT (bit-identical in any engine). The reference the numpy
    kernels are checked against."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: _q(x, quantize) * _q(y, quantize)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(a, lambda x: _q(x, quantize) * _q(x, quantize)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(b, lambda x: _q(x, quantize) * _q(x, quantize)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def topk_reference(corpus, queries, k, quantize=10000):
    """{(query_id, rank): (corpus_id, cosine)} by `qcos`, ranked by
    cosine descending (null last), ties by ascending corpus id."""
    out = {}
    for qid, qv in queries.items():
        scored = sorted(
            ((cid, qcos(cv, qv, quantize)) for cid, cv in corpus.items()),
            key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]),
        )
        for rank, hit in enumerate(scored[:k], 1):
            out[(qid, rank)] = hit
    return out


class TestConditionalSplit:
    def test_first_match_wins_and_default(self, spark):
        df = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, 5)], "id int, v int"
        )
        out = run(
            "conditional_split", spark, [df],
            outputs={"big": "[v] >= 20", "even": "[id] % 2 == 0"},
        )
        assert rows(out["big"], "id") == [(2,), (3,)]
        assert rows(out["even"], "id") == [(4,)]  # id=2 taken by 'big' first
        assert rows(out["default"], "id") == [(1,)]

    def test_ports_partition_input(self, spark):
        df = spark.range(100).withColumn("v", F.col("id") * 3)
        out = run(
            "conditional_split", spark, [df],
            outputs={"a": "[v] % 2 == 0", "b": "[id] < 50"},
        )
        total = sum(out[p].count() for p in ("a", "b", "default"))
        assert total == 100


class TestLookup:
    @pytest.fixture()
    def sides(self, spark):
        left = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d")], "k int, x string"
        )
        ref = spark.createDataFrame(
            [(1, "one"), (2, "two"), (2, "two-dup"), (9, "nine")],
            "rk int, label string",
        )
        return left, ref

    def test_left_join_copy_columns(self, spark, sides):
        left, ref = sides
        out = run("lookup", spark, [left, ref], keys={"k": "rk"},
                  copy={"lbl": "label"})
        got = dict(rows(out, "k", "lbl"))
        assert got[1] == "one" and got[3] is None and got[4] is None
        assert got[2] == "two"  # one match per input row, deterministic-ish
        assert out.count() == 4  # no fan-out on duplicate ref keys

    def test_no_match_fail_is_inner(self, spark, sides):
        left, ref = sides
        out = run("lookup", spark, [left, ref], keys={"k": "rk"},
                  copy={"lbl": "label"}, no_match="fail")
        assert sorted(r.k for r in out.collect()) == [1, 2]

    def test_split_match_ports(self, spark, sides):
        left, ref = sides
        out = run("lookup", spark, [left, ref], keys={"k": "rk"},
                  copy={"lbl": "label"}, split_match=True)
        assert sorted(r.k for r in out["match"].collect()) == [1, 2]
        assert sorted(r.k for r in out["nomatch"].collect()) == [3, 4]
        assert "lbl" not in out["nomatch"].columns


class TestJoin:
    def test_null_safe_keys(self, spark):
        a = spark.createDataFrame([(1,), (None,)], "k int")
        b = spark.createDataFrame([(1,), (None,)], "k int")
        strict = run("join", spark, [a, b], how="inner", keys=["k"])
        safe = run("join", spark, [a, b], how="inner", keys=["k"],
                   null_safe=True)
        assert strict.count() == 1
        assert safe.count() == 2  # TreatNullsAsEqual

    def test_full_with_select_rename(self, spark):
        a = spark.createDataFrame([(1, "x")], "k int, va string")
        b = spark.createDataFrame([(2, "y")], "k int, vb string")
        out = run("join", spark, [a, b], how="full", keys=["k"],
                  select_left={"k_old": "k", "va": "va"},
                  select_right={"k_new": "k", "vb": "vb"})
        assert set(out.columns) == {"k_old", "va", "k_new", "vb"}
        assert out.count() == 2

    def test_semi_anti(self, spark):
        a = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        b = spark.createDataFrame([(2,), (3,), (4,)], "k int")
        assert run("join", spark, [a, b], how="left_semi", keys=["k"]).count() == 2
        assert run("join", spark, [a, b], how="left_anti", keys=["k"]).count() == 1


class TestSetOps:
    def test_union_by_name_with_missing(self, spark):
        a = spark.createDataFrame([(1, "x")], "id int, a string")
        b = spark.createDataFrame([(2,)], "id int")
        out = run("union_all", spark, [a, b])
        assert rows(out, "id", "a") == [(1, "x"), (2, None)]

    def test_intersect_except_all(self, spark):
        a = spark.createDataFrame([(1,), (1,), (2,)], "k int")
        b = spark.createDataFrame([(1,), (3,)], "k int")
        assert run("intersect", spark, [a, b], all=True).count() == 1
        assert run("except", spark, [a, b], all=True).count() == 2  # 1,2


class TestAggregateSortTopK:
    def test_rollup_has_grand_total(self, spark):
        df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "g string, v int")
        out = run("aggregate", spark, [df], keys=["g"], mode="rollup",
                  aggs={"s": ("sum", "v")})
        got = dict(rows(out, "g", "s"))
        assert got == {"a": 3, "b": 3, None: 6}

    def test_cube_emit_grouping_id(self, spark):
        # r11: one cube pass + grouping_id must reproduce the separate
        # rollup / grouping-sets row sets exactly (incl. a NULL data
        # value, which gid disambiguates from the aggregate marker) —
        # the q19 single-pass derivation depends on this
        df = spark.createDataFrame(
            [("a", "x", 1), ("a", None, 2), ("b", "x", 3)],
            "g string, h string, v int",
        )
        cube = run("aggregate", spark, [df], keys=["g", "h"], mode="cube",
                   aggs={"s": ("sum", "v")}, emit_grouping_id="_gid")
        got = rows(cube, "g", "h", "s", "_gid")
        # rollup rows = gid in {0 (g,h), 1 (g), 3 ()}
        derived_rollup = {(g, h, s) for g, h, s, gid in got if gid in (0, 1, 3)}
        direct_rollup = set(rows(
            run("aggregate", spark, [df], keys=["g", "h"], mode="rollup",
                aggs={"s": ("sum", "v")}), "g", "h", "s"))
        assert derived_rollup == direct_rollup
        # grouping-sets [(g,h), (h)] rows = gid in {0, 2}
        derived_gs = {(g, h, s) for g, h, s, gid in got if gid in (0, 2)}
        direct_gs = set(rows(
            run("aggregate", spark, [df], keys=["g", "h"],
                mode="grouping_sets", grouping_sets=[["g", "h"], ["h"]],
                aggs={"s": ("sum", "v")}), "g", "h", "s"))
        assert derived_gs == direct_gs
        import pytest as _pytest
        with _pytest.raises(ValueError, match="multi-set"):
            run("aggregate", spark, [df], keys=["g"], mode="groupby",
                aggs={"s": ("sum", "v")}, emit_grouping_id="_gid")

    def test_grouping_sets(self, spark):
        df = spark.createDataFrame(
            [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
            "g string, h string, v int",
        )
        out = run("aggregate", spark, [df], keys=["g", "h"],
                  mode="grouping_sets",
                  grouping_sets=[["g", "h"], ["g"], []],
                  aggs={"s": ("sum", "v")})
        got = set(rows(out, "g", "h", "s"))
        assert got == {("a", "x", 1), ("a", "y", 2), ("b", "x", 3),
                       ("a", None, 3), ("b", None, 3), (None, None, 6)}

    def test_profile_one_row_per_column(self, spark):
        df = spark.createDataFrame(
            [(1, "a", None), (2, "b", 5.0), (2, None, 7.5)],
            "k int, s string, v double",
        )
        out = run("profile", spark, [df], exact_distinct=True)
        got = {r["column"]: r for r in out.collect()}
        assert set(got) == {"k", "s", "v"}
        assert got["k"]["n_rows"] == 3 and got["k"]["n_distinct"] == 2
        assert got["k"]["min_num"] == 1.0 and got["k"]["max_num"] == 2.0
        assert got["s"]["n_nonnull"] == 2 and got["s"]["min_str"] == "a"
        assert got["v"]["mean"] == 6.25 and got["v"]["min_num"] == 5.0

    def test_sort_eliminate_duplicates(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "z")], "k int, v string"
        )
        out = run("sort", spark, [df], keys=["k"], eliminate_duplicates=True)
        assert out.count() == 2

    def test_top_k_ties_and_limit(self, spark):
        df = spark.createDataFrame(
            [("g", i % 5) for i in range(20)], "g string, v int"
        )
        out = run("top_k", spark, [df], partition_by=["g"],
                  order_by=[("v", "desc")], k=3)
        assert out.count() == 3


class TestRowCountObserve:
    def test_observe_rides_the_action(self, spark):
        df = spark.range(42)
        ctx = {}
        out = run("row_count", spark, [df], into="n", _context=ctx)
        out.count()  # any action
        obs = ctx["_observations"]["n"]
        assert obs.get["n"] == 42

    def test_eager(self, spark):
        ctx = {}
        run("row_count", spark, [spark.range(7)], into="n", eager=True,
            _context=ctx)
        assert ctx["n"] == 7


class TestMergeScd:
    def test_upsert_conditional(self, spark):
        target = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k int, v string, cs int"
        )
        updates = spark.createDataFrame(
            [(2, "B", 2), (3, "c", 1), (4, "d", 1)], "k int, v string, cs int"
        )
        out = run("merge_upsert", spark, [target, updates], keys=["k"],
                  when_matched="u.cs != t.cs")
        got = dict((r.k, r.v) for r in out.collect())
        # 2 updated (cs differs), 3 kept (cs equal), 4 inserted
        assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    def test_soft_delete(self, spark):
        target = spark.createDataFrame([(1, 0), (2, 0)], "k int, deleted int")
        dels = spark.createDataFrame([(2,)], "k int")
        out = run("merge_delete", spark, [target, dels], keys=["k"],
                  soft="deleted")
        assert dict(rows(out, "k", "deleted")) == {1: 0, 2: 1}

    def test_scd2_closeout_and_insert(self, spark):
        dim = spark.createDataFrame(
            [(1, "x", "2020-01-01 00:00:00", None, True),
             (2, "y", "2020-01-01 00:00:00", None, True)],
            "k int, attr string, effective_from string, effective_to string, is_current boolean",
        ).withColumn("effective_from", F.to_timestamp("effective_from")) \
         .withColumn("effective_to", F.to_timestamp("effective_to"))
        upd = spark.createDataFrame([(1, "X"), (3, "z")], "k int, attr string")
        out = run("scd2", spark, [dim, upd], keys=["k"], tracked=["attr"],
                  as_of="2024-01-01 00:00:00")
        cur = dict(rows(out.filter("is_current"), "k", "attr"))
        assert cur == {1: "X", 2: "y", 3: "z"}
        closed = out.filter("NOT is_current").collect()
        assert len(closed) == 1 and closed[0].k == 1
        assert str(closed[0].effective_to).startswith("2024-01-01")

    def test_scd1_overwrites_tracked_changes_only(self, spark):
        dim = spark.createDataFrame(
            [(1, "x", "n1"), (2, "y", "n2"), (3, "z", "n3")],
            "k int, attr string, note string",
        )
        upd = spark.createDataFrame(
            [(1, "X", "n1"), (2, "y", "N2"), (4, "w", "n4")],
            "k int, attr string, note string",
        )
        out = run("scd1", spark, [dim, upd], keys=["k"], tracked=["attr"])
        # 1: tracked attr changed -> overwritten; 2: only the untracked
        # note changed -> kept as it was; 3: untouched; 4: new key
        assert rows(out, "k", "attr", "note") == [
            (1, "X", "n1"), (2, "y", "n2"), (3, "z", "n3"), (4, "w", "n4"),
        ]


class TestDedup:
    def test_exact_keep_by(self, spark):
        df = spark.createDataFrame(
            [(2, "a"), (1, "a"), (5, "b")], "id int, key string"
        )
        out = run("dedup.exact", spark, [df], columns=["key"],
                  keep_by=[("id", "asc")])
        assert rows(out, "id") == [(1,), (5,)]

    def test_minhash_finds_planted_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again " * 5
        near = base.replace("lazy", "sleepy")
        other = "completely different text about spark query engines " * 5
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, other)], "doc_id long, text string"
        )
        out = run("dedup.minhash", spark, [df], id_col="doc_id",
                  text_col="text", threshold=0.5, num_hashes=64, bands=16,
                  return_pairs=True)
        pairs = [(r.a, r.b) for r in out["pairs"].collect()]
        assert (1, 2) in pairs
        assert sorted(r.doc_id for r in out["out"].collect()) == [1, 3]

    def test_minhash_joins_follow_size(self, spark):
        """No MinHash join carries a hint: the candidate and pairs frames
        are filled caches when the joins are planned, so Spark's size
        threshold decides from measured sizes. At sf0.001 both operators
        plan the verify joins on a and b, the candidate-id semi-join and
        the survivor anti-join (and the incremental batch-band join) as
        broadcast joins — the anti-join already in the plan built before
        the output's action, so the corpus side never stages a shuffle.
        With ``spark.sql.autoBroadcastJoinThreshold=-1`` every one of
        them shuffles, and survivors and pairs are identical."""
        import re

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cfg = dict(id_col="doc_id", text_col="text", threshold=0.7,
                   num_hashes=128, bands=16, return_pairs=True)
        legs = {"dedup.minhash": [df],
                "dedup.minhash_incremental": [df.filter("doc_id >= 250"),
                                              df.filter("doc_id < 250")]}
        join = re.compile(r"(\w+Join) \[([^\]]*)\], \[[^\]]*\], (\w+)")

        def plan(d):
            return d._jdf.queryExecution().executedPlan().toString()

        got, kinds = {}, {}
        try:
            for thr in (None, "-1"):
                if thr:
                    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
                for op, ins in legs.items():
                    r = run(op, spark, ins, **cfg)
                    plans = plan(r["out"]) + plan(r["pairs"])
                    got[thr, op] = (
                        sorted(x.doc_id for x in r["out"].collect()),
                        sorted(map(tuple, r["pairs"].collect())))
                    kinds[thr, op] = {
                        (re.sub(r"#\d+L?", "", m[2]), m[3]): m[1]
                        for m in join.finditer(plans)}
                    spark.catalog.clearCache()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for op in legs:
            assert got[None, op] == got["-1", op] and got[None, op][1], op
            want = {("a", "Inner"), ("b", "Inner"), ("doc_id", "LeftSemi"),
                    ("doc_id", "LeftAnti")}
            if op == "dedup.minhash_incremental":
                want.add(("_band, _bh", "Inner"))
            assert set(kinds[None, op]) == set(kinds["-1", op]) == want, op
            assert set(kinds[None, op].values()) == {"BroadcastHashJoin"}, op
            assert "BroadcastHashJoin" not in kinds["-1", op].values(), op

    def test_minhash_releases_candidates_either_verify_mode(self, spark):
        """The candidate cache `_bucket_pairs` hands back is released
        whether Spark plans the verify as broadcast or as shuffle joins:
        after the output is collected, the default threshold and
        ``autoBroadcastJoinThreshold=-1`` leave the same number of
        persisted RDDs (only the verified pairs)."""
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        jsc = spark.sparkContext._jsc
        left = {}
        try:
            for thr in (None, "-1"):
                if thr:
                    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
                spark.catalog.clearCache()
                out = run("dedup.minhash", spark, [df], id_col="doc_id",
                          text_col="text", threshold=0.7, num_hashes=128,
                          bands=16)
                out.collect()
                left[thr] = jsc.getPersistentRDDs().size()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.catalog.clearCache()
        assert left[None] == left["-1"] == 1, left

    def test_minhash_pairs_match_exact_jaccard(self, spark):
        """Checked against every (a < b) whose word-3-shingle sets have
        Jaccard >= 0.7, computed here over all pairs of the driver's
        documents. The exact-Jaccard verify admits no false positive;
        banding is probabilistic near the threshold (16 bands x 8 rows
        finds a J = 0.7 pair with p ~ 0.61), so full recall is asserted
        only on pairs at J >= 0.9, which it misses with p ~ 1e-4."""
        from itertools import combinations

        from ssis_to_pyspark_agent_spark.operators.dedup import _shingles

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = run("dedup.minhash", spark, [df], id_col="doc_id",
                  text_col="text", threshold=0.7, num_hashes=128,
                  bands=16, return_pairs=True)
        got = {(r.a, r.b) for r in out["pairs"].collect()}
        sh = {
            r.doc_id: set(r.sh)
            for r in df.select("doc_id", _shingles(F.col("text"), 3)
                               .alias("sh")).collect()
        }
        want, sure = set(), set()
        for a, b in combinations(sorted(sh), 2):
            inter = len(sh[a] & sh[b])
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= 0.7:
                want.add((a, b))
            if j >= 0.9:
                sure.add((a, b))
        spark.catalog.clearCache()
        assert sure and sure <= got <= want

    def test_minhash_incremental_hand_case(self, spark):
        # history: A(10), B(11). batch: 20 ~ A (dropped, history wins),
        # 21 unique (kept), 22 and 23 near-identical new docs (keep 22,
        # drop 23), 24 ~ B and ~ nothing in batch (dropped)
        # 60-token docs; near-dup = one appended token (jaccard ~ 0.95,
        # far above the 16x4 banding midpoint at threshold 0.5)
        a = " ".join(f"alpha{i}" for i in range(60))
        b = " ".join(f"beta{i}" for i in range(60))
        u = " ".join(f"uniq{i}" for i in range(60))
        c = " ".join(f"gamma{i}" for i in range(60))
        hist = spark.createDataFrame(
            [(10, a), (11, b)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(20, a + " tail"), (21, u),
             (22, c), (23, c + " tail"),
             (24, b + " tail")],
            "doc_id long, text string")
        out = run("dedup.minhash_incremental", spark, [batch, hist],
                  id_col="doc_id", text_col="text", threshold=0.5,
                  num_hashes=64, bands=16, return_pairs=True)
        assert sorted(r.doc_id for r in out["out"].collect()) == [21, 22]
        got = {(r.a, r.b) for r in out["pairs"].collect()}
        assert {(10, 20), (22, 23), (11, 24)} <= got
        spark.catalog.clearCache()

    def test_minhash_incremental_composes_to_full(self, spark):
        # ordered-id split: incremental survivors of the batch must equal
        # the one-shot full-corpus survivors restricted to batch ids
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cut = 250
        hist = df.filter(f"doc_id < {cut}")
        batch = df.filter(f"doc_id >= {cut}")
        cfg = dict(id_col="doc_id", text_col="text", threshold=0.7,
                   num_hashes=128, bands=16)
        full = run("dedup.minhash", spark, [df], **cfg)
        inc = run("dedup.minhash_incremental", spark, [batch, hist], **cfg)
        full_batch = sorted(r.doc_id for r in
                            full.filter(f"doc_id >= {cut}").collect())
        assert sorted(r.doc_id for r in inc.collect()) == full_batch
        spark.catalog.clearCache()

    def test_minhash_incremental_precomputed_bands(self, spark):
        # the bands port of a history-as-batch run, fed back as the third
        # input, must reproduce the on-the-fly result without a history
        # signature pass
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cut = 250
        hist = df.filter(f"doc_id < {cut}")
        batch = df.filter(f"doc_id >= {cut}")
        cfg = dict(id_col="doc_id", text_col="text", threshold=0.7,
                   num_hashes=128, bands=16)
        hb = run("dedup.minhash_incremental", spark,
                 [hist, hist.limit(0)], return_bands=True, **cfg)["bands"]
        on_fly = run("dedup.minhash_incremental", spark, [batch, hist],
                     **cfg)
        pre = run("dedup.minhash_incremental", spark, [batch, hist, hb],
                  **cfg)
        assert sorted(r.doc_id for r in pre.collect()) == \
            sorted(r.doc_id for r in on_fly.collect())
        spark.catalog.clearCache()

    def test_band_store_parquet_round_trip(self, spark, tmp_path):
        # the operational shape of the incremental path (round-6 verdict
        # item 7): bootstrap bands -> write_band_store -> read_band_store
        # in a "later session" -> third input; survivors must equal the
        # in-session precomputed-bands path, and a batch append must
        # accrete (store grows by the batch's band rows)
        from ssis_to_pyspark_agent_spark.operators.dedup import (
            read_band_store, write_band_store)

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cut = 250
        hist = df.filter(f"doc_id < {cut}")
        batch = df.filter(f"doc_id >= {cut}")
        cfg = dict(id_col="doc_id", text_col="text", threshold=0.7,
                   num_hashes=128, bands=16)
        hb = run("dedup.minhash_incremental", spark,
                 [hist, hist.limit(0)], return_bands=True, **cfg)["bands"]
        path = str(tmp_path / "band_store")
        write_band_store(hb, path)
        store = read_band_store(spark, path)
        assert [f.simpleString() for f in store.schema.fields] == [
            "_id:bigint", "_band:int", "_bh:bigint"]
        on_fly = run("dedup.minhash_incremental", spark, [batch, hist],
                     **cfg)
        res = run("dedup.minhash_incremental", spark,
                  [batch, hist, store], return_bands=True, **cfg)
        assert sorted(r.doc_id for r in res["out"].collect()) == \
            sorted(r.doc_id for r in on_fly.collect())
        # daily accretion: append the batch's bands, store covers both
        n0 = store.count()
        write_band_store(res["bands"], path, mode="append")
        assert read_band_store(spark, path).count() == \
            n0 + res["bands"].count()
        with pytest.raises(ValueError, match="lacks band-table columns"):
            write_band_store(batch, path)
        # the pipeline-facing operator wrappers round-trip the same store
        path2 = str(tmp_path / "band_store_ops")
        run("sink.band_store", spark, [hb], path=path2)
        via_ops = run("source.band_store", spark, [], path=path2)
        assert via_ops.count() == n0
        spark.catalog.clearCache()

    def test_band_store_params_sidecar(self, spark, tmp_path):
        # ADVICE round 7 (medium): a store written under one minhash
        # parameter set must refuse appends/reads declaring another —
        # mixing band hashes from different params silently corrupts
        # incremental survivors, the exact workflow the store exists for
        from ssis_to_pyspark_agent_spark.operators.dedup import (
            read_band_store, read_band_store_params, write_band_store)

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cfg = dict(id_col="doc_id", text_col="text", threshold=0.7,
                   num_hashes=128, bands=16)
        hb = run("dedup.minhash_incremental", spark,
                 [df.limit(50), df.limit(0)], return_bands=True,
                 **cfg)["bands"].persist()
        params = dict(num_hashes=128, bands=16, seed=42, shingle_k=3)
        path = str(tmp_path / "store")
        write_band_store(hb, path, params=params)
        assert read_band_store_params(spark, path) == params
        # same params append: fine (and a partial declaration matches)
        write_band_store(hb, path, mode="append",
                         params=dict(bands=16, seed=42))
        # conflicting append / read: loud failure
        with pytest.raises(ValueError, match="parameter mismatch"):
            write_band_store(hb, path, mode="append",
                             params=dict(num_hashes=64))
        with pytest.raises(ValueError, match="parameter mismatch"):
            read_band_store(spark, path, params=dict(shingle_k=5))
        # matching read passes; pre-sidecar store (no params at write)
        # skips the check both ways
        assert read_band_store(spark, path, params=params).count() > 0
        bare = str(tmp_path / "bare")
        write_band_store(hb, bare)
        assert read_band_store_params(spark, bare) is None
        assert read_band_store(
            spark, bare, params=dict(num_hashes=9)).count() > 0
        with pytest.raises(ValueError, match="unknown params"):
            write_band_store(hb, bare, params=dict(threshold=0.7))
        # read must reject typo'd keys too — silently filtering them
        # would skip the very mismatch check the sidecar exists for
        with pytest.raises(ValueError, match="unknown params"):
            read_band_store(spark, bare, params=dict(num_hashs=64))
        # operator wrappers forward config keys into the sidecar
        path2 = str(tmp_path / "store_ops")
        run("sink.band_store", spark, [hb], path=path2, **{
            k: params[k] for k in ("num_hashes", "bands", "seed")})
        with pytest.raises(ValueError, match="parameter mismatch"):
            run("source.band_store", spark, [], path=path2, bands=32)
        assert run("source.band_store", spark, [], path=path2,
                   bands=16).count() == hb.count()
        # overwrite replaces the sidecar along with the data
        write_band_store(hb, path, mode="overwrite",
                         params=dict(num_hashes=64, bands=8))
        assert read_band_store_params(spark, path) == dict(
            num_hashes=64, bands=8)
        hb.unpersist()
        spark.catalog.clearCache()

    def test_band_store_compaction(self, spark, tmp_path):
        # round-7 verdict item 7: append-per-batch accretes one small
        # file per band per ingest; compaction must shrink the file
        # count while keeping the store CONTENT-identical (multiset —
        # repeated appends legitimately duplicate rows), preserving the
        # _band partition layout and the _params.json sidecar
        import glob
        import os

        from ssis_to_pyspark_agent_spark.operators.dedup import (
            compact_band_store, read_band_store, read_band_store_params,
            write_band_store)

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cfg = dict(id_col="doc_id", text_col="text", threshold=0.7,
                   num_hashes=128, bands=16)
        hb = run("dedup.minhash_incremental", spark,
                 [df.limit(120), df.limit(0)], return_bands=True,
                 **cfg)["bands"].persist()
        params = dict(num_hashes=128, bands=16, seed=42, shingle_k=3)
        path = str(tmp_path / "store")

        def nfiles() -> int:
            return len(glob.glob(os.path.join(path, "_band=*",
                                              "*.parquet")))

        write_band_store(hb, path, params=params)
        for _ in range(3):  # three more "daily" ingest appends
            write_band_store(hb, path, mode="append", params=params)
        pre = sorted(map(tuple, read_band_store(spark, path).collect()))
        n_before = nfiles()
        assert n_before >= 4 * 16  # >= one file per band per append
        n_after = compact_band_store(spark, path)
        assert n_after == nfiles() == 16  # one file per band at this size
        assert sorted(map(tuple,
                          read_band_store(spark, path).collect())) == pre
        assert read_band_store_params(spark, path) == params
        # the compacted store is still a normal store: params still
        # enforced, appends still accrete
        with pytest.raises(ValueError, match="parameter mismatch"):
            read_band_store(spark, path, params=dict(bands=32))
        write_band_store(hb, path, mode="append", params=params)
        assert read_band_store(spark, path).count() == \
            len(pre) + hb.count()
        # pipeline wrapper: compacts in place, reports the file count,
        # returns the compacted rows
        ctx: dict = {}
        out = run("maintenance.compact_band_store", spark, [], path=path,
                  _context=ctx)
        assert ctx["_band_store_files"] == nfiles() == 16
        assert out.count() == len(pre) + hb.count()
        hb.unpersist()
        spark.catalog.clearCache()

    def test_simhash_near_dup(self, spark):
        base = " ".join(f"tok{i}" for i in range(200))
        near = base.replace("tok5 ", "tok5x ")
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, "unrelated words only here")],
            "doc_id long, text string",
        )
        out = run("dedup.simhash", spark, [df], id_col="doc_id",
                  text_col="text", max_distance=6, return_pairs=True)
        pairs = [(r.a, r.b) for r in out["pairs"].collect()]
        assert (1, 2) in pairs

    def test_simhash_fingerprints_match_python(self, spark):
        """The verified pair set must equal the one derived here from the
        definition: xxhash64 per token (taken from Spark), 60-bit
        fingerprint = per-bit majority vote (bit set iff votes > 0),
        then every pair (a < b) within hamming distance 3. Bit-identical
        fingerprints are the only way the (a, b, hamming) sets match."""
        from itertools import combinations

        from ssis_to_pyspark_agent_spark.operators.dedup import _words

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = run("dedup.simhash", spark, [df], id_col="doc_id",
                  text_col="text", max_distance=3, return_pairs=True)
        got = sorted(map(tuple, out["pairs"].collect()))
        fps = {}
        for r in df.select(
            "doc_id", F.transform(_words(F.col("text")), lambda t: F.xxhash64(t))
            .alias("hs")
        ).collect():
            fp = 0
            for j in range(60):
                votes = sum(1 if (h >> j) & 1 else -1 for h in r.hs)
                if votes > 0:
                    fp |= 1 << j
            fps[r.doc_id] = fp
        want = sorted(
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a, b in combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= 3
        )
        spark.catalog.clearCache()
        assert want and got == want

    def test_simhash_releases_caches(self, spark, sf_dir):
        """One call may leave at most the verified pairs persisted (the
        survivor anti-join and the pairs port share it): the fingerprint
        base and the candidate frame are released (NOTES invariant 13)."""
        spark.catalog.clearCache()
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        out = run("dedup.simhash", spark, [df], id_col="doc_id",
                  text_col="text", max_distance=3, return_pairs=True)
        out["out"].count()
        out["pairs"].count()
        assert jsc.getPersistentRDDs().size() - before <= 1
        spark.catalog.clearCache()


class TestSimilarity:
    def test_bruteforce_self_is_top1(self, spark):
        import random

        rng = random.Random(7)
        data = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        out = run("similarity.topk_bruteforce", spark,
                  [df, df.filter("vec_id < 3")],
                  id_col="vec_id", vec_col="embedding",
                  query_id_col="vec_id", query_vec_col="embedding", k=3)
        top1 = {r.query_id: r.corpus_id for r in out.filter("rank = 1").collect()}
        assert top1 == {0: 0, 1: 1, 2: 2}  # self-similarity = 1.0

    def test_pandas_quantized_matches_expr(self, spark):
        """Quantized top-5 per query must be BIT-identical to the
        quantized cosine definition (`qcos`: HALF_UP integers, exact
        integer sums, dot/(sqrt*sqrt)) — on the driver's real
        embeddings."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qs = emb.filter("vec_id in (0, 7, 21)")
        out = run("similarity.topk_bruteforce", spark, [emb, qs],
                  id_col="vec_id", vec_col="embedding",
                  query_id_col="vec_id", query_vec_col="embedding",
                  k=5, quantize=10000)
        corpus = {r.vec_id: r.embedding for r in emb.collect()}
        expect = topk_reference(
            corpus, {i: corpus[i] for i in (0, 7, 21)}, k=5
        )
        got = {(r.query_id, r.rank): (r.corpus_id, r.cosine)
               for r in out.collect()}
        assert got == expect

    def test_zero_vector_scores_null_in_every_operator(self, spark):
        # an all-zero vector has no direction: in every vector operator
        # and either quantize mode it scores null (no ANSI divide-by-zero
        # error). In the top-k operators it ranks last as a corpus row
        # and gives a query nothing but nulls; dedup.semantic pairs it
        # with nothing.
        rows_ = [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0])]
        df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
        topk = {
            "similarity.topk_bruteforce": {},
            "similarity.topk_lsh": {},
            "similarity.topk_ivf": dict(centroids=3, nprobe=3),
        }
        for quantize in (None, 10000):
            for op, extra in topk.items():
                out = run(op, spark, [df, df.filter("vec_id in (1, 3)")],
                          id_col="vec_id", vec_col="embedding",
                          query_id_col="vec_id", query_vec_col="embedding",
                          k=3, quantize=quantize, **extra)
                got = {(r.query_id, r.corpus_id): (r.cosine, r.rank)
                       for r in out.collect()}
                case = (op, quantize)
                assert got[(1, 1)] == (1.0, 1), case
                # LSH scores only bucket collisions: the zero vector
                # always collides with itself, the rest by chance
                assert got[(3, 3)][0] is None, case
                for (qi, ci), (cos, rank) in got.items():
                    if 3 in (qi, ci):
                        assert cos is None, case
                    if ci == 3:  # null ranks after every scored row
                        assert rank == max(
                            r for (q2, _), (_, r) in got.items() if q2 == qi
                        ), case
                if op != "similarity.topk_lsh":
                    assert got[(1, 3)] == (None, 3), case
                    assert [got[(3, c)][0] for c in (1, 2, 3)] == [None] * 3
            sem = run("dedup.semantic", spark, [df], id_col="vec_id",
                      vec_col="embedding", n_clusters=1, threshold=0.5,
                      quantize=quantize, return_pairs=True)
            assert [(p.a, p.b) for p in sem["pairs"].collect()] == [(1, 2)]
            assert sorted(r.vec_id for r in sem["out"].collect()) == [1, 3]

    def test_numpy_paths_handle_empty_input(self, spark):
        """Zero-row inputs (and hence zero-row Arrow batches) must flow
        through the mapInPandas signature/fingerprint/bucket paths."""
        docs = spark.createDataFrame([], "doc_id long, text string")
        vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
        mh = run("dedup.minhash", spark, [docs], id_col="doc_id",
                 text_col="text", return_pairs=True)
        sh = run("dedup.simhash", spark, [docs], id_col="doc_id",
                 text_col="text", return_pairs=True)
        ed = run("dedup.embedding", spark, [vecs], id_col="vec_id",
                 vec_col="embedding", return_pairs=True)
        for out in (mh, sh, ed):
            assert out["pairs"].count() == 0 and out["out"].count() == 0
        # top-k: an empty corpus or an empty query batch ranks nothing
        one = spark.createDataFrame([(1, [1.0, 0.0])], vecs.schema)
        for op in ("similarity.topk_bruteforce", "similarity.topk_lsh",
                   "similarity.topk_ivf"):
            for corpus, queries in ((vecs, one), (one, vecs)):
                out = run(op, spark, [corpus, queries], id_col="vec_id",
                          vec_col="embedding", query_id_col="vec_id",
                          query_vec_col="embedding", k=3)
                assert out.count() == 0, op

    def test_embedding_lsh_pairs_subset_of_bruteforce(self, spark):
        """Hyperplane-LSH candidates verified with exact quantized cosine
        can only miss pairs, never invent them: the pair set (with its
        cosines) is a non-empty subset of the brute-force pairs."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = {}
        for brute in (False, True):
            out = run("dedup.embedding", spark, [emb], id_col="vec_id",
                      vec_col="embedding", threshold=0.35, quantize=10000,
                      return_pairs=True, brute_force=brute)
            got[brute] = set(map(tuple, out["pairs"].collect()))
            spark.catalog.clearCache()
        assert got[False] and got[False] <= got[True]

    def test_ngram_prefix_filter_preserves_pairs(self, spark):
        """PPJoin prefix filtering must be exact-preserving: the verified
        pair set equals every blocked (a < b) whose word-3-shingle sets
        have Jaccard >= t, computed here over all pairs of the driver's
        documents, at two thresholds (including the 0.7 ulp trap:
        ceil(0.7*10) in float is 8 without the epsilon guard). Two docs
        share a block when their ``floor(n_chars / 16)`` differ by at
        most 1."""
        from itertools import combinations

        from ssis_to_pyspark_agent_spark.operators.dedup import _shingles

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        sh, bucket = {}, {}
        for r in docs.select("doc_id", "n_chars", _shingles(
                F.col("text"), 3).alias("sh")).collect():
            sh[r.doc_id], bucket[r.doc_id] = set(r.sh), r.n_chars // 16
        for thr in (0.5, 0.7):
            want = {}
            for a, b in combinations(sorted(sh), 2):
                if abs(bucket[a] - bucket[b]) > 1:
                    continue
                inter = len(sh[a] & sh[b])
                j = inter / (len(sh[a]) + len(sh[b]) - inter)
                if j >= thr:
                    want[(a, b)] = j
            out = run(
                "dedup.ngram_jaccard", spark, [docs],
                id_col="doc_id", text_col="text", shingle_k=3,
                threshold=thr, return_pairs=True,
                block_exprs=["floor(n_chars / 16)",
                             "floor(n_chars / 16) + 1"],
            )
            got = {(r.a, r.b): r.jaccard for r in out["pairs"].collect()}
            spark.catalog.clearCache()
            assert want and got.keys() == want.keys(), thr
            assert all(abs(got[p] - want[p]) < 1e-12 for p in want), thr

    def test_ngram_prefix_order_df_preserves_pairs(self, spark, monkeypatch):
        """AllPairs frequency ordering of the prefix (the 'df' order,
        the Zipf-skew lever) must emit the identical verified pair set —
        the prefix bound holds under any fixed total order. Each order
        is forced through the probe's thresholds: a doc floor no corpus
        reaches gives 'hash'; a zero floor and a zero hot-df threshold
        give 'df'."""
        from ssis_to_pyspark_agent_spark.operators import dedup

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        force = {"hash": {"_NGRAM_DF_MIN_DOCS": 10**12},
                 "df": {"_NGRAM_DF_MIN_DOCS": 0, "_NGRAM_HOT_DF": 0.0}}

        def pairs_under(order, **config):
            ctx = {}
            with monkeypatch.context() as m:
                for name, value in force[order].items():
                    m.setattr(dedup, name, value)
                out = run(
                    "dedup.ngram_jaccard", spark, [docs], _context=ctx,
                    id_col="doc_id", text_col="text", shingle_k=3,
                    threshold=0.5, return_pairs=True, **config,
                )
                got = sorted(map(tuple, out["pairs"].collect()))
            spark.catalog.clearCache()
            assert ctx["_ngram_prefix_order"] == order
            return got

        got = {order: pairs_under(
            order, block_exprs=["floor(n_chars / 16)",
                                "floor(n_chars / 16) + 1"])
            for order in ("hash", "df")}
        assert got["hash"] == got["df"] and got["hash"] and got["hash"]
        # and in the default min-hash blocking mode too
        got = {order: pairs_under(order) for order in ("hash", "df")}
        assert got["hash"] == got["df"] and got["hash"]

    def test_ngram_prefix_order_auto_selects(self, spark, monkeypatch):
        """'auto' (the round-5 default, per the round-4 verdict) must
        pick 'hash' on small or uniform corpora and 'df' on big+skewed
        ones — with the identical pair set either way (the probe only
        changes the plan, never the output)."""
        # skewed: one boilerplate phrase in EVERY doc -> top-shingle
        # document frequency ~1.0 >> the 0.01 _NGRAM_HOT_DF threshold
        from ssis_to_pyspark_agent_spark.operators import dedup

        skew = spark.createDataFrame(
            [(i, f"alpha beta gamma delta u{i}a u{i}b u{i}c u{i}d")
             for i in range(300)],
            "doc_id long, text string",
        )
        ctx = {}
        with monkeypatch.context() as m:
            m.setattr(dedup, "_NGRAM_DF_MIN_DOCS", 100)
            out = run("dedup.ngram_jaccard", spark, [skew], _context=ctx,
                      id_col="doc_id", text_col="text", shingle_k=3,
                      threshold=0.5, return_pairs=True)
        auto_pairs = sorted(map(tuple, out["pairs"].collect()))
        assert ctx["_ngram_prefix_order"] == "df"
        spark.catalog.clearCache()
        # the default doc floor (20k) forces 'hash' on these 300 docs
        ctx_hash = {}
        exp = run("dedup.ngram_jaccard", spark, [skew], _context=ctx_hash,
                  id_col="doc_id", text_col="text", shingle_k=3,
                  threshold=0.5, return_pairs=True)
        assert ctx_hash["_ngram_prefix_order"] == "hash"
        assert auto_pairs == sorted(map(tuple, exp["pairs"].collect()))
        spark.catalog.clearCache()
        # uniform: all-distinct shingles -> top df is 1 doc out of 300
        # (0.3%) -> 'hash'
        uni = spark.createDataFrame(
            [(i, " ".join(f"w{i}_{j}" for j in range(8)))
             for i in range(300)],
            "doc_id long, text string",
        )
        ctx2 = {}
        with monkeypatch.context() as m:
            m.setattr(dedup, "_NGRAM_DF_MIN_DOCS", 100)
            run("dedup.ngram_jaccard", spark, [uni], _context=ctx2,
                id_col="doc_id", text_col="text", shingle_k=3,
                threshold=0.5)
        assert ctx2["_ngram_prefix_order"] == "hash"
        spark.catalog.clearCache()
        # under _NGRAM_DF_MIN_DOCS the limit-probe short-circuits to 'hash'
        # even on the skewed corpus (tiny corpora are fast either way
        # and the probe can't pay for itself)
        ctx3 = {}
        run("dedup.ngram_jaccard", spark, [skew], _context=ctx3,
            id_col="doc_id", text_col="text", shingle_k=3, threshold=0.5)
        assert ctx3["_ngram_prefix_order"] == "hash"
        spark.catalog.clearCache()
        # round-8 floor (20k, was 400k): a mid-size SKEWED corpus at the
        # DEFAULT config must now probe and pick 'df' — the old floor
        # forced 'hash' on the q31 sf1 rig (50k docs, top shingle in 27%
        # of docs), enumerating 49M candidates for 259 true pairs, 2x
        # slower than 'df'. A mid-size uniform corpus probes and stays
        # 'hash'.
        base_words = F.concat_ws(" ", *[
            F.concat(F.lit("u"), F.col("id").cast("string"), F.lit(s))
            for s in "abcd"])
        midskew = spark.range(25_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit("alpha beta gamma delta"),
                        base_words).alias("text"))
        ctx5 = {}
        run("dedup.ngram_jaccard", spark, [midskew], _context=ctx5,
            id_col="doc_id", text_col="text", shingle_k=3, threshold=0.5)
        assert ctx5["_ngram_prefix_order"] == "df"
        spark.catalog.clearCache()
        miduni = spark.range(25_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", base_words, F.concat(
                F.lit("v"), F.col("id").cast("string"))).alias("text"))
        ctx6 = {}
        run("dedup.ngram_jaccard", spark, [miduni], _context=ctx6,
            id_col="doc_id", text_col="text", shingle_k=3, threshold=0.5)
        assert ctx6["_ngram_prefix_order"] == "hash"
        spark.catalog.clearCache()
        # empty input + a zero doc floor must short-circuit to 'hash',
        # not divide by zero in the sample fraction (review finding)
        empty = spark.createDataFrame([], "doc_id long, text string")
        ctx4 = {}
        with monkeypatch.context() as m:
            m.setattr(dedup, "_NGRAM_DF_MIN_DOCS", 0)
            out4 = run("dedup.ngram_jaccard", spark, [empty], _context=ctx4,
                       id_col="doc_id", text_col="text", shingle_k=3,
                       threshold=0.5, return_pairs=True)
        assert out4["out"].count() == 0 and out4["pairs"].count() == 0
        assert ctx4["_ngram_prefix_order"] == "hash"
        spark.catalog.clearCache()

    def test_embedding_lsh_finds_planted_copies(self, spark):
        """Exact copies share every bucket, so on random vectors plus
        planted copies at threshold 0.99 the LSH pair set must equal the
        brute-force set, which is exactly the planted pairs."""
        import random

        rng = random.Random(5)
        data = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
        data += [(1000 + i, data[i][1]) for i in range(0, 200, 10)]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        got = {}
        for brute in (False, True):
            out = run("dedup.embedding", spark, [df], id_col="vec_id",
                      vec_col="embedding", threshold=0.99, quantize=10000,
                      return_pairs=True, brute_force=brute)
            got[brute] = {(r.a, r.b) for r in out["pairs"].collect()}
            spark.catalog.clearCache()
        planted = {(i, 1000 + i) for i in range(0, 200, 10)}
        assert got[False] == got[True] == planted

    def test_lsh_recall_vs_bruteforce(self, spark):
        import random

        rng = random.Random(11)
        data = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(100)]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        q = df.filter("vec_id < 5")
        bf = run("similarity.topk_bruteforce", spark, [df, q],
                 id_col="vec_id", vec_col="embedding",
                 query_id_col="vec_id", query_vec_col="embedding", k=1)
        lsh = run("similarity.topk_lsh", spark, [df, q],
                  id_col="vec_id", vec_col="embedding",
                  query_id_col="vec_id", query_vec_col="embedding",
                  k=1, lsh_tables=8, lsh_bits=4)
        bf1 = {r.query_id: r.corpus_id for r in bf.collect()}
        lsh1 = {r.query_id: r.corpus_id for r in lsh.collect()}
        # self always collides with itself -> top-1 must match exactly
        assert bf1 == lsh1

    def test_lsh_float_planes_match_reference(self, spark):
        """Default float hyperplanes, no `quantize`: the candidates are
        the rows colliding with the query in any table under
        `_hyperplanes` (seed 42), scored by the float cosine and ranked
        by (-cosine, id) — each corpus ROW once, so a duplicated id
        whose two rows both collide ranks twice."""
        import math
        import random

        from ssis_to_pyspark_agent_spark.operators.similarity import (
            _hyperplanes,
        )

        rng = random.Random(13)
        dim, tables, bits, k = 8, 3, 3, 5
        rows_ = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(60)]
        # a second row under id 7: a near-copy of row 7's vector
        rows_.append((7, [x + 1e-3 * rng.gauss(0, 1) for x in rows_[7][1]]))
        schema = "vec_id long, embedding array<double>"
        df = spark.createDataFrame(rows_, schema)
        query_ids = (0, 3, 7)
        qs = spark.createDataFrame([rows_[i] for i in query_ids], schema)
        out = run("similarity.topk_lsh", spark, [df, qs],
                  id_col="vec_id", vec_col="embedding",
                  query_id_col="vec_id", query_vec_col="embedding",
                  k=k, lsh_tables=tables, lsh_bits=bits)

        planes = _hyperplanes(dim, tables, bits, 42)

        def sig(v):
            return [tuple(sum(a * b for a, b in zip(v, p)) >= 0 for p in t)
                    for t in planes]

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            return dot / (math.sqrt(sum(x * x for x in a))
                          * math.sqrt(sum(y * y for y in b)))

        ref = []
        for qi in query_ids:
            qv = rows_[qi][1]
            cand = [(cos(v, qv), i) for i, v in rows_
                    if any(a == b for a, b in zip(sig(v), sig(qv)))]
            cand.sort(key=lambda c: (-c[0], c[1]))
            ref += [(qi, i, c, r + 1) for r, (c, i) in enumerate(cand[:k])]
        got = sorted(map(tuple, out.collect()))
        ref.sort()
        assert [g[:2] + g[3:] for g in got] == [r[:2] + r[3:] for r in ref]
        assert all(abs(g[2] - r[2]) < 1e-12 for g, r in zip(got, ref))
        # both id-7 rows collide with query 7 and rank first and second
        assert sorted(g[3] for g in got if g[:2] == (7, 7)) == [1, 2]

    def test_topk_plans_hold_one_corpus_map_and_no_join(self, spark):
        """Every top-k operator scores in one Python map over the corpus
        (`_probe_score_frame`) with the query batch inside the kernel:
        no candidate join, no second map."""
        import random

        rng = random.Random(14)
        rows_ = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)]
        df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
        cfg = dict(id_col="vec_id", vec_col="embedding",
                   query_id_col="vec_id", query_vec_col="embedding", k=3)
        for op, extra in {
            "similarity.topk_bruteforce": {},
            "similarity.topk_lsh": dict(lsh_tables=4, lsh_bits=3),
            "similarity.topk_ivf": dict(centroids=4, nprobe=2),
        }.items():
            out = run(op, spark, [df, df.filter("vec_id < 3")], **cfg, **extra)
            assert out.count() == 9, op
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert plan.count("MapInPandas") == 1, (op, plan)
            assert "Join" not in plan, (op, plan)


class TestTextOps:
    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat and the dog are in the house"),
             (2, "der Hund ist nicht mit der Katze"),
             (3, "xyzzy plugh")],
            "doc_id long, text string",
        )
        out = run("text.lang_id", spark, [df], text_col="text")
        got = {r.doc_id: r.lang_pred for r in out.collect()}
        assert got[1] == "en" and got[2] == "de" and got[3] == "und"

    def test_token_count(self, spark):
        df = spark.createDataFrame([(1, "Hello world, 42!")], "id int, text string")
        r = run("text.token_count", spark, [df], text_col="text").collect()[0]
        assert r.ws_tokens == 3
        # pieces: Hello(2) world(2) ,(1) 4(1) 2(1) !(1) -> 8
        assert r.bpe_tokens == 8

    def test_repetition_hand_computed(self, spark):
        # doc 1: 4 lines, "aa bb" repeated 3x (each 5 chars), "cc dd" once.
        #   dup_line_frac = (4-2)/4 = 0.5
        #   line chars: all = 3*5+5 = 20, distinct = 10 -> dup_char = 0.5
        #   normalized text = "aa bb aa bb cc dd aa bb" -> 23 chars
        #   2-grams (7 total): 'aa bb'x3, then 'bb aa','bb cc','cc dd',
        #   'dd aa' once each -> top2 mass = dup2 mass = 3*5 = 15 -> 15/23
        # doc 2: no repeats at all -> all zeros
        df = spark.createDataFrame(
            [(1, "aa bb\naa bb\ncc dd\naa bb"), (2, "xx yy zz")],
            "doc_id long, text string",
        )
        out = run("text.repetition", spark, [df], text_col="text",
                  top_ns=[2], dup_ns=[2]).collect()
        r = {x.doc_id: x for x in out}
        assert r[1].dup_line_frac == 0.5
        assert r[1].dup_line_char_frac == 0.5
        assert abs(r[1].top_2gram_char_frac - 15 / 23) < 1e-12
        assert abs(r[1].dup_2gram_char_frac - 15 / 23) < 1e-12
        assert r[2].dup_line_frac == 0.0
        assert r[2].top_2gram_char_frac > 0  # most frequent exists (count 1)
        assert r[2].dup_2gram_char_frac == 0.0

    def test_line_dedup_boilerplate_removed(self, spark):
        # "FOOTER" appears in docs 1 and 2 (df=2 -> boilerplate at
        # min_df=2); "only once" is unique; a line repeated twice WITHIN
        # doc 3 has df=1 and must be kept (cross-doc statistic only)
        df = spark.createDataFrame(
            [(1, "alpha beta\nFOOTER\ngamma"),
             (2, "FOOTER\ndelta"),
             (3, "twice\ntwice\nepsilon")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in run(
            "text.line_dedup", spark, [df],
            id_col="doc_id", text_col="text", min_df=2).collect()}
        assert out[1].text_clean == "alpha beta\ngamma"
        assert out[1].n_boilerplate_lines == 1 and out[1].n_kept_lines == 2
        assert out[2].text_clean == "delta"
        assert out[3].text_clean == "twice\ntwice\nepsilon"
        assert out[3].n_boilerplate_lines == 0

    def test_dedup_spans_hand_computed(self, spark):
        # n=3 grams, corpus scope. docs 1 and 2 share "a b c d" -> grams
        # "a b c" (pos 0) and "b c d" (pos 1) each occur twice corpus-wide.
        # doc 1: flagged pos {0,1} -> ONE merged span [0,4): dup_tokens=4,
        #   clean = tokens 4.. -> "x y z"
        # doc 2: same prefix -> span [0,4), clean = "q r"
        # doc 3: within-doc repeat "e f g ... e f g" -> gram "e f g" at
        #   pos 0 and 4 (gap 4 > n=3) -> TWO spans, 6 covered tokens
        # doc 4: too short for any gram (2 tokens) -> zeros, clean = text
        df = spark.createDataFrame(
            [(1, "a b c d x y z"), (2, "a b c d q r"),
             (3, "e f g hh e f g"), (4, "u v")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in run(
            "dedup.spans", spark, [df], id_col="doc_id", text_col="text",
            n=3, emit_clean=True).collect()}
        assert (out[1].n_dup_spans, out[1].dup_tokens) == (1, 4)
        assert out[1].text_clean == "x y z" and out[1].total_tokens == 7
        assert (out[2].n_dup_spans, out[2].dup_tokens) == (1, 4)
        assert out[2].text_clean == "q r"
        assert (out[3].n_dup_spans, out[3].dup_tokens) == (2, 6)
        assert out[3].text_clean == "hh"
        assert abs(out[3].dup_token_frac - 6 / 7) < 1e-12
        assert (out[4].n_dup_spans, out[4].dup_tokens) == (0, 0)
        assert out[4].text_clean == "u v"

    def test_dedup_spans_eager_lazy_identical(self, spark, monkeypatch):
        # the eager (persist+count+broadcast, the 2M-doc plan) and lazy
        # (single-action, AQE-decided) paths must be output-identical; a
        # small corpus must take the lazy path (no persists leaked:
        # eager mode leaves its bounded agg persisted, lazy leaves none).
        # Eager is forced by dropping the size gate to zero docs.
        from ssis_to_pyspark_agent_spark.operators import dedup

        df = spark.createDataFrame(
            [(i, f"a b c d x{i} y{i} z{i}") for i in range(50)]
            + [(100, "a b c d q r")],
            "doc_id long, text string",
        )
        cfg = dict(id_col="doc_id", text_col="text", n=3, emit_clean=True)
        persisted_before = len(spark.sparkContext._jsc.getPersistentRDDs())
        rows_lazy = sorted(map(tuple, run(
            "dedup.spans", spark, [df], **cfg).collect()))
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == \
            persisted_before  # the size gate picked lazy — nothing persisted
        with monkeypatch.context() as m:
            m.setattr(dedup, "_SPANS_EAGER_MIN_DOCS", 0)
            rows_eager = sorted(map(tuple, run(
                "dedup.spans", spark, [df], **cfg).collect()))
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) > \
            persisted_before  # eager ran: its agg is persisted
        assert rows_lazy == rows_eager
        assert any(r[2] > 0 for r in rows_lazy)  # the dup actually fired
        spark.catalog.clearCache()

    def test_dedup_spans_scope_and_adjacency(self, spark):
        # cross_doc scope ignores within-doc repeats: doc 3's repeat from
        # the test above is NOT flagged, docs 1/2's shared prefix still is.
        df = spark.createDataFrame(
            [(1, "a b c d x y z"), (2, "a b c d q r"),
             (3, "e f g hh e f g")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in run(
            "dedup.spans", spark, [df], id_col="doc_id", text_col="text",
            n=3, scope="cross_doc").collect()}
        assert out[1].n_dup_spans == 1 and out[3].n_dup_spans == 0
        # overlap merge: "a b" x4 makes every gram at pos 0..5 duplicated
        # (docs 1 and 3 share them all, doc 2 shares the first two) ->
        # ONE span [0, 8) in doc 1, never six.
        df2 = spark.createDataFrame(
            [(1, "a b a b a b a b z"), (2, "a b a b w"),
             (3, "a b a b a b a b y")],
            "doc_id long, text string",
        )
        out2 = {r.doc_id: r for r in run(
            "dedup.spans", spark, [df2], id_col="doc_id", text_col="text",
            n=3).collect()}
        assert out2[1].n_dup_spans == 1 and out2[1].dup_tokens == 8
        # stats mode (no clean text) must agree with clean mode
        out3 = {r.doc_id: r for r in run(
            "dedup.spans", spark, [df2], id_col="doc_id", text_col="text",
            n=3, emit_clean=True).collect()}
        for k in out2:
            assert (out2[k].n_dup_spans, out2[k].dup_tokens) == (
                out3[k].n_dup_spans, out3[k].dup_tokens)

    def test_ngram_novelty_hand_computed(self, spark):
        # self-trained bigram counts: doc1 "a b a b" -> grams [ab, ba, ab];
        # doc2 "a b c" -> [ab, bc]; doc3 "x" -> no grams.
        # corpus counts: ab=3, ba=1, bc=1.
        # doc1: n=3, rare(c<2)=1 (ba), mean=(3+1+3)/3
        # doc2: n=2, rare=1 (bc),      mean=(3+1)/2
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in run(
            "text.ngram_novelty", spark, [df], id_col="doc_id",
            text_col="text", n=2).collect()}
        assert (out[1].n_ngrams, out[1].rare_ngrams) == (3, 1)
        assert abs(out[1].mean_ngram_freq - 7 / 3) < 1e-12
        assert abs(out[1].rare_frac - 1 / 3) < 1e-12
        assert (out[2].n_ngrams, out[2].rare_ngrams) == (2, 1)
        assert out[2].mean_ngram_freq == 2.0
        assert (out[3].n_ngrams, out[3].rare_ngrams) == (0, 0)
        assert out[3].mean_ngram_freq is None
        # separate train corpus: grams absent from train count as 0 (rare,
        # mean drops) — doc2's bc is OOV vs a train of doc1 only
        out2 = {r.doc_id: r for r in run(
            "text.ngram_novelty", spark,
            [df, df.filter("doc_id = 1")], id_col="doc_id",
            text_col="text", n=2).collect()}
        # train counts: ab=2, ba=1. doc2 grams: ab(2), bc(0) -> rare=1,
        # mean=(2+0)/2=1.0
        assert (out2[2].n_ngrams, out2[2].rare_ngrams) == (2, 1)
        assert out2[2].mean_ngram_freq == 1.0

    def test_pack_hand_computed(self, spark):
        # counts 3,4,5,2 in id order, capacity 4:
        # offsets 0,3,7,12; chunks: doc1 [0,3)->c0; doc2 [3,7)->c0,c1;
        # doc3 [7,12)->c1,c2; doc4 [12,14)->c3; doc5 count 0 -> none
        df = spark.createDataFrame(
            [(1, 3), (2, 4), (3, 5), (4, 2), (5, 0)], "id long, cnt int"
        )
        out = {r.id: r for r in run(
            "text.pack", spark, [df], id_col="id", count_col="cnt",
            capacity=4).collect()}
        assert [out[i].tok_offset for i in (1, 2, 3, 4, 5)] == [0, 3, 7, 12, 14]
        assert (out[2].first_chunk, out[2].last_chunk, out[2].n_chunks) == (0, 1, 2)
        assert (out[3].first_chunk, out[3].last_chunk, out[3].n_chunks) == (1, 2, 2)
        assert (out[4].first_chunk, out[4].last_chunk, out[4].n_chunks) == (3, 3, 1)
        assert out[5].n_chunks == 0 and out[5].first_chunk is None
        ch = sorted((r.id, r.chunk_id, r.doc_tok_start, r.doc_tok_end)
                    for r in run("text.pack", spark, [df], id_col="id",
                                 count_col="cnt", capacity=4,
                                 emit="chunks").collect())
        assert ch == [(1, 0, 0, 3), (2, 0, 0, 1), (2, 1, 1, 4),
                      (3, 1, 0, 1), (3, 2, 1, 5), (4, 3, 0, 2)]
        # every chunk except the last is filled to exactly `capacity`
        tot = {}
        for i, c, s, e in ch:
            tot[c] = tot.get(c, 0) + (e - s)
        assert tot == {0: 4, 1: 4, 2: 4, 3: 2}

    def test_pack_text_round_trip(self, spark):
        # emit='text': chunk texts concatenated in chunk order must equal
        # the normalized docs concatenated in id order, with every
        # non-final chunk filled to exactly `capacity` tokens
        import random
        rng = random.Random(5)
        rows = [(i, " ".join(f"d{i}w{j}" for j in range(rng.randrange(1, 15))))
                for i in range(60)]
        df = spark.createDataFrame(rows, "id long, text string")
        out = sorted(
            (r.chunk_id, r.text, r.n_tokens)
            for r in run("text.pack", spark, [df], id_col="id",
                         count_col=None, text_col="text", capacity=16,
                         emit="text").collect()
        )
        all_tokens = [t for _, txt in rows for t in txt.split()]
        got = [t for _, txt, _ in out for t in txt.split()]
        assert got == all_tokens
        assert all(n == 16 for _, _, n in out[:-1])
        assert out[-1][2] == len(all_tokens) - 16 * (len(out) - 1)

    def test_pack_partition_count_invariant(self, spark):
        # the packing is defined by (order, capacity) alone — the number
        # of prefix-sum buckets must never change any offset
        df = spark.createDataFrame(
            [(i, (i * 13) % 40 + 1) for i in range(777)], "id long, cnt int"
        ).repartition(7)
        outs = []
        for p in (1, 3, 64):
            out = run("text.pack", spark, [df], id_col="id",
                      count_col="cnt", capacity=50, partitions=p)
            outs.append(sorted((r.id, r.tok_offset, r.first_chunk,
                                r.last_chunk) for r in out.collect()))
        assert outs[0] == outs[1] == outs[2]

    def test_pack_two_phase_matches_global(self, spark):
        # 5000 rows over many range partitions: the two-phase prefix sum
        # must equal the naive single-pass cumulative sum
        import random
        rng = random.Random(3)
        rows = [(i, rng.randrange(0, 30)) for i in range(5000)]
        df = spark.createDataFrame(rows, "id long, cnt int").repartition(16)
        out = run("text.pack", spark, [df], id_col="id", count_col="cnt",
                  capacity=100)
        got = {r.id: r.tok_offset for r in out.collect()}
        acc = 0
        for i, c in rows:
            assert got[i] == acc, i
            acc += c

    def test_pack_empty_doc_text_mode(self, spark):
        # empty / whitespace-only docs count 0 tokens in emit='text'
        # (matching token_count / docs mode via an upstream
        # text.token_count) and contribute nothing to packed chunks —
        # no empty-string 'token', no double spaces
        rows = [(1, "a b c"), (2, ""), (3, "   "), (4, "d e")]
        df = spark.createDataFrame(rows, "id long, text string")
        out = sorted(
            (r.chunk_id, r.text, r.n_tokens)
            for r in run("text.pack", spark, [df], id_col="id",
                         count_col=None, text_col="text", capacity=4,
                         emit="text").collect()
        )
        assert [t for _, txt, _ in out for t in txt.split()] == \
            ["a", "b", "c", "d", "e"]
        assert all("  " not in txt for _, txt, _ in out)
        assert sum(n for _, _, n in out) == 5
        toks = run("text.token_count", spark, [df], text_col="text")
        docs = {r.id: r for r in run(
            "text.pack", spark, [toks], id_col="id",
            count_col="ws_tokens", capacity=4).collect()}
        assert docs[2].n_chunks == 0 and docs[3].n_chunks == 0
        assert [docs[i].tok_offset for i in (1, 2, 3, 4)] == [0, 3, 3, 3]

    def test_pack_negative_fractional_order(self, spark):
        # a negative fractional order_col min (-3.5) must floor, not
        # truncate toward zero — truncation leaves values below the
        # bound in width_bucket's bucket 0 where element_at(offsets, 0)
        # errors out
        rows = [(1, -3.5, 2), (2, -1.25, 3), (3, 0.75, 1), (4, 2.5, 4)]
        df = spark.createDataFrame(rows, "id long, ord double, cnt int")
        out = {r.id: r.tok_offset for r in run(
            "text.pack", spark, [df], id_col="id", count_col="cnt",
            order_col="ord", capacity=5, partitions=8).collect()}
        assert out == {1: 0, 2: 2, 3: 5, 4: 6}

    def test_pack_rebalance_sparse_ids(self, spark):
        # snowflake-style sparse ids: 2990 rows in a dense cluster plus
        # 10 stragglers stretching the span to 1e15, so equal-width
        # bucketing puts ~every row in ONE bucket — and the cluster is
        # far below one fine bucket's width, forcing the recursive
        # zoom. The rebalance must spread them (no bucket > 4/n_part of
        # the rows) while every offset stays the global prefix sum.
        rows = [(i, (i * 7) % 20 + 1) for i in range(2990)] + [
            (10**15 - j * 10**13, 5) for j in range(10)
        ]
        df = spark.createDataFrame(rows, "id long, cnt int").repartition(8)
        n_part = 16
        kw = dict(id_col="id", count_col="cnt", capacity=64,
                  partitions=n_part)
        ctx = {}
        out = sorted(
            (r.id, r.tok_offset, r.first_chunk, r.last_chunk)
            for r in run("text.pack", spark, [df], _context=ctx,
                         **kw).collect()
        )
        assert out == _pack_reference(rows, 64)
        buckets = ctx["_pack_bucket_rows"]
        assert len(buckets) > 1
        assert max(buckets.values()) * n_part <= 4 * 3000
        # dense ids must NOT trigger the extra rebalance pass (one
        # bucket per width stripe already)
        ctx2 = {}
        dense = spark.createDataFrame(
            [(i, (i * 7) % 20 + 1) for i in range(3000)], "id long, cnt int"
        )
        run("text.pack", spark, [dense], _context=ctx2, **kw).collect()
        assert max(ctx2["_pack_bucket_rows"].values()) * n_part <= 4 * 3000

    def test_pack_bucket_rows_namespaced_by_step(self, spark):
        # two pack steps in one pipeline keep DISTINCT planner
        # telemetry under _pack_bucket_rows:<step> (ADVICE r4: the bare
        # key is last-writer-wins)
        from ssis_to_pyspark_agent_spark.plans import Pipeline, run_pipeline

        df = spark.createDataFrame(
            [(i, (i * 7) % 20 + 1) for i in range(200)], "id long, cnt int"
        )
        p = (
            Pipeline("twopacks")
            .step("src", "source.dataframe", df=df)
            .step("p1", "text.pack", "src", id_col="id", count_col="cnt",
                  capacity=64, partitions=4)
            .step("p2", "text.pack", "src", id_col="id", count_col="cnt",
                  capacity=64, partitions=8)
        )
        res = run_pipeline(spark, p)
        res.df("p1").collect(), res.df("p2").collect()
        h1 = res.context["_pack_bucket_rows:p1"]
        h2 = res.context["_pack_bucket_rows:p2"]
        assert sum(h1.values()) == 200 and sum(h2.values()) == 200
        assert len(h2) > len(h1)  # 8 vs 4 partitions: distinct, not clobbered
        assert res.context["_pack_bucket_rows"] in (h1, h2)

    def test_pack_rebalance_multiple_clusters(self, spark):
        # several dense clusters overfull at once: the level-wise
        # planner must histogram ALL of them in one aggregate per level
        # and still produce the global prefix-sum offsets
        rows = []
        for c, start in enumerate([0, 10**14, 5 * 10**14]):
            rows += [(start + i, (i * 11) % 15 + 1) for i in range(1000)]
        df = spark.createDataFrame(rows, "id long, cnt int").repartition(8)
        kw = dict(id_col="id", count_col="cnt", capacity=64, partitions=12)
        ctx = {}
        out = sorted(
            (r.id, r.tok_offset, r.first_chunk, r.last_chunk)
            for r in run("text.pack", spark, [df], _context=ctx,
                         **kw).collect()
        )
        assert out == _pack_reference(rows, 64)
        buckets = ctx["_pack_bucket_rows"]
        assert max(buckets.values()) * 12 <= 4 * 3000

    def test_classify_logreg_ascii_whitespace_only(self, spark):
        # U+00A0 (non-breaking space) is NOT a token separator for the
        # engine's _words (Java \s) or the DuckDB oracle (RE2 \s) — the
        # logreg tokenizer must agree, not follow Python str.split()
        import hashlib

        df = spark.createDataFrame(
            [(1, "aaa bbb"), (2, "aaa bbb")], "id long, text string"
        )
        out = {r.id: r for r in run(
            "text.classify", spark, [df], text_col="text",
            model="logreg", hash_dim=8, labels=["x", "y"]).collect()}

        def _md5i(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def logit(tokens, lab):
            w = {d: _md5i(f"lrw:{lab}:{d}") % 2001 - 1000 for d in range(8)}
            return sum(w[_md5i(t) % 8] for t in tokens)

        # doc 1 is ONE token; doc 2 is two
        for i, toks in ((1, ["aaa bbb"]), (2, ["aaa", "bbb"])):
            lx, ly = logit(toks, "x"), logit(toks, "y")
            assert out[i].cls_score == float(max(lx, ly))
            assert out[i].cls_label == ("x" if lx >= ly else "y")

    def test_ngram_novelty_train_text_col(self, spark):
        # a train corpus with neither the id column nor the text column
        # name of the main input — train_text_col selects its text, and
        # no id is read from it
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "x y z")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [("a b q",), ("a b r",)], "corpus string"
        )
        out = {r.doc_id: r for r in run(
            "text.ngram_novelty", spark, [df, train], id_col="doc_id",
            text_col="text", train_text_col="corpus", n=2).collect()}
        # train counts: ab=2, bq=1, br=1. doc1 grams ab(2), bc(0):
        # rare=1, mean=1.0; doc2 all OOV: rare=2, mean=0.0
        assert (out[1].n_ngrams, out[1].rare_ngrams) == (2, 1)
        assert out[1].mean_ngram_freq == 1.0
        assert (out[2].n_ngrams, out[2].rare_ngrams) == (2, 2)
        assert out[2].mean_ngram_freq == 0.0

    def test_ngram_novelty_hapax_prune_exact(self, spark):
        # self-trained: the count table drops its hapax tail but every
        # output must match a no-prune external-train run on the same
        # corpus (missing-from-table => corpus count exactly 1)
        import random
        rng = random.Random(11)
        rows = [
            (i, " ".join(f"w{rng.randrange(60)}" for _ in range(30)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            (r.doc_id, r.n_ngrams, r.rare_ngrams, r.mean_ngram_freq)
            for r in run("text.ngram_novelty", spark, [df],
                         id_col="doc_id", text_col="text", n=3).collect()
        )
        b = sorted(
            (r.doc_id, r.n_ngrams, r.rare_ngrams, r.mean_ngram_freq)
            for r in run("text.ngram_novelty", spark, [df, df.select("text")],
                         id_col="doc_id", text_col="text", n=3,
                         train_text_col="text").collect()
        )
        assert a == b

    def test_lm_score_hand_computed(self, spark):
        from ssis_to_pyspark_agent_spark.operators.text import (
            LM_ILOG, LM_QGRID, LM_SCALE,
        )
        # self-trained bigram LM, add-one smoothing:
        # corpus grams: (a,b)x3, (b,a)x1, (b,c)x1
        # ctx totals: a->3, b->2; V = |{a, b, c, x}| = 4 (vocab size)
        # (a,b): p=(3+1)/(3+4) -> q=floor(2048*4/7)=1170
        # (b,a): p=(1+1)/(2+4) -> q=floor(2048*2/6)=682
        # (b,c): same as (b,a): q=682
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in run(
            "text.lm_score", spark, [df], id_col="doc_id",
            text_col="text", n=2).collect()}
        q_ab = (4 * LM_QGRID) // 7
        q_ba = (2 * LM_QGRID) // 6
        assert (out[1].lm_ngrams, out[1].lm_oov) == (3, 0)
        assert out[1].lm_bits_fp == 2 * LM_ILOG[q_ab - 1] + LM_ILOG[q_ba - 1]
        assert out[1].lm_bpt == out[1].lm_bits_fp / (LM_SCALE * 3.0)
        assert (out[2].lm_ngrams, out[2].lm_oov) == (2, 0)
        assert out[2].lm_bits_fp == LM_ILOG[q_ab - 1] + LM_ILOG[q_ba - 1]
        assert (out[3].lm_ngrams, out[3].lm_oov, out[3].lm_bits_fp) == (0, 0, 0)
        assert out[3].lm_bpt is None
        # external train = doc1 only: counts (a,b)=2, (b,a)=1; ctx a->2,
        # b->1; V=|{a,b}|=2. doc2: (a,b) q=floor(2048*3/4)=1536; (b,c)
        # OOV c=0, q=floor(2048*1/3)=682
        out2 = {r.doc_id: r for r in run(
            "text.lm_score", spark, [df, df.filter("doc_id = 1")],
            id_col="doc_id", text_col="text", n=2).collect()}
        assert (out2[2].lm_ngrams, out2[2].lm_oov) == (2, 1)
        assert out2[2].lm_bits_fp == (
            LM_ILOG[(3 * LM_QGRID) // 4 - 1] + LM_ILOG[LM_QGRID // 3 - 1]
        )

    def test_lm_score_hapax_prune_exact(self, spark):
        # self-trained prunes hapax rows from BOTH the gram and context
        # tables; outputs must match the no-prune external-train run on
        # the same corpus (missing => count exactly 1)
        import random
        rng = random.Random(13)
        rows = [
            (i, " ".join(f"w{rng.randrange(80)}" for _ in range(25)))
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            (r.doc_id, r.lm_ngrams, r.lm_oov, r.lm_bits_fp)
            for r in run("text.lm_score", spark, [df],
                         id_col="doc_id", text_col="text", n=2).collect()
        )
        b = sorted(
            (r.doc_id, r.lm_ngrams, r.lm_oov, r.lm_bits_fp)
            for r in run("text.lm_score", spark, [df, df.select("text")],
                         id_col="doc_id", text_col="text", n=2).collect()
        )
        assert a == b
        assert all(r[2] == 0 for r in a)  # self-corpus: no OOV possible

    def test_lm_score_trigram_self_equals_external(self, spark):
        """n=3 takes the NON-folded vocab branch (contexts are bigram
        hashes, so V can't come from ctx_tab) — the self-trained
        quantization-floor prune must still match the un-pruned
        external-train plan on the same corpus exactly."""
        import random
        rng = random.Random(29)
        rows = [
            (i, " ".join(f"w{rng.randrange(50)}" for _ in range(20)))
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            (r.doc_id, r.lm_ngrams, r.lm_oov, r.lm_bits_fp)
            for r in run("text.lm_score", spark, [df],
                         id_col="doc_id", text_col="text", n=3).collect()
        )
        b = sorted(
            (r.doc_id, r.lm_ngrams, r.lm_oov, r.lm_bits_fp)
            for r in run("text.lm_score", spark, [df, df.select("text")],
                         id_col="doc_id", text_col="text", n=3).collect()
        )
        assert a == b and all(r[2] == 0 for r in a)

    def test_lm_score_empty_docs_not_in_vocab(self, spark):
        """Round-9 folded vocabulary (V = |ctx| with the extended final
        position): empty and whitespace-only docs split to [''] and must
        NOT add a token to V, exactly like the old vocab pass's
        _w != '' filter. V here is |{a, b}| = 2: grams (a,b)x2, (b,a)x1;
        ctx totals a->2, b->1."""
        from ssis_to_pyspark_agent_spark.operators.text import (
            LM_ILOG, LM_QGRID,
        )

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, ""), (3, "   "), (4, None)],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in run(
            "text.lm_score", spark, [df], id_col="doc_id",
            text_col="text", n=2).collect()}
        q_ab = (3 * LM_QGRID) // 4   # (2+1)*2048 div (2+2)
        q_ba = (2 * LM_QGRID) // 3   # (1+1)*2048 div (1+2)
        assert out[1].lm_bits_fp == 2 * LM_ILOG[q_ab - 1] + LM_ILOG[q_ba - 1]
        for d in (2, 3, 4):
            assert (out[d].lm_ngrams, out[d].lm_bits_fp) == (0, 0)

    def test_lm_score_config_validation(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="n must be >= 2"):
            run("text.lm_score", spark, [df], id_col="doc_id",
                text_col="text", n=1)

    def test_lm_score_pinned_values(self, spark):
        # self-trained and external-train values on a 60-doc corpus,
        # pinned per doc suffix (doc_id % 7): (lm_ngrams, lm_oov,
        # lm_bits_fp). The (c, cc, V) arithmetic is exact, so any plan
        # change must reproduce these to the bit.
        docs = spark.createDataFrame(
            [(i, "the cat sat on the mat and the cat ran " + str(i % 7))
             for i in range(60)],
            "doc_id long, text string",
        )
        train = docs.filter("doc_id % 3 = 0")
        self_bits = [9538] * 4 + [9690] * 3
        ext_bits = [12418] * 4 + [12843] + [12418] * 2
        for inputs, bits in (([docs], self_bits), ([docs, train], ext_bits)):
            out = run("text.lm_score", spark, inputs, id_col="doc_id",
                      text_col="text")
            got = sorted((r.doc_id, r.lm_ngrams, r.lm_oov, r.lm_bits_fp)
                         for r in out.collect())
            assert got == [(i, 10, 0, bits[i % 7]) for i in range(60)]

    def test_dedup_url_canonicalization(self, spark):
        df = spark.createDataFrame(
            [
                (1, "HTTPS://WWW.Example.COM:443/A/b?b=2&utm_source=x&a=1#frag"),
                (2, "https://example.com/A/b?a=1&b=2"),
                (3, "http://example.com:80/A/b?fbclid=zz&a=1&b=2"),
                (4, "https://example.com/A/B"),          # path case differs
                (5, "relative/path?utm_medium=m&k=v"),   # no scheme head
                (6, None),
                (7, "  https://example.com/A/b?b=2&a=1  "),  # trim
            ],
            "id long, url string",
        )
        out = {r.id: r.url_canon for r in run(
            "dedup.url", spark, [df], url_col="url", emit="canon").collect()}
        assert out[1] == "https://example.com/A/b?a=1&b=2"
        assert out[2] == "https://example.com/A/b?a=1&b=2"
        assert out[3] == "http://example.com/A/b?a=1&b=2"
        assert out[4] == "https://example.com/A/B"
        assert out[5] == "relative/path?k=v"
        assert out[6] is None
        assert out[7] == "https://example.com/A/b?a=1&b=2"

    def test_dedup_url_tracking_params_case_insensitive(self, spark):
        # 'UTM_SOURCE=' / 'Fbclid=' must not survive canonicalization
        # (ADVICE round 5): the param NAME is lowercased before the
        # strip test; param VALUES and path stay case-significant.
        # Mixed-case configured names must match too.
        df = spark.createDataFrame(
            [
                (1, "https://x.com/p?UTM_SOURCE=feed&a=1"),
                (2, "https://x.com/p?Fbclid=abc&a=1"),
                (3, "https://x.com/p?a=1"),
                (4, "https://x.com/p?A=1"),  # name 'A' is NOT stripped
            ],
            "id long, url string",
        )
        out = {r.id: r.url_canon for r in run(
            "dedup.url", spark, [df], url_col="url", emit="canon").collect()}
        assert out[1] == "https://x.com/p?a=1"
        assert out[2] == "https://x.com/p?a=1"
        assert out[3] == "https://x.com/p?a=1"
        assert out[4] == "https://x.com/p?A=1"
        custom = {r.id: r.url_canon for r in run(
            "dedup.url", spark, [df], url_col="url", emit="canon",
            strip_params=("UTM_SOURCE", "FBCLID")).collect()}
        assert custom[1] == "https://x.com/p?a=1"
        assert custom[2] == "https://x.com/p?a=1"

    def test_dedup_url_duplicate_ids_fallback(self, spark):
        # the fast id-join survivor plan assumes unique ids; with
        # assume_unique_ids=False the canon-key join-back stays
        # row-correct when an id repeats across groups (review finding,
        # round 6: id 5 is the min of urlB but must NOT be kept for its
        # urlA row)
        df = spark.createDataFrame(
            [(5, "https://a.com/x"), (3, "https://a.com/x"),
             (5, "https://b.com/y")],
            "id long, url string",
        )
        flags = run("dedup.url", spark, [df], url_col="url", id_col="id",
                    emit="flag", assume_unique_ids=False)
        rows = sorted((r.id, r.url_canon, r.url_keep)
                      for r in flags.collect())
        assert rows == [
            (3, "https://a.com/x", True),
            (5, "https://a.com/x", False),
            (5, "https://b.com/y", True),
        ]
        kept = sorted((r.id, r.url_canon) for r in run(
            "dedup.url", spark, [df], url_col="url", id_col="id",
            assume_unique_ids=False).collect())
        assert kept == [(3, "https://a.com/x"), (5, "https://b.com/y")]

    def test_dedup_url_keep_fragment(self, spark):
        # strip_fragment=False must genuinely PRESERVE the fragment —
        # the first cut dropped it in both modes because path/query
        # extraction stopped at '#' unconditionally (review finding)
        df = spark.createDataFrame(
            [(1, "https://x.com/p?b=2&a=1#sec1"),
             (2, "https://x.com/p#sec2"),
             (3, "https://x.com/p#sec2")],
            "id long, url string",
        )
        out = {r.id: r.url_canon for r in run(
            "dedup.url", spark, [df], url_col="url", emit="canon",
            strip_fragment=False).collect()}
        assert out[1] == "https://x.com/p?a=1&b=2#sec1"
        assert out[2] == "https://x.com/p#sec2"
        kept = sorted(r.id for r in run(
            "dedup.url", spark, [df], url_col="url", id_col="id",
            strip_fragment=False).collect())
        assert kept == [1, 2]  # sec1 vs sec2 stay distinct; 2,3 collide

    def test_dedup_url_dedup_and_flag(self, spark):
        df = spark.createDataFrame(
            [
                (10, "https://example.com/x?utm_source=a"),
                (3, "https://WWW.example.com/x"),
                (5, "https://example.com/y"),
                (8, None),
                (9, None),
            ],
            "id long, url string",
        )
        kept = sorted(r.id for r in run(
            "dedup.url", spark, [df], url_col="url", id_col="id").collect())
        # canon group {10,3} -> keep 3; y -> 5; NULLs group together -> 8
        assert kept == [3, 5, 8]
        flags = {r.id: r.url_keep for r in run(
            "dedup.url", spark, [df], url_col="url", id_col="id",
            emit="flag").collect()}
        assert flags == {10: False, 3: True, 5: True, 8: True, 9: False}
        with pytest.raises(ValueError, match="requires id_col"):
            run("dedup.url", spark, [df], url_col="url")
        with pytest.raises(ValueError, match="emit must be"):
            run("dedup.url", spark, [df], url_col="url", emit="bogus")

    def test_filter_bloom_flag_keep_drop(self, spark):
        corpus = spark.createDataFrame(
            [(i, f"key{i}") for i in range(200)] + [(200, None)],
            "id long, k string",
        )
        block = spark.createDataFrame(
            [(f"key{i}",) for i in range(0, 200, 20)], "k string"
        )
        out = run("filter.bloom", spark, [corpus, block], key_col="k")
        hits = sorted(r.id for r in out.filter("bloom_hit").collect())
        # default m=2^20 / k=7 with a 10-key blocklist: FP odds ~0, so
        # the hit set is exactly the true membership
        assert hits == list(range(0, 200, 20))
        assert out.filter("id = 200").first().bloom_hit is False  # NULL key
        kept = run("filter.bloom", spark, [corpus, block], key_col="k",
                   emit="keep").count()
        dropped = run("filter.bloom", spark, [corpus, block], key_col="k",
                      emit="drop").count()
        assert kept == 10 and dropped == 191
        # drop keeps input columns only (no flag, no temp columns)
        assert run(
            "filter.bloom", spark, [corpus, block], key_col="k",
            emit="drop").columns == corpus.columns
        # reserved-column / flag-collision guards (ADVICE round 7)
        with pytest.raises(ValueError, match="reserved column"):
            run("filter.bloom", spark,
                [corpus.withColumn("_bloom_bits", F.lit(1)), block],
                key_col="k")
        with pytest.raises(ValueError, match="already exists"):
            run("filter.bloom", spark,
                [corpus.withColumn("bloom_hit", F.lit(True)), block],
                key_col="k")
        # ...but a pre-existing flag name is fine under drop/keep and
        # when flag_col picks a free name
        assert run("filter.bloom", spark,
                   [corpus.withColumn("bloom_hit", F.lit(True)), block],
                   key_col="k", emit="drop").count() == 191
        assert "is_blocked" in run(
            "filter.bloom", spark,
            [corpus.withColumn("bloom_hit", F.lit(True)), block],
            key_col="k", flag_col="is_blocked").columns

    def test_filter_bloom_false_positives_deterministic(self, spark):
        # tiny bitmap forces false positives; Bloom's one-sided contract
        # must hold (no false negatives) and the FP set must be
        # reproducible run-to-run (pure md5 arithmetic, no RNG) — the
        # property that makes the q30 'bloom' leg oracle-exact
        corpus = spark.createDataFrame(
            [(i, f"key{i}") for i in range(1000)], "id long, k string"
        )
        block = spark.createDataFrame(
            [(f"key{i}",) for i in range(0, 1000, 50)], "k string"
        )
        cfg = dict(key_col="k", m_bits=256, k=3)
        a = sorted(r.id for r in run(
            "filter.bloom", spark, [corpus, block], **cfg)
            .filter("bloom_hit").collect())
        b = sorted(r.id for r in run(
            "filter.bloom", spark, [corpus, block], **cfg)
            .filter("bloom_hit").collect())
        assert a == b
        assert set(range(0, 1000, 50)) <= set(a)  # no false negatives

    def test_filter_bloom_xxhash64_fast_path(self, spark):
        # the non-oracle production hash: same membership semantics at
        # FP-free sizes, just different positions
        corpus = spark.createDataFrame(
            [(i, f"key{i}") for i in range(200)], "id long, k string"
        )
        block = spark.createDataFrame(
            [(f"key{i}",) for i in range(0, 200, 20)], "k string"
        )
        hits = sorted(r.id for r in run(
            "filter.bloom", spark, [corpus, block], key_col="k",
            hash_fn="xxhash64").filter("bloom_hit").collect())
        assert hits == list(range(0, 200, 20))

    def test_filter_bloom_config_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, k string")
        with pytest.raises(ValueError, match="emit must be"):
            run("filter.bloom", spark, [df, df], key_col="k", emit="x")
        with pytest.raises(ValueError, match="m_bits"):
            run("filter.bloom", spark, [df, df], key_col="k", m_bits=100)
        with pytest.raises(ValueError, match="k must be"):
            run("filter.bloom", spark, [df, df], key_col="k", k=0)
        with pytest.raises(ValueError, match="hash_fn"):
            run("filter.bloom", spark, [df, df], key_col="k", hash_fn="z")

    def test_dedup_url_temp_column_collision_raises(self, spark):
        # the stepwise canonicalization lands in fixed _uc_* temp
        # columns; an input already carrying one would be silently
        # overwritten then dropped (ADVICE round 6) — must raise
        df = spark.createDataFrame(
            [(1, "https://example.com/x", "boom")],
            "id long, url string, _uc_h string",
        )
        with pytest.raises(ValueError, match="_uc_h"):
            run("dedup.url", spark, [df], url_col="url", emit="canon")

    def test_dedup_url_flag_rerun_over_flagged_output(self, spark):
        # re-running emit='flag' over previously flagged output must not
        # die on a duplicate keep_col at the marks join (ADVICE round
        # 6): the stale flag column is dropped and recomputed, matching
        # the pre-round-6 withColumn overwrite semantics
        df = spark.createDataFrame(
            [
                (10, "https://example.com/x?utm_source=a"),
                (3, "https://WWW.example.com/x"),
                (5, "https://example.com/y"),
            ],
            "id long, url string",
        )
        once = run("dedup.url", spark, [df], url_col="url", id_col="id",
                   emit="flag").drop("url_canon")
        twice = {r.id: r.url_keep for r in run(
            "dedup.url", spark, [once], url_col="url", id_col="id",
            emit="flag").collect()}
        assert twice == {10: False, 3: True, 5: True}
        # and the fallback (duplicate-id) path overwrites via withColumn
        again = {r.id: r.url_keep for r in run(
            "dedup.url", spark, [once], url_col="url", id_col="id",
            emit="flag", assume_unique_ids=False).collect()}
        assert again == twice

    def test_dedup_spans_against_reference(self, spark):
        # second input = benchmark corpus -> span-level decontamination:
        # doc 1 embeds the benchmark phrase "q1 q2 q3 q4" (grams at pos
        # 2,3 with n=3 -> ONE span [2,7)); doc 2 is clean even though it
        # repeats ITSELF (within-corpus counts must be ignored here)
        df = spark.createDataFrame(
            [(1, "a b q1 q2 q3 q4 z w"), (2, "r s t r s t r s t")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "header q1 q2 q3 q4 footer")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in run(
            "dedup.spans", spark, [df, bench], id_col="doc_id",
            text_col="text", n=3, emit_clean=True).collect()}
        # benchmark grams of len 3 include "q1 q2 q3" and "q2 q3 q4":
        # doc1 flagged pos {2,3} -> one merged span [2, 6) = exactly the
        # 4 benchmark tokens
        assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 4
        assert out[1].text_clean == "a b z w"
        assert out[2].n_dup_spans == 0
        assert out[2].text_clean == "r s t r s t r s t"

    def test_dedup_spans_matches_bruteforce(self, spark):
        # random tiny-vocab corpus (heavy accidental gram repeats, empty
        # and sub-n docs included) vs a per-doc python reference of the
        # same span algebra: corpus gram counts -> flagged positions ->
        # merged-span count / covered tokens / cleaned text
        import random
        from collections import Counter

        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(6)]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randrange(0, 25))))
                for i in range(40)]
        n = 3
        grams: Counter = Counter()
        words = {}
        for i, t in rows:
            w = t.split(" ")
            words[i] = w
            grams.update(tuple(w[j:j + n]) for j in range(len(w) - n + 1))
        expect = {}
        for i, w in words.items():
            flagged = [j for j in range(max(len(w) - n + 1, 0))
                       if grams[tuple(w[j:j + n])] >= 2]
            spans = covered = 0
            prev = None
            cov: set = set()
            for j in flagged:
                if prev is None or j - prev > n:
                    spans += 1
                covered += n if prev is None else min(j - prev, n)
                cov.update(range(j, j + n))
                prev = j
            clean = " ".join(t for k, t in enumerate(w) if k not in cov)
            expect[i] = (spans, covered, clean)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in run(
            "dedup.spans", spark, [df], id_col="doc_id", text_col="text",
            n=n, emit_clean=True).collect()}
        got = {i: (out[i].n_dup_spans, out[i].dup_tokens, out[i].text_clean)
               for i, _ in rows}
        assert got == expect

    def test_repetition_fold_matches_explode(self, spark):
        # the sorted-run fold must equal the docstring's definitions,
        # computed here by exploding every doc's grams into a Counter,
        # on a corpus with heavy, varied repetition (including
        # empty-ish, tiny and multi-line docs)
        import random
        import re
        from collections import Counter

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(12)]
        rows_ = [(i, " ".join(rng.choice(vocab)
                              for _ in range(rng.randrange(0, 40))))
                 for i in range(60)]
        rows_ += [(100, ""), (101, "solo"), (102, "a a a a a a"),
                  (103, "x y\nx y\nz\nx y"), (104, "\n\nA b\n")]
        df = spark.createDataFrame(rows_, "doc_id long, text string")
        top_ns, dup_ns = [1, 2, 3], [2, 5]
        out = run("text.repetition", spark, [df], text_col="text",
                  top_ns=top_ns, dup_ns=dup_ns)

        def expect(text):
            lines = text.split("\n")
            chars = sum(map(len, lines))
            got = {
                "dup_line_frac":
                    (len(lines) - len(set(lines))) / max(len(lines), 1),
                "dup_line_char_frac":
                    (chars - sum(map(len, set(lines)))) / max(chars, 1),
            }
            norm = re.sub(r"\s+", " ", text.strip(" ").lower())
            words, den = norm.split(" "), max(len(norm), 1)
            for n in sorted(set(top_ns) | set(dup_ns)):
                grams = Counter(" ".join(words[i:i + n])
                                for i in range(max(len(words) - n + 1, 1)))
                mass = {g: c * len(g) for g, c in grams.items()}
                if n in top_ns:
                    got[f"top_{n}gram_char_frac"] = max(mass.values()) / den
                if n in dup_ns:
                    got[f"dup_{n}gram_char_frac"] = sum(
                        m for g, m in mass.items() if grams[g] >= 2) / den
            return got

        cols = list(expect(""))
        got = {r.doc_id: {c: r[c] for c in cols} for r in out.collect()}
        assert got == {i: expect(t) for i, t in rows_}


def _png_bytes(w: int, h: int) -> bytes:
    """A real (if pixel-less) PNG header: signature + valid IHDR chunk."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)))


def _jpeg_bytes(w: int, h: int) -> bytes:
    """SOI + APP0(JFIF) + SOF0 — the marker walk a real JPEG needs."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00")
    return b"\xff\xd8" + app0 + sof0


def _wav_bytes(seconds: float, rate: int = 8000) -> bytes:
    """A real WAV file via the stdlib wave module (mono 8-bit PCM)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(rate)
        wf.writeframes(b"\x80" * int(rate * seconds))
    return buf.getvalue()


class TestMultimodal:
    def test_attach_meta_and_decode_stub(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"\xff\xd8\xff\xe0fakejpeg")),
             (2, bytearray(b"\x89PNG\r\nfakepng"))],
            "id int, payload binary",
        )
        meta = run("media.attach_meta", spark, [df], binary_col="payload")
        mimes = {r.id: r.media.mime for r in meta.collect()}
        assert mimes == {1: "image/jpeg", 2: "image/png"}
        dec = run("media.decode", spark, [meta], binary_col="payload",
                  decoder="stub")
        got = dec.collect()
        assert all(r.decode_ok for r in got)
        assert all(64 <= r.decoded_width < 256 for r in got)

    def test_header_decoder_real_files(self, spark):
        """Default decoder='headers' extracts TRUE dimensions/duration from
        real container headers (stdlib-built PNG/JPEG/GIF/WAV), and returns
        ok=False (not fabricated values) for junk."""
        import struct

        gif = (b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00")
        df = spark.createDataFrame(
            [(1, bytearray(_png_bytes(640, 480))),
             (2, bytearray(_jpeg_bytes(123, 77))),
             (3, bytearray(gif)),
             (4, bytearray(_wav_bytes(2.5))),
             (5, bytearray(b"not a media file at all")),
             (6, None)],
            "id int, payload binary",
        )
        got = {r.id: r for r in
               run("media.decode", spark, [df], binary_col="payload").collect()}
        assert (got[1].decoded_format, got[1].decoded_width,
                got[1].decoded_height) == ("png", 640, 480)
        assert (got[2].decoded_format, got[2].decoded_width,
                got[2].decoded_height) == ("jpeg", 123, 77)
        assert (got[3].decoded_format, got[3].decoded_width,
                got[3].decoded_height) == ("gif", 320, 200)
        assert got[4].decoded_format == "wav"
        assert got[4].decoded_duration_ms == 2500
        assert got[4].decoded_width is None
        for bad in (5, 6):
            assert got[bad].decode_ok is False
            assert got[bad].decoded_format is None
            assert got[bad].decoded_width is None

    def test_header_decoder_matches_local_parse(self, spark):
        """parse_media_header is the same function driver-side and in the
        Arrow batch — spot-check the direct call too (truncated headers
        must not raise)."""
        from ssis_to_pyspark_agent_spark.operators.multimodal import (
            parse_media_header,
        )

        assert parse_media_header(_png_bytes(1, 1))["width"] == 1
        assert parse_media_header(_png_bytes(65535, 2)) == {
            "format": "png", "width": 65535, "height": 2,
            "duration_ms": None, "ok": True,
        }
        for junk in (b"", b"\x89PNG", b"\xff\xd8\xff", b"RIFF1234WAVE",
                     _png_bytes(9, 9)[:20]):
            assert parse_media_header(junk)["ok"] is False

    def test_features_deterministic(self, spark):
        df = spark.createDataFrame([(1, bytearray(b"abc"))], "id int, payload binary")
        a = run("media.features", spark, [df], binary_col="payload", dim=4).collect()
        b = run("media.features", spark, [df], binary_col="payload", dim=4).collect()
        assert a[0].features == b[0].features and len(a[0].features) == 4


def _png_encode(arr, color: int, ftypes: list[int], plte: bytes | None = None,
                trns: bytes | None = None, depth: int = 8,
                interlace: int = 0) -> bytes:
    """Test-local PNG ENCODER (forward filter pass + real chunks/CRCs) —
    the inverse of decode_png_pixels, written from the spec's subtract
    side so an agreeing round-trip exercises both directions. ``arr`` is
    the raw scanline byte matrix (h, w*channels) uint8; ``ftypes`` cycles
    per row."""
    import struct
    import zlib

    import numpy as np

    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    h, stride = arr.shape
    w = stride // n_ch

    def chunk(t: bytes, d: bytes) -> bytes:
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    filtered = bytearray()
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        cur = arr[y].astype(np.int64)
        ft = ftypes[y % len(ftypes)]
        left = np.concatenate([np.zeros(n_ch, np.int64), cur[:-n_ch]])
        ulft = np.concatenate([np.zeros(n_ch, np.int64), prev[:-n_ch]])
        if ft == 0:
            f = cur
        elif ft == 1:
            f = (cur - left) & 0xFF
        elif ft == 2:
            f = (cur - prev) & 0xFF
        elif ft == 3:
            f = (cur - ((left + prev) >> 1)) & 0xFF
        else:
            p = left + prev - ulft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ulft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ulft))
            f = (cur - pred) & 0xFF
        filtered.append(ft)
        filtered.extend(f.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    body = chunk(b"IHDR", ihdr)
    if plte is not None:
        body += chunk(b"PLTE", plte)
    if trns is not None:
        body += chunk(b"tRNS", trns)
    body += chunk(b"IDAT", zlib.compress(bytes(filtered)))
    body += chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def _gif_lzw_pack(indices: bytes, min_code: int) -> bytes:
    """Test-local GIF LZW ENCODER: greedy longest-match coding, then a
    width-packing pass that REPLAYS the decoder's table bookkeeping to
    pick each code's bit width — decoder-compatible by construction,
    written from the spec's encode side so a round-trip checks both
    directions."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    codes = [clear]
    w = b""
    for ch in indices:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        else:
            codes.append(table[w])
            if next_code < 4096:
                table[wc] = next_code
                next_code += 1
            w = bytes([ch])
    if w:
        codes.append(table[w])
    codes.append(end)
    # width per code = decoder's view of the table when READING it
    bits: list[int] = []
    width, tlen, started = min_code + 1, clear + 2, False
    for code in codes:
        for b in range(width):
            bits.append((code >> b) & 1)
        if code == clear:
            width, tlen, started = min_code + 1, clear + 2, False
        elif code != end:
            if started and tlen < 4096:
                tlen += 1
            started = True
            if tlen == (1 << width) and width < 12:
                width += 1
    out = bytearray()
    for i in range(0, len(bits), 8):
        out.append(sum(bit << j for j, bit in enumerate(bits[i:i + 8])))
    return bytes(out)


def _gif_encode(indices: bytes, w: int, h: int, palette: bytes,
                min_code: int = 2, interlace: bool = False,
                transparent: int | None = None, frames: int = 1) -> bytes:
    """Test-local GIF89a writer around :func:`_gif_lzw_pack`."""
    import struct

    n_colors = len(palette) // 3
    size_bits = max(0, (n_colors - 1).bit_length() - 1)
    pal = palette + b"\x00" * 3 * ((2 << size_bits) - n_colors)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_bits, 0, 0) + pal
    for _ in range(frames):
        if transparent is not None:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
        idx = indices
        if interlace:
            order = (list(range(0, h, 8)) + list(range(4, h, 8))
                     + list(range(2, h, 4)) + list(range(1, h, 2)))
            idx = b"".join(indices[r * w:(r + 1) * w] for r in order)
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                           0x40 if interlace else 0)
        out += bytes([min_code])
        data = _gif_lzw_pack(idx, min_code)
        for i in range(0, len(data), 255):
            blk = data[i:i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.put(1, 1)  # pad with 1-bits per spec


def _jpeg_cat(v: int):
    """(category, appended bits) for a DC diff / AC coefficient."""
    s = abs(v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _jpeg_encode(img, sampling=(1, 1), quant=None, restart=0):
    """Test-local BASELINE JPEG ENCODER (spec forward side): RGB->YCbCr,
    chroma mean-downsample, edge-pad to the MCU canvas, float FDCT,
    quantize, canonical per-image Huffman tables (every symbol at 8
    bits), MCU-interleaved entropy coding with byte stuffing and
    optional restart markers. Returns (jpeg_bytes, grids, Q, layout) so
    tests can compute the EXPECTED decode independently from the
    integer coefficients."""
    import struct

    import numpy as np

    from ssis_to_pyspark_agent_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_idct_matrix,
    )

    A = _jpeg_idct_matrix()
    Q = (np.ones(64, np.int32) if quant is None
         else np.asarray(quant, np.int32))
    h, w = img.shape[:2]
    gray = img.ndim == 2
    if gray:
        comps = [(1, 1, 1)]
        planes = [img.astype(np.float64)]
    else:
        rf = img[..., 0].astype(np.float64)
        gf = img[..., 1].astype(np.float64)
        bf = img[..., 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = 128.0 - 0.168736 * rf - 0.331264 * gf + 0.5 * bf
        cr = 128.0 + 0.5 * rf - 0.418688 * gf - 0.081312 * bf
        hs, vs = sampling
        comps = [(1, hs, vs), (2, 1, 1), (3, 1, 1)]
        planes = [y]
        for c in (cb, cr):
            if (hs, vs) == (1, 1):
                planes.append(c)
            else:
                ph = -(-h // vs) * vs
                pw = -(-w // hs) * hs
                cp = np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge")
                planes.append(
                    cp.reshape(ph // vs, vs, pw // hs, hs).mean((1, 3)))
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    grids = []
    for (cid, hs, vs), plane in zip(comps, planes):
        th, tw = mcuy * vs * 8, mcux * hs * 8
        ph, pw = plane.shape
        plane = np.pad(np.round(plane),
                       ((0, th - ph), (0, tw - pw)), mode="edge")
        g = np.zeros((th // 8, tw // 8, 64), np.int32)
        for by in range(th // 8):
            for bx in range(tw // 8):
                blk = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                F = A @ blk @ A.T
                g[by, bx] = np.round(
                    F.reshape(64)[_JPEG_ZIGZAG] / Q[None, :]).astype(
                    np.int32)
        grids.append(g)

    def mcu_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                yield [(ci, grids[ci][my * vs + by, mx * hs + bx])
                       for ci, (cid, hs, vs) in enumerate(comps)
                       for by in range(vs) for bx in range(hs)], (my, mx)

    # pass 1: symbol histograms (one DC + one AC table for everything)
    dc_syms, ac_syms = set(), set()
    pred = [0] * len(comps)
    nmcu = 0
    for blocks, _ in mcu_blocks():
        if restart and nmcu and nmcu % restart == 0:
            pred = [0] * len(comps)
        for ci, zz in blocks:
            s, _ = _jpeg_cat(int(zz[0]) - pred[ci])
            pred[ci] = int(zz[0])
            dc_syms.add(s)
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms.add(0xF0)
                    run -= 16
                sz, _ = _jpeg_cat(v)
                ac_syms.add((run << 4) | sz)
                run = 0
            if run:
                ac_syms.add(0x00)
        nmcu += 1

    def table(symbols):
        vals = sorted(symbols)
        codes = {sym: i for i, sym in enumerate(vals)}  # 8-bit canonical
        bits = [0] * 16
        bits[7] = len(vals)
        return vals, codes, bits

    dc_vals, dc_codes, dc_bits = table(dc_syms)
    ac_vals, ac_codes, ac_bits = table(ac_syms)

    bw = _JpegBitWriter()
    pred = [0] * len(comps)
    nmcu = 0
    for blocks, _ in mcu_blocks():
        if restart and nmcu and nmcu % restart == 0:
            bw.flush()
            bw.buf += bytes([0xFF, 0xD0 + (nmcu // restart - 1) % 8])
            pred = [0] * len(comps)
        for ci, zz in blocks:
            s, extra = _jpeg_cat(int(zz[0]) - pred[ci])
            pred[ci] = int(zz[0])
            bw.put(dc_codes[s], 8)
            if s:
                bw.put(extra, s)
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.put(ac_codes[0xF0], 8)
                    run -= 16
                sz, extra = _jpeg_cat(v)
                bw.put(ac_codes[(run << 4) | sz], 8)
                bw.put(extra, sz)
                run = 0
            if run:
                bw.put(ac_codes[0x00], 8)
        nmcu += 1
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(q) for q in Q)
    nc = len(comps)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for cid, hs, vs in comps:
        out += bytes([cid, (hs << 4) | vs, 0])
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)),
                             (1, (ac_bits, ac_vals))):
        out += b"\xff\xc4" + struct.pack(
            ">H", 19 + len(vals)) + bytes([tc << 4]) + bytes(bits) + bytes(
            vals)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for cid, _, _ in comps:
        out += bytes([cid, 0x00])
    out += b"\x00\x3f\x00" + bytes(bw.buf) + b"\xff\xd9"
    layout = (comps, hmax, vmax, mcux, mcuy)
    return bytes(out), grids, Q, layout


def _jpeg_expected(grids, Q, layout, w, h):
    """INDEPENDENT reference decode from integer coefficients: direct
    double-loop IDCT (textbook formula, not the decoder's einsum),
    crop, replicated upsample, BT.601 conversion."""
    import math

    import numpy as np

    from ssis_to_pyspark_agent_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
    )

    comps, hmax, vmax, mcux, mcuy = layout
    cos = [[math.cos((2 * x + 1) * u * math.pi / 16)
            for u in range(8)] for x in range(8)]
    c = [1 / math.sqrt(2)] + [1.0] * 7
    planes = []
    for ci, (cid, hs, vs) in enumerate(comps):
        g = grids[ci]
        by, bx = g.shape[0], g.shape[1]
        full = np.zeros((by * 8, bx * 8), np.uint8)
        for yb in range(by):
            for xb in range(bx):
                F = np.zeros((8, 8))
                for k in range(64):
                    F.flat[_JPEG_ZIGZAG[k]] = g[yb, xb, k] * Q[k]
                for x in range(8):
                    for y in range(8):
                        acc = 0.0
                        for u in range(8):
                            for v in range(8):
                                acc += (c[u] * c[v] * F[u, v]
                                        * cos[x][u] * cos[y][v])
                        px = round(acc / 4 + 128)
                        full[yb * 8 + x, xb * 8 + y] = min(255, max(0, px))
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        full = full[:ch, :cw]
        if hs != hmax or vs != vmax:
            full = np.repeat(np.repeat(full, vmax // vs, axis=0),
                             hmax // hs, axis=1)
        planes.append(full[:h, :w].astype(np.float64))
    if len(planes) == 1:
        return planes[0].astype(np.uint8).tobytes(), 1
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    gch = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, gch, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes(), 3


class TestJpegPixelDecode:
    """decode_jpeg_pixels: a hand-derived DC-only fixture (markers,
    Huffman codes, bit packing and the flat-IDCT value all computed by
    hand from the spec), exact-match round-trips against an INDEPENDENT
    direct-formula IDCT over the encoder's integer coefficients
    (gray / 4:4:4 / 4:2:0, odd sizes, restart markers, ZRL), and loud
    failure on progressive/truncated/junk streams."""

    def _dec(self, b: bytes):
        from ssis_to_pyspark_agent_spark.operators.multimodal import (
            decode_jpeg_pixels,
        )
        return decode_jpeg_pixels(b)

    def test_hand_computed_dc_only(self):
        """8x8 grayscale, Q=all-1s, single DC coeff 80, custom 8-bit
        Huffman tables with one symbol each. Scan bits hand-packed:
        dc-code(8x0) + 80 as 7 bits (1010000) + eob-code(8x0) + 1-pad
        -> bytes 00 A0 01. IDCT of a lone F00=80 is flat 80/8 = 10;
        +128 level shift -> every pixel exactly 138."""
        import struct

        dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
        sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) \
            + bytes([1, 0x11, 0])
        dht_dc = (b"\xff\xc4" + struct.pack(">H", 20) + b"\x00"
                  + bytes([0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0])
                  + bytes([7]))
        dht_ac = (b"\xff\xc4" + struct.pack(">H", 20) + b"\x10"
                  + bytes([0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0])
                  + bytes([0x00]))
        sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00]) \
            + b"\x00\x3f\x00"
        jpg = (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
               + b"\x00\xa0\x01" + b"\xff\xd9")
        d = self._dec(jpg)
        assert d["ok"] and (d["width"], d["height"], d["channels"]) == (8, 8, 1)
        assert d["pixels"] == bytes([138]) * 64

    @pytest.mark.parametrize("shape,sampling,restart", [
        ((24, 17), None, 0),        # gray, odd width
        ((24, 17), None, 3),        # gray with restart markers
        ((16, 32, 3), (1, 1), 0),   # color 4:4:4
        ((20, 12, 3), (2, 2), 0),   # color 4:2:0, odd crop
        ((12, 20, 3), (2, 1), 2),   # color 4:2:2-ish + restarts
    ])
    def test_exact_vs_independent_idct(self, shape, sampling, restart):
        import numpy as np

        rng = np.random.RandomState(sum(shape))
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        # a non-trivial quant table exercises dequantization
        q = np.clip(np.arange(1, 65) // 8 + 1, 1, 12)
        jpg, grids, Q, layout = _jpeg_encode(
            img, sampling=sampling or (1, 1), quant=q, restart=restart)
        h, w = shape[:2]
        expect, ch = _jpeg_expected(grids, Q, layout, w, h)
        d = self._dec(jpg)
        assert d["ok"] and (d["width"], d["height"]) == (w, h)
        assert d["channels"] == ch
        assert d["pixels"] == expect

    def test_zrl_long_zero_runs(self):
        """A block whose only AC coefficient sits past two 16-zero runs
        forces ZRL symbols through the encoder AND decoder."""
        import numpy as np

        from ssis_to_pyspark_agent_spark.operators.multimodal import (
            _JPEG_ZIGZAG,
        )

        img = np.zeros((8, 8), np.uint8)
        jpg, grids, Q, layout = _jpeg_encode(img)
        # splice a coefficient at zigzag index 40 into the grid and
        # re-encode through the public encoder path instead: craft via
        # an image IS hard — so verify on the grid level that a
        # hand-set sparse grid round-trips
        grids[0][0, 0, 0] = -16
        grids[0][0, 0, 40] = 3
        jpg2 = _reencode_from_grids(grids, Q, layout, 8, 8)
        expect, _ = _jpeg_expected(grids, Q, layout, 8, 8)
        d = self._dec(jpg2)
        assert d["ok"] and d["pixels"] == expect

    def test_fail_loudly(self):
        import numpy as np

        img = np.zeros((8, 8), np.uint8)
        jpg, *_ = _jpeg_encode(img)
        assert self._dec(jpg[:-12])["ok"] is False     # truncated scan
        assert self._dec(b"\xff\xd8junk")["ok"] is False
        assert self._dec(b"")["ok"] is False
        prog = jpg.replace(b"\xff\xc0", b"\xff\xc2", 1)  # progressive
        assert self._dec(prog)["ok"] is False

    def test_spark_decoder_jpeg_mode(self, spark):
        import numpy as np

        rng = np.random.RandomState(2)
        img = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
        jpg, grids, Q, layout = _jpeg_encode(img, sampling=(2, 2))
        expect, _ = _jpeg_expected(grids, Q, layout, 16, 16)
        df = spark.createDataFrame(
            [(1, bytearray(jpg)), (2, bytearray(b"junk"))],
            "id int, payload binary",
        )
        got = {r.id: r for r in
               run("media.decode", spark, [df], binary_col="payload",
                   decoder="jpeg").collect()}
        assert got[1].decode_ok and got[1].decoded_channels == 3
        assert bytes(got[1].pixels) == expect
        assert got[2].decode_ok is False and got[2].pixels is None


def _reencode_from_grids(grids, Q, layout, w, h):
    """Entropy-encode pre-set coefficient grids (for sparse hand cases
    like the ZRL test) — same marker layout as _jpeg_encode."""
    import struct

    comps, hmax, vmax, mcux, mcuy = layout
    dc_syms, ac_syms = set(), set()

    def blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (cid, hs, vs) in enumerate(comps):
                    for by in range(vs):
                        for bx in range(hs):
                            yield ci, grids[ci][my * vs + by, mx * hs + bx]

    pred = [0] * len(comps)
    for ci, zz in blocks():
        s, _ = _jpeg_cat(int(zz[0]) - pred[ci])
        pred[ci] = int(zz[0])
        dc_syms.add(s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.add(0xF0)
                run -= 16
            sz, _ = _jpeg_cat(v)
            ac_syms.add((run << 4) | sz)
            run = 0
        if run:
            ac_syms.add(0x00)
    dc_vals = sorted(dc_syms)
    ac_vals = sorted(ac_syms)
    dc_codes = {s: i for i, s in enumerate(dc_vals)}
    ac_codes = {s: i for i, s in enumerate(ac_vals)}
    bw = _JpegBitWriter()
    pred = [0] * len(comps)
    for ci, zz in blocks():
        s, extra = _jpeg_cat(int(zz[0]) - pred[ci])
        pred[ci] = int(zz[0])
        bw.put(dc_codes[s], 8)
        if s:
            bw.put(extra, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw.put(ac_codes[0xF0], 8)
                run -= 16
            sz, extra = _jpeg_cat(v)
            bw.put(ac_codes[(run << 4) | sz], 8)
            bw.put(extra, sz)
            run = 0
        if run:
            bw.put(ac_codes[0x00], 8)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(q) for q in Q)
    nc = len(comps)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for cid, hs, vs in comps:
        out += bytes([cid, (hs << 4) | vs, 0])
    for tc, vals in ((0, dc_vals), (1, ac_vals)):
        bits = [0] * 16
        bits[7] = len(vals)
        out += b"\xff\xc4" + struct.pack(
            ">H", 19 + len(vals)) + bytes([tc << 4]) + bytes(bits) + bytes(
            vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for cid, _, _ in comps:
        out += bytes([cid, 0x00])
    out += b"\x00\x3f\x00" + bytes(bw.buf) + b"\xff\xd9"
    return bytes(out)


class TestGifPixelDecode:
    """decode_gif_pixels: hand-computed LZW bitstream fixture (checked
    against spec arithmetic done by hand, independent of the test
    encoder), round-trips over random images, interlace, transparency,
    multi-frame counting, and loud failure."""

    def _dec(self, gif: bytes):
        from ssis_to_pyspark_agent_spark.operators.multimodal import (
            decode_gif_pixels,
        )
        return decode_gif_pixels(gif)

    def test_hand_computed_lzw_fixture(self):
        """2x2 two-color image, indices [0,1,1,0], min_code=2. Hand
        derivation: codes [clear=4, 0, 1, 1, 0, end=5]; decoder table
        hits 8 entries after the THIRD data code, so the last two codes
        read at width 4; LSB-first packing gives 0x44 0x02 0x05."""
        gif = (b"GIF89a"
               + b"\x02\x00\x02\x00\x80\x00\x00"   # screen: 2x2, GCT(2)
               + b"\xff\x00\x00" + b"\x00\xff\x00"  # red, green
               + b"\x2c\x00\x00\x00\x00\x02\x00\x02\x00\x00"
               + b"\x02" + b"\x03\x44\x02\x05" + b"\x00"
               + b"\x3b")
        d = self._dec(gif)
        assert d["ok"] and (d["width"], d["height"], d["channels"]) == (2, 2, 3)
        assert d["n_frames"] == 1
        assert d["pixels"] == (b"\xff\x00\x00" b"\x00\xff\x00"
                               b"\x00\xff\x00" b"\xff\x00\x00")

    def test_roundtrip_random_and_interlace(self):
        import numpy as np

        rng = np.random.RandomState(11)
        pal = bytes(rng.randint(0, 256, 4 * 3, dtype=np.uint8))
        idx = bytes(rng.randint(0, 4, 13 * 7, dtype=np.uint8))
        expect = b"".join(pal[3 * i:3 * i + 3] for i in idx)
        d = self._dec(_gif_encode(idx, 13, 7, pal))
        assert d["ok"] and (d["width"], d["height"]) == (13, 7)
        assert d["pixels"] == expect
        d2 = self._dec(_gif_encode(idx, 13, 7, pal, interlace=True))
        assert d2["ok"] and d2["pixels"] == expect
        # a long image forces the LZW table through width growth
        big = bytes(rng.randint(0, 4, 64 * 64, dtype=np.uint8))
        d3 = self._dec(_gif_encode(big, 64, 64, pal))
        assert d3["ok"]
        assert d3["pixels"] == b"".join(pal[3 * i:3 * i + 3] for i in big)

    def test_transparency_and_frames(self):
        pal = bytes([255, 0, 0, 0, 255, 0])
        idx = bytes([0, 1, 1, 0])
        d = self._dec(_gif_encode(idx, 2, 2, pal, transparent=1))
        assert d["ok"] and d["channels"] == 4
        px = d["pixels"]
        assert px[0:4] == bytes([255, 0, 0, 255])  # idx 0 opaque
        assert px[4:8] == bytes([0, 255, 0, 0])    # idx 1 transparent
        d2 = self._dec(_gif_encode(idx, 2, 2, pal, frames=3))
        assert d2["ok"] and d2["n_frames"] == 3
        assert d2["pixels"] == self._dec(_gif_encode(idx, 2, 2, pal))["pixels"]

    def test_fail_loudly(self):
        pal = bytes([255, 0, 0, 0, 255, 0])
        whole = _gif_encode(bytes([0, 1, 1, 0]), 2, 2, pal)
        assert self._dec(whole[:-4])["ok"] is False  # truncated
        assert self._dec(b"GIF89a junk")["ok"] is False
        assert self._dec(b"")["ok"] is False
        # LZW stream decoding to fewer indices than the claimed rect
        assert self._dec(_gif_encode_rect_mismatch(pal))["ok"] is False

    def test_frame_sample_gif_real_frames(self, spark):
        """media.frame_sample mode='gif': one row per REAL decoded frame
        (rect + RGB bytes), n caps with first frame kept, junk yields
        zero rows."""
        import numpy as np

        rng = np.random.RandomState(9)
        pal = bytes(rng.randint(0, 256, 4 * 3, dtype=np.uint8))
        idx = bytes(rng.randint(0, 4, 3 * 2, dtype=np.uint8))
        gif = _gif_encode(idx, 3, 2, pal, frames=5)
        df = spark.createDataFrame(
            [(1, bytearray(gif)), (2, bytearray(b"junk"))],
            "id int, payload binary",
        )
        out = run("media.frame_sample", spark, [df], binary_col="payload",
                  mode="gif").collect()
        assert sorted(r.frame_idx for r in out) == [0, 1, 2, 3, 4]
        assert all(r.id == 1 for r in out)  # junk produced no rows
        expect = b"".join(pal[3 * i:3 * i + 3] for i in idx)
        for r in out:
            assert (r.frame_width, r.frame_height, r.frame_channels) == (3, 2, 3)
            assert bytes(r.frame) == expect
        capped = run("media.frame_sample", spark, [df],
                     binary_col="payload", mode="gif", n=2).collect()
        assert sorted(r.frame_idx for r in capped) == [0, 2]

    def test_frame_sample_gif_null_int_passthrough(self, spark):
        """Pass-through columns survive gif-mode explosion with their
        dtypes and NULLS intact (round-8 ADVICE item): the old
        iterrows()+dict rebuild re-inferred every dtype, so a null in an
        int pass-through column became float64 NaN on the way back to
        the declared schema. Rows are now carried by positional take on
        the Arrow batch — an int column with a null round-trips as an
        int column with a null."""
        import numpy as np

        rng = np.random.RandomState(3)
        pal = bytes(rng.randint(0, 256, 4 * 3, dtype=np.uint8))
        idx = bytes(rng.randint(0, 4, 2 * 2, dtype=np.uint8))
        gif = _gif_encode(idx, 2, 2, pal, frames=3)
        df = spark.createDataFrame(
            [(1, 7, bytearray(gif)), (2, None, bytearray(gif))],
            "id int, flag int, payload binary",
        )
        out = run("media.frame_sample", spark, [df], binary_col="payload",
                  mode="gif")
        assert dict(out.dtypes)["flag"] == "int"
        got = out.select("id", "flag", "frame_idx").collect()
        assert len(got) == 6  # 2 docs x 3 frames
        assert {(r.id, r.flag) for r in got} == {(1, 7), (2, None)}
        # empty batches (all-junk partition) keep the schema too
        junk = spark.createDataFrame(
            [(3, None, bytearray(b"junk"))], "id int, flag int, payload binary")
        empty = run("media.frame_sample", spark, [junk],
                    binary_col="payload", mode="gif")
        assert empty.count() == 0 and dict(empty.dtypes)["flag"] == "int"

    def test_spark_decoder_gif_mode(self, spark):
        import numpy as np

        rng = np.random.RandomState(5)
        pal = bytes(rng.randint(0, 256, 4 * 3, dtype=np.uint8))
        idx = bytes(rng.randint(0, 4, 6 * 4, dtype=np.uint8))
        gif = _gif_encode(idx, 6, 4, pal, frames=2)
        df = spark.createDataFrame(
            [(1, bytearray(gif)), (2, bytearray(b"junk"))],
            "id int, payload binary",
        )
        got = {r.id: r for r in
               run("media.decode", spark, [df], binary_col="payload",
                   decoder="gif").collect()}
        assert got[1].decode_ok and got[1].decoded_n_frames == 2
        assert (got[1].decoded_width, got[1].decoded_height,
                got[1].decoded_channels) == (6, 4, 3)
        assert bytes(got[1].pixels) == b"".join(
            pal[3 * i:3 * i + 3] for i in idx)
        assert got[2].decode_ok is False and got[2].pixels is None


def _gif_encode_rect_mismatch(pal: bytes) -> bytes:
    """A GIF whose image descriptor claims 2x2 but whose LZW stream
    decodes to only 2 indices — the decoder must refuse."""
    import struct

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 2, 0x80, 0, 0) + pal
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
    data = _gif_lzw_pack(bytes([0, 1]), 2)
    out += bytes([2, len(data)]) + data + b"\x00" + b"\x3b"
    return bytes(out)


class TestPngPixelDecode:
    """decode_png_pixels is a REAL pixel decoder (zlib + numpy unfilter) —
    round-trip against a test-local spec encoder, hand-computed filter
    fixtures, palette/alpha expansion, and loud failure on unsupported
    shapes."""

    def _dec(self, png: bytes):
        from ssis_to_pyspark_agent_spark.operators.multimodal import (
            decode_png_pixels,
        )
        return decode_png_pixels(png)

    def test_hand_computed_sub_up(self):
        """Spec arithmetic checked BY HAND, not via the test encoder:
        2x2 RGB, row0 Sub-filtered, row1 Up-filtered."""
        import struct
        import zlib

        raw = (b"\x01\xff\x00\x00\x01\xff\x00"   # Sub: (255,0,0),(0,255,0)
               b"\x02\x01\x00\xff\x80\x81\x80")  # Up:  (0,0,255),(128,128,128)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        d = self._dec(png)
        assert d["ok"] and (d["width"], d["height"], d["channels"]) == (2, 2, 3)
        assert d["pixels"] == (b"\xff\x00\x00\x00\xff\x00"
                               b"\x00\x00\xff\x80\x80\x80")

    def test_hand_computed_average_paeth(self):
        """2x2 grayscale, row0 Average-filtered, row1 Paeth-filtered —
        filtered bytes hand-derived from RFC 2083 §6.5/§6.6."""
        import struct
        import zlib

        raw = b"\x03\x0a\x0f" b"\x04\x14\x0a"  # pixels 10,20 / 30,40
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        d = self._dec(png)
        assert d["ok"] and d["channels"] == 1
        assert d["pixels"] == b"\x0a\x14\x1e\x28"

    @pytest.mark.parametrize("color,n_ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
    def test_roundtrip_all_filters(self, color, n_ch):
        """Every filter type (cycling 0..4 across 10 rows) on every
        non-palette color type: exact pixel bytes back."""
        import numpy as np

        rng = np.random.RandomState(7 + color)
        arr = rng.randint(0, 256, size=(10, 6 * n_ch), dtype=np.uint8)
        d = self._dec(_png_encode(arr, color, [0, 1, 2, 3, 4]))
        assert d["ok"] and (d["width"], d["height"]) == (6, 10)
        assert d["channels"] == n_ch
        assert d["pixels"] == arr.tobytes()

    def test_palette_expansion(self):
        import numpy as np

        pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
        idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
        d = self._dec(_png_encode(idx, 3, [1, 4], plte=pal))
        assert d["ok"] and d["channels"] == 3
        expect = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9,
                        7, 8, 9, 0, 0, 255, 0, 255, 0, 255, 0, 0])
        assert d["pixels"] == expect
        # tRNS -> RGBA (alpha 40 for entry 0, default 255 beyond)
        d2 = self._dec(_png_encode(idx, 3, [0], plte=pal, trns=bytes([40])))
        assert d2["ok"] and d2["channels"] == 4
        px = d2["pixels"]
        assert px[0:4] == bytes([255, 0, 0, 40])      # entry 0 -> alpha 40
        assert px[4:8] == bytes([0, 255, 0, 255])     # entry 1 -> default
        # out-of-range palette index fails loudly
        bad = self._dec(_png_encode(idx, 3, [0], plte=pal[:9]))
        assert bad["ok"] is False and bad["pixels"] is None

    def test_trailing_garbage_and_truncated_stream_rejected(self):
        """Strictness preserved across the r9 bounded-inflate switch
        (round-9 ADVICE item): trailing garbage AFTER a correctly-sized
        deflate stream in IDAT is corrupt (the uncapped zlib.decompress
        used to raise on it; decompressobj silently ignores it unless
        unused_data is checked), and a TRUNCATED stream that happens to
        yield exactly the expected bytes (no eof) is corrupt too."""
        import struct
        import zlib

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 gray
        raw = b"\x00\x0a\x14" b"\x00\x1e\x28"

        def png_with_idat(idat):
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", idat) + chunk(b"IEND", b""))

        assert self._dec(png_with_idat(zlib.compress(raw)))["ok"] is True
        garbage = self._dec(png_with_idat(zlib.compress(raw) + b"EXTRA"))
        assert garbage["ok"] is False and garbage["pixels"] is None
        # strip the 4-byte adler trailer + final-block terminator: same
        # output bytes, but the stream never terminates -> not eof
        trunc = self._dec(png_with_idat(zlib.compress(raw)[:-5]))
        assert trunc["ok"] is False

    def test_zlib_bomb_bounded(self):
        """A crafted IDAT that inflates far past the declared dimensions
        must come back ok=False WITHOUT materializing the oversized
        buffer (ADVICE round 8): the inflate is capped at expect+1 bytes,
        so a 64 MB bomb behind a 2x2 header costs 8 bytes of output."""
        import struct
        import time
        import zlib

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 gray
        bomb = zlib.compress(b"\x00" * (64 << 20), 9)  # ~64 KB compressed
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
        t0 = time.monotonic()
        d = self._dec(png)
        assert d["ok"] is False and d["pixels"] is None
        # capped inflate stops after 7 bytes; a full 64 MB inflate takes
        # orders of magnitude longer than this generous bound
        assert time.monotonic() - t0 < 1.0
        # and the cap must not break an exact-size stream
        ok = self._dec(_png_encode(
            __import__("numpy").zeros((2, 2), dtype="uint8"), 0, [0]))
        assert ok["ok"] is True

    def test_decoder_value_validated(self, spark):
        """media.decode raises on an unknown decoder value instead of
        silently falling back to the header parser's different schema
        (ADVICE round 8)."""
        df = spark.createDataFrame(
            [(1, bytearray(b"x"))], "id int, payload binary")
        for typo in ("jpg", "PNG", "pixels", ""):
            with pytest.raises(ValueError, match="decoder must be"):
                run("media.decode", spark, [df],
                    binary_col="payload", decoder=typo)

    def test_unsupported_fail_loudly(self):
        import numpy as np

        arr = np.zeros((2, 6), dtype=np.uint8)
        assert self._dec(_png_encode(arr, 2, [0], depth=16))["ok"] is False
        assert self._dec(_png_encode(arr, 2, [0], interlace=1))["ok"] is False
        # truncated IDAT (cut mid-chunk-data: -24 = IEND(12) + IDAT
        # crc(4) + 8 bytes of IDAT data) and junk
        whole = _png_encode(arr, 2, [0])
        assert self._dec(whole[:-24])["ok"] is False
        assert self._dec(b"not a png")["ok"] is False
        assert self._dec(b"")["ok"] is False
        # wrong filter byte
        import struct
        import zlib

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(b"\x09\x00\x00"))
               + chunk(b"IEND", b""))
        assert self._dec(png)["ok"] is False

    def test_wav_pcm_sample_decode_exact(self):
        """decode_wav_samples: PCM normalization is dyadic, so rms/peak
        are EXACT float64 values on crafted samples (invariant 19)."""
        import io
        import struct
        import wave

        from ssis_to_pyspark_agent_spark.operators.multimodal import (
            decode_wav_samples,
        )

        def pcm16(frames, rate=8000, n_ch=1):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(n_ch)
                wf.setsampwidth(2)
                wf.setframerate(rate)
                wf.writeframes(b"".join(
                    struct.pack("<h", v) for v in frames))
            return buf.getvalue()

        # [0.5, -0.5, 0, 0.25] -> rms = sqrt(0.140625) = 0.375 EXACTLY
        d = decode_wav_samples(pcm16([16384, -16384, 0, 8192]))
        assert d["ok"] and d["channels"] == 1 and d["n_samples"] == 4
        assert d["rms"] == 0.375 and d["peak"] == 0.5
        assert d["sample_rate"] == 8000 and d["duration_ms"] == 0
        # stereo: 2 frames x 2 channels, all +-0.5 -> rms = peak = 0.5
        d2 = decode_wav_samples(pcm16([16384, -16384, -16384, 16384],
                                      n_ch=2))
        assert d2["ok"] and d2["channels"] == 2 and d2["n_samples"] == 2
        assert d2["rms"] == 0.5 and d2["peak"] == 0.5
        # 8-bit unsigned: bytes 192/64 -> +-0.5
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(1)
            wf.setframerate(16000)
            wf.writeframes(bytes([192, 64]))
        d3 = decode_wav_samples(buf.getvalue())
        assert d3["ok"] and d3["rms"] == 0.5 and d3["peak"] == 0.5
        # IEEE float32 (format 3), hand-built RIFF
        data = struct.pack("<4f", 0.25, -0.25, 0.25, -0.25)
        fmt = struct.pack("<HHIIHH", 3, 1, 44100, 44100 * 4, 4, 32)
        wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
               + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(data)) + data)
        d4 = decode_wav_samples(wav)
        assert d4["ok"] and d4["rms"] == 0.25 and d4["peak"] == 0.25
        # compressed (ADPCM, format 2) / truncated / junk: loud failure
        bad_fmt = struct.pack("<HHIIHH", 2, 1, 8000, 4000, 1, 4)
        wav_adpcm = (b"RIFF" + struct.pack("<I", 28) + b"WAVE"
                     + b"fmt " + struct.pack("<I", 16) + bad_fmt
                     + b"data" + struct.pack("<I", 2) + b"\x00\x01")
        assert decode_wav_samples(wav_adpcm)["ok"] is False
        assert decode_wav_samples(pcm16([1, 2, 3])[:-2])["ok"] is False
        assert decode_wav_samples(b"not audio")["ok"] is False
        assert decode_wav_samples(b"")["ok"] is False

    def test_audio_stats_operator(self, spark):
        """media.audio_stats through the Arrow batch path: real PCM
        stats for WAV rows, audio_ok=False for junk."""
        df = spark.createDataFrame(
            [(1, bytearray(_wav_bytes(1.0))),  # 8-bit silence (0x80)
             (2, bytearray(b"junk")), (3, None)],
            "id int, payload binary",
        )
        got = {r.id: r for r in
               run("media.audio_stats", spark, [df],
                   binary_col="payload").collect()}
        assert got[1].audio_ok and got[1].duration_ms == 1000
        assert got[1].sample_rate == 8000 and got[1].channels == 1
        assert got[1].rms == 0.0 and got[1].peak == 0.0  # byte 0x80 = 0
        for bad in (2, 3):
            assert got[bad].audio_ok is False and got[bad].rms is None

    def test_spark_decoder_png_mode(self, spark):
        """media.decode decoder='png' through the real mapInPandas path:
        exact pixels for PNGs, ok=False + null pixels for junk."""
        import numpy as np

        rng = np.random.RandomState(3)
        arr = rng.randint(0, 256, size=(4, 5 * 3), dtype=np.uint8)
        png = _png_encode(arr, 2, [4, 3, 2, 1])
        df = spark.createDataFrame(
            [(1, bytearray(png)), (2, bytearray(b"junk")), (3, None)],
            "id int, payload binary",
        )
        got = {r.id: r for r in
               run("media.decode", spark, [df], binary_col="payload",
                   decoder="png").collect()}
        assert got[1].decode_ok
        assert (got[1].decoded_width, got[1].decoded_height,
                got[1].decoded_channels) == (5, 4, 3)
        assert bytes(got[1].pixels) == arr.tobytes()
        for bad in (2, 3):
            assert got[bad].decode_ok is False
            assert got[bad].pixels is None


class TestErrorOutputs:
    def test_data_conversion_redirect(self, spark):
        df = spark.createDataFrame(
            [("1", "a"), ("2x", "b"), ("3", "c")], "raw string, tag string"
        )
        out = run("data_conversion", spark, [df],
                  casts={"val": ("raw", "DT_I4")}, on_error="redirect")
        assert sorted(r.val for r in out["out"].collect()) == [1, 3]
        err = out["error"].collect()
        assert len(err) == 1 and err[0].raw == "2x"
        assert set(out["error"].columns) == {"raw", "tag"}  # originals only

    def test_data_conversion_null_mode(self, spark):
        df = spark.createDataFrame([("1",), ("nope",)], "raw string")
        out = run("data_conversion", spark, [df], casts={"v": ("raw", "int")})
        assert sorted((r.v is None) for r in out.collect()) == [False, True]


class TestPerRowCommand:
    def test_update_rewrites_matched_only(self, spark):
        target = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, v string, amt int"
        )
        cmds = spark.createDataFrame(
            [(1, "A"), (9, "Z")], "key_param int, val_param string"
        )
        out = run("per_row_command", spark, [target, cmds], action="update",
                  keys=["k"], param_mapping={"k": "key_param", "v": "val_param"})
        got = {r.k: (r.v, r.amt) for r in out.collect()}
        assert got == {1: ("A", 10), 2: ("b", 20)}  # key 9 affects 0 rows

    def test_delete(self, spark):
        target = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        cmds = spark.createDataFrame([(2,), (9,)], "kp int")
        out = run("per_row_command", spark, [target, cmds], action="delete",
                  keys=["k"], param_mapping={"k": "kp"})
        assert sorted(r.k for r in out.collect()) == [1, 3]


class TestRepartition:
    def test_hash_and_coalesce(self, spark):
        df = spark.range(100)
        assert run("repartition", spark, [df], n=7).rdd.getNumPartitions() == 7
        assert run("repartition", spark, [df], n=2,
                   coalesce=True).rdd.getNumPartitions() <= 2
        byk = run("repartition", spark, [df], n=4, by=["id"])
        assert byk.rdd.getNumPartitions() == 4


class TestLookupCacheModes:
    def test_cache_none_no_broadcast(self, spark):
        left = spark.range(100).select(F.col("id").alias("k"))
        ref = spark.range(50).select(
            F.col("id").alias("rk"), (F.col("id") * 2).alias("lbl")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bc = run("lookup", spark, [left, ref], keys={"k": "rk"},
                     copy={"lbl": "lbl"})  # default cache=full
            nb = run("lookup", spark, [left, ref], keys={"k": "rk"},
                     copy={"lbl": "lbl"}, cache="none")
            bc_plan = bc._jdf.queryExecution().executedPlan().toString()
            nb_plan = nb._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in bc_plan
            assert "BroadcastHashJoin" not in nb_plan
            assert bc.count() == nb.count() == 100
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_cache_partial_restricts_then_matches_full(self, spark):
        """partial cache: reference is semi-joined down to the probe keys
        before the broadcast join; results identical to full cache."""
        left = spark.range(10).select((F.col("id") * 3).alias("k"))
        ref = spark.range(1000).select(
            F.col("id").alias("rk"), (F.col("id") * 2).alias("lbl")
        )
        full = run("lookup", spark, [left, ref], keys={"k": "rk"},
                   copy={"lbl": "lbl"})
        part = run("lookup", spark, [left, ref], keys={"k": "rk"},
                   copy={"lbl": "lbl"}, cache="partial")
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, part.collect())
        )
        # the reference side must be filtered by a semi-join in the plan
        plan = part._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan


class TestSampleModes:
    def test_random_seeded_repeatable(self, spark):
        df = spark.range(1000)
        a = run("sample", spark, [df], method="random", fraction=0.1, seed=7)
        b = run("sample", spark, [df], method="random", fraction=0.1, seed=7)
        assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())
        assert 40 < a.count() < 200

    def test_hash_deterministic_subset(self, spark):
        df = spark.range(1000)
        a = run("sample", spark, [df], method="hash", key=["id"], fraction=0.2)
        b = run("sample", spark, [df], method="hash", key=["id"], fraction=0.2)
        assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())
        # hash sample of a superset contains the sample of the subset
        sub = run("sample", spark, [df.filter("id < 500")], method="hash",
                  key=["id"], fraction=0.2)
        assert set(r.id for r in sub.collect()) <= set(r.id for r in a.collect())

    def test_rows_exact_n(self, spark):
        df = spark.range(1000)
        out = run("sample", spark, [df], method="rows", key=["id"], n=37)
        assert out.count() == 37

    def test_balanced_quota_cap(self, spark):
        # 3 groups of 100/30/5 rows, quota 30: capped groups keep
        # EXACTLY the quota rows with the smallest (md5-60bit, id) —
        # recomputed in python — and under-quota groups pass through
        import hashlib

        rows = [(i, "a") for i in range(100)] + \
               [(1000 + i, "b") for i in range(30)] + \
               [(2000 + i, "c") for i in range(5)]
        df = spark.createDataFrame(rows, "id long, g string")
        out = run("sample.balanced", spark, [df], id_col="id",
                  group_col="g", quota=30)
        got = {}
        for r in out.collect():
            got.setdefault(r.g, set()).add(r.id)
        assert len(got["a"]) == 30 and len(got["b"]) == 30 \
            and len(got["c"]) == 5

        def h(i):
            return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

        expect_a = set(sorted(range(100), key=lambda i: (h(i), i))[:30])
        assert got["a"] == expect_a
        # deterministic across runs
        out2 = run("sample.balanced", spark, [df], id_col="id",
                   group_col="g", quota=30)
        assert sorted((r.id, r.g) for r in out.collect()) == \
            sorted((r.id, r.g) for r in out2.collect())

    def test_balanced_dict_quota_and_unlimited_default(self, spark):
        rows = [(i, "a") for i in range(50)] + \
               [(100 + i, "b") for i in range(50)] + \
               [(200 + i, "z") for i in range(50)]
        df = spark.createDataFrame(rows, "id long, g string")
        out = run("sample.balanced", spark, [df], id_col="id",
                  group_col="g", quota={"a": 10, "b": 0})
        got = {}
        for r in out.collect():
            got.setdefault(r.g, set()).add(r.id)
        assert len(got["a"]) == 10
        assert "b" not in got
        assert len(got["z"]) == 50  # default None = unlimited

    def test_balanced_null_group(self, spark):
        # NULL groups are a group of their own — capped under the
        # default quota, never silently dropped by the counts join
        rows = [(i, "a") for i in range(20)] + \
               [(100 + i, None) for i in range(20)]
        df = spark.createDataFrame(rows, "id long, g string")
        out = run("sample.balanced", spark, [df], id_col="id",
                  group_col="g", quota=5)
        got = {}
        for r in out.collect():
            got.setdefault(r.g, set()).add(r.id)
        assert len(got["a"]) == 5 and len(got[None]) == 5
        # dict quota: NULL group takes default_quota; None default =
        # unlimited passthrough
        out2 = run("sample.balanced", spark, [df], id_col="id",
                   group_col="g", quota={"a": 3})
        got2 = {}
        for r in out2.collect():
            got2.setdefault(r.g, set()).add(r.id)
        assert len(got2["a"]) == 3 and len(got2[None]) == 20

    def test_balanced_undershoot_fallback_exact(self, spark):
        # craft a group whose md5 ranks ALL land above the Chernoff
        # threshold (q=1, n=100 -> t ~ 0.27): the candidate prefilter
        # yields zero rows and the exact fallback must still return the
        # true rank-1 row
        import hashlib

        def u(i):
            return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) \
                / float(1 << 60)

        ids = [i for i in range(100_000) if u(i) > 0.5][:100]
        df = spark.createDataFrame([(i, "hot") for i in ids],
                                   "id long, g string")
        out = run("sample.balanced", spark, [df], id_col="id",
                  group_col="g", quota=1)
        got = [r.id for r in out.collect()]
        assert got == [min(ids, key=lambda i: (u(i), i))]

    def test_holdout_no_pair_straddles_and_transitive(self, spark):
        """sample.holdout: every near-dup pair — and every TRANSITIVE
        chain — lands on one side; isolated docs split ~test_frac;
        deterministic; ports partition the corpus."""
        docs = spark.createDataFrame(
            [(i,) for i in range(400)], "id long"
        )
        # chain 0-1-2 plus pair (10, 11); rest isolated
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "a long, b long"
        )
        r = run("sample.holdout", spark, [docs, pairs], id_col="id",
                test_frac=0.25)
        side = {x.id: x.side for x in r["out"].collect()}
        comp = {x.id: x.comp for x in r["out"].collect()}
        assert len(side) == 400
        assert side[0] == side[1] == side[2] and comp[0] == comp[1] == comp[2] == 0
        assert side[10] == side[11] and comp[10] == comp[11] == 10
        n_test = sum(1 for v in side.values() if v == "test")
        assert 0.15 * 400 < n_test < 0.35 * 400  # loose binomial band
        # ports partition out
        tr = {x.id for x in r["train"].collect()}
        te = {x.id for x in r["test"].collect()}
        assert tr | te == set(side) and not (tr & te)
        # deterministic re-run; salt redraws
        r2 = run("sample.holdout", spark, [docs, pairs], id_col="id",
                 test_frac=0.25)
        assert {x.id: x.side for x in r2["out"].collect()} == side
        r3 = run("sample.holdout", spark, [docs, pairs], id_col="id",
                 test_frac=0.25, salt="v2")
        assert {x.id: x.side for x in r3["out"].collect()} != side
        with pytest.raises(ValueError, match="test_frac"):
            run("sample.holdout", spark, [docs, pairs], id_col="id",
                test_frac=1.5)

    def test_holdout_reroutes_unconverged_propagation(self, spark):
        # a 26-doc chain has diameter 25 > 20 rounds: propagation
        # alone reports it has NOT converged (partial labels would
        # silently put linked docs on different sides), so the operator
        # reroutes the deep graph to diameter-independent star
        # contraction and converges within the default round bound —
        # through the distributed loop (driver route off) and the
        # default driver route alike (labels_input reuse from
        # dedup.cluster is equivalent, also checked).
        from ssis_to_pyspark_agent_spark.operators.dedup import (
            _lp_labels,
            _propagate_labels,
        )

        docs = spark.createDataFrame([(i,) for i in range(26)], "id long")
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(25)], "a long, b long"
        )
        assert _lp_labels(chain, 20)[1] is False
        ok = run("sample.holdout", spark, [docs, chain], id_col="id",
                 test_frac=0.5)["out"].collect()
        assert len({r.side for r in ok}) == 1 and all(
            r.comp == 0 for r in ok
        )
        dist = _propagate_labels(chain, driver_cap=0)
        via_dist = run("sample.holdout", spark, [docs, dist], id_col="id",
                       test_frac=0.5, labels_input=True)["out"].collect()
        cc = run("dedup.cluster", spark, [docs, chain], id_col="id")
        via_labels = run("sample.holdout", spark, [docs, cc["labels"]],
                         id_col="id", test_frac=0.5,
                         labels_input=True)["out"].collect()
        want = sorted((r.id, r.comp, r.side) for r in ok)
        assert sorted((r.id, r.comp, r.side) for r in via_dist) == want
        assert sorted((r.id, r.comp, r.side) for r in via_labels) == want

    def test_lp_converges_at_exact_diameter_bound(self, spark):
        # max_rounds bounds the UPDATING rounds; the quiet confirmation
        # round is free. A 26-doc chain (diameter 25) must converge with
        # max_rounds=25 — the first cut needed 26 because the last
        # updating round read as "not converged" (review finding)
        from ssis_to_pyspark_agent_spark.operators.dedup import _lp_labels

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(25)], "a long, b long"
        )
        labels, converged = _lp_labels(chain, 25)
        assert converged
        assert {r.comp for r in labels.collect()} == {0}

    def test_cluster_star_matches_lp_on_random_graph(self, spark):
        # star contraction and min-label propagation must agree on
        # component labels for an arbitrary graph mixing cliques,
        # chains, stars and isolated nodes — seeded random edges so the
        # shape isn't hand-picked (the operator rides the driver route
        # here, so both distributed kernels are called directly)
        import random

        from ssis_to_pyspark_agent_spark.operators.dedup import (
            _lp_labels,
            _star_components,
        )

        rng = random.Random(7)
        n = 400
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "a long, b long")
        star = _star_components(pairs)
        lp, converged = _lp_labels(pairs, 50)
        assert converged
        s = sorted((r.x, r.comp) for r in star.collect())
        assert s == sorted((r.x, r.comp) for r in lp.collect())
        edge_nodes = {a for a, _ in edges} | {b for _, b in edges}
        assert {x for x, _ in s} == edge_nodes

    def test_cluster_driver_cc_matches_distributed(self, spark):
        # r12: a driver-bounded pair graph rides union-find on the
        # driver (zero iterative shuffles). Components must be
        # IDENTICAL to both distributed kernels on a seeded random graph
        # (cliques/chains/isolated mix), the cap must route oversized
        # graphs to the distributed loop, and driver_cap=0 must
        # disable the driver path outright.
        import random

        from ssis_to_pyspark_agent_spark.operators.dedup import (
            _driver_cc_labels,
            _lp_labels,
            _propagate_labels,
            _star_components,
        )

        rng = random.Random(11)
        n = 300
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(200)]
        edges = [(a, b) for a, b in edges if a != b]
        docs = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = spark.createDataFrame(edges, "a long, b long")
        auto = run("dedup.cluster", spark, [docs, pairs], id_col="id")
        lp, converged = _lp_labels(pairs, 50)
        assert converged
        want = sorted((r.x, r.comp) for r in lp.collect())
        assert sorted((r.x, r.comp) for r in auto["labels"].collect()) == want
        assert sorted(
            (r.x, r.comp) for r in _star_components(pairs).collect()
        ) == want
        # isolated nodes are their own component in the operator output
        comp = dict(want)
        assert sorted(
            (r.id, r.comp) for r in auto["components"].collect()
        ) == [(i, comp.get(i, i)) for i in range(n)]
        # labels frame shape contract: (x, comp), id-typed, edge nodes only
        lbl = auto["labels"]
        assert lbl.columns == ["x", "comp"]
        assert {f.dataType.simpleString() for f in lbl.schema.fields} == {
            "bigint"
        }
        edge_nodes = {a for a, _ in edges} | {b for _, b in edges}
        assert {r.x for r in lbl.collect()} == edge_nodes
        # a graph over the cap routes to the distributed loop — same
        # labels; driver_cap=0 disables the driver path (distributed
        # again)
        for cap in (10, 0):
            got = _propagate_labels(pairs, driver_cap=cap)
            assert sorted((r.x, r.comp) for r in got.collect()) == want, cap
        # null endpoints are skipped exactly like the joins drop them
        null_pairs = spark.createDataFrame(
            [(0, 1), (None, 2), (3, None)], "a long, b long"
        )
        lbl_null = _driver_cc_labels(
            spark, null_pairs.collect(), null_pairs.schema["a"]
        )
        assert sorted((r.x, r.comp) for r in lbl_null.collect()) == [
            (0, 0), (1, 0)
        ]
        assert_local_scan(lbl_null)

    def test_cluster_session_checkpoint_dir_identical(self, spark, tmp_path):
        """With a session checkpoint directory the cc loops cut onto
        Spark's reliable checkpoint instead of localCheckpoint: labels
        must be IDENTICAL to the localCheckpoint run, and the cuts must
        land under that directory. A spliced 30-node chain makes
        propagation reroute to star contraction, so both kernels cut;
        driver_cap=0 keeps the graph off the driver route."""
        import os
        import random

        from ssis_to_pyspark_agent_spark.operators.dedup import (
            _propagate_labels,
        )

        rng = random.Random(11)
        n = 300
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
        edges = [(a, b) for a, b in edges if a != b]
        edges += [(1000 + i, 1001 + i) for i in range(30)]
        pairs = spark.createDataFrame(edges, "a long, b long")
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None
        want = sorted(
            (r.x, r.comp)
            for r in _propagate_labels(pairs, driver_cap=0).collect()
        )
        d = str(tmp_path / "ck")
        sc.setCheckpointDir(d)
        try:
            got = sorted(
                (r.x, r.comp)
                for r in _propagate_labels(pairs, driver_cap=0).collect()
            )
        finally:
            # no later test may run with the directory set
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                spark._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None
        assert got == want
        assert any("rdd-" in dirs_or_file
                   for _root, dirs, files in os.walk(d)
                   for dirs_or_file in dirs + files)

    def test_balanced_empty_quota_dict_raises(self, spark):
        # quota={} with no default_quota caps nothing — a config error,
        # not a bare min()-of-empty ValueError (ADVICE r4)
        df = spark.createDataFrame([(1, "a")], "id long, g string")
        with pytest.raises(ValueError, match="default_quota"):
            run("sample.balanced", spark, [df], id_col="id",
                group_col="g", quota={})

    def test_importance_selects_target_like_docs(self, spark):
        # DSIR: raw docs drawn from two disjoint vocabularies; target
        # written in vocabulary A -> the top-k must be exactly the
        # A-vocabulary raw docs (their buckets carry positive
        # log-ratios, B-vocabulary buckets negative)
        a_doc = "alpha beta gamma delta epsilon"
        b_doc = "zeta eta theta iota kappa"
        raw = spark.createDataFrame(
            [(i, a_doc if i % 2 == 0 else b_doc) for i in range(20)],
            "doc_id long, text string",
        )
        target = spark.createDataFrame(
            [(100 + i, "alpha beta gamma delta epsilon") for i in range(5)],
            "doc_id long, text string",
        )
        res = run("sample.importance", spark, [raw, target],
                  id_col="doc_id", text_col="text", k=10, n_buckets=64)
        kept = sorted(r.doc_id for r in res["out"].collect())
        assert kept == [i for i in range(20) if i % 2 == 0]
        # deterministic: identical rerun, and scores rank A over B
        res2 = run("sample.importance", spark, [raw, target],
                   id_col="doc_id", text_col="text", k=10, n_buckets=64)
        assert sorted(r.doc_id for r in res2["out"].collect()) == kept
        sc = {r.doc_id: r.score_q for r in res["scores"].collect()}
        assert min(sc[i] for i in range(0, 20, 2)) > max(
            sc[i] for i in range(1, 20, 2)
        )

    def test_importance_zero_token_docs_unscorable(self, spark):
        # docs with no tokens have no evidence and must never be
        # selected, even when k exceeds the scorable population
        raw = spark.createDataFrame(
            [(1, "alpha beta"), (2, "   "), (3, "")],
            "doc_id long, text string",
        )
        target = spark.createDataFrame(
            [(9, "alpha")], "doc_id long, text string"
        )
        res = run("sample.importance", spark, [raw, target],
                  id_col="doc_id", text_col="text", k=5)
        assert [r.doc_id for r in res["out"].collect()] == [1]
        assert res["scores"].count() == 1

    def test_importance_config_validation(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="positive"):
            run("sample.importance", spark, [df, df], id_col="doc_id",
                text_col="text", k=0)

    def test_balanced_is_fully_lazy(self, spark):
        # the round-5 in-plan audit removed the eager planning action:
        # invoking the operator must run ZERO Spark jobs (the fallback
        # decision rides the output action)
        df = spark.createDataFrame(
            [(i, "g") for i in range(50)], "id long, g string"
        )
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup() or []
        out = run("sample.balanced", spark, [df], id_col="id",
                  group_col="g", quota=10)
        after = tracker.getJobIdsForGroup() or []
        assert len(after) == len(before), \
            "sample.balanced ran an eager planning job"
        assert out.count() == 10

    def test_mixture_multiplicities(self, spark):
        # 400 rows over 4 groups; weights: exact 3x up, fractional 1.5x,
        # 0.25 down, drop; absent group -> default 1.0 passthrough
        df = spark.createDataFrame(
            [(i, f"g{i % 5}") for i in range(400)], "id long, grp string"
        )
        out = run("sample.mixture", spark, [df], id_col="id",
                  group_col="grp",
                  weights={"g0": 3.0, "g1": 1.5, "g2": 0.25, "g3": 0.0})
        rows = out.collect()
        by = {}
        for r in rows:
            by.setdefault(r.grp, []).append(r)
        # integer weights are EXACT per-row multiplicities
        assert len(by["g0"]) == 240 and {r.replica for r in by["g0"]} == {0, 1, 2}
        assert "g3" not in by
        assert len(by["g4"]) == 80 and all(r.replica == 0 for r in by["g4"])
        # fractional weights: every row keeps its floor(w) replicas and the
        # extra copy lands within a loose binomial band
        g1_ids = {r.id for r in by["g1"] if r.replica == 0}
        assert len(g1_ids) == 80  # floor(1.5) = 1 guaranteed copy
        assert 80 * 1.2 < len(by["g1"]) < 80 * 1.8
        assert 80 * 0.1 < len(by["g2"]) < 80 * 0.45
        # deterministic: same output on re-run
        again = run("sample.mixture", spark, [df], id_col="id",
                    group_col="grp",
                    weights={"g0": 3.0, "g1": 1.5, "g2": 0.25, "g3": 0.0})
        key = lambda r: (r.id, r.replica)
        assert sorted(map(key, rows)) == sorted(map(key, again.collect()))

    def test_mixture_rejects_negative_weight(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, grp string")
        with pytest.raises(ValueError, match=">= 0"):
            run("sample.mixture", spark, [df], id_col="id", group_col="grp",
                weights={"a": -1.0})

    @staticmethod
    def _temp_expected(rows_, alpha_num, bits, budget_frac, rq=1024):
        # bit-exact Python replication of sample.temperature's math:
        # repeated-sqrt dyadic pow (math.sqrt IS IEEE correctly-rounded),
        # integer normalizer, fixed double expression tree, md5 threshold
        import hashlib
        import math

        counts: dict = {}
        for i, g in rows_:
            counts[g] = counts.get(g, 0) + 1
        qi = {}
        for g, n in counts.items():
            if alpha_num == (1 << bits):
                p = float(n)
            else:
                term, acc = float(n), None
                for j in range(1, bits + 1):
                    term = math.sqrt(term)
                    if (alpha_num >> (bits - j)) & 1:
                        acc = term if acc is None else acc * term
                p = acc
            qi[g] = math.floor(p * rq + 0.5)
        s, ntot = sum(qi.values()), sum(counts.values())
        t = float(math.floor(budget_frac * float(ntot)))
        thr = {
            g: min(1.0, (t * float(qi[g])) / (float(s) * float(counts[g])))
            for g in counts
        }
        keep = set()
        for i, g in rows_:
            h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
            if float(h) < thr[g] * float(1 << 60):
                keep.add(i)
        return keep, thr

    def test_temperature_matches_python_replica_exactly(self, spark):
        # skewed corpus: the kept SET must equal the bit-exact Python
        # replication — this is the engine-exactness contract the q23
        # oracle leg relies on
        data = [(i, "big" if i < 1000 else "small") for i in range(1010)]
        df = spark.createDataFrame(data, "doc_id long, src string")
        out = run("sample.temperature", spark, [df], id_col="doc_id",
                  group_col="src", alpha=0.5, budget_frac=0.4)
        got = {r.doc_id for r in out.collect()}
        exp, thr = self._temp_expected(data, 2048, 12, 0.4)
        assert got == exp
        # temperature semantics: the small domain's rate beats the big
        # domain's (alpha < 1 flattens shares toward uniform)
        assert thr["small"] > thr["big"]
        assert out.columns == ["doc_id", "src"]

    def test_temperature_alpha1_is_proportional(self, spark):
        # alpha=1: qi = 1024*n exactly, so every group's rate collapses
        # to the same T/N — uniform downsampling
        data = [(i, f"g{i % 3}") for i in range(300)]
        df = spark.createDataFrame(data, "doc_id long, src string")
        out = run("sample.temperature", spark, [df], id_col="doc_id",
                  group_col="src", alpha=1.0, budget=150)
        got = {r.doc_id for r in out.collect()}
        import hashlib

        thr = min(1.0, (150.0 * float(100 * 1024))
                  / (float(3 * 100 * 1024) * 100.0))
        exp = {
            i for i, _ in data
            if float(int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16))
            < thr * float(1 << 60)
        }
        assert got == exp

    def test_temperature_dyadic_pow_mirrors_duckdb(self, spark):
        # the SQL mirror of the dyadic pow must produce the SAME double
        # bits DuckDB-side for a non-trivial alpha (0.7 -> 2867/4096)
        import duckdb

        from ssis_to_pyspark_agent_spark.operators.routing import (
            _dyadic_pow,
            _dyadic_pow_sql,
        )

        col, num = _dyadic_pow(F.col("x").cast("double"), 0.7)
        assert num == int(0.7 * 4096 + 0.5)
        vals = [1.0, 2.0, 1000.0, 123456789.0]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        spark_out = [r.p for r in df.select(col.alias("p")).collect()]
        for v, sp in zip(vals, spark_out):
            dk = duckdb.sql(
                f"SELECT {_dyadic_pow_sql(f'CAST({v!r} AS DOUBLE)', num)}"
            ).fetchone()[0]
            assert sp == dk and sp == pytest.approx(v ** 0.7, rel=1e-3)

    def test_temperature_null_group_and_validation(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "doc_id long, src string"
        )
        # budget larger than N: every rate caps at 1 -> passthrough,
        # including the NULL group (its rows must not be dropped)
        out = run("sample.temperature", spark, [df], id_col="doc_id",
                  group_col="src", alpha=0.5, budget=100)
        assert {r.doc_id for r in out.collect()} == {1, 2, 3}
        with pytest.raises(ValueError, match="exactly one"):
            run("sample.temperature", spark, [df], id_col="doc_id",
                group_col="src", alpha=0.5)
        with pytest.raises(ValueError, match="exactly one"):
            run("sample.temperature", spark, [df], id_col="doc_id",
                group_col="src", alpha=0.5, budget=10, budget_frac=0.5)
        with pytest.raises(ValueError, match="alpha"):
            run("sample.temperature", spark, [df], id_col="doc_id",
                group_col="src", alpha=0.0, budget=10)


class TestAsofJoin:
    @pytest.fixture()
    def sides(self, spark):
        left = spark.createDataFrame(
            [(1, "u", 100), (2, "u", 205), (3, "u", 50), (4, "v", 100)],
            "oid int, k string, t int",
        )
        right = spark.createDataFrame(
            [("u", 100, "a"), ("u", 200, "b"), ("v", 150, "c")],
            "k string, t int, tag string",
        )
        return left, right

    def test_backward_match_with_tie(self, spark, sides):
        left, right = sides
        out = run("asof_join", spark, [left, right], keys=["k"],
                  left_ts="t", right_ts="t", copy={"tag": "tag"})
        got = {r.oid: r.tag for r in out.collect()}
        # oid=1 ties right t=100 -> matches 'a'; oid=2 -> latest <=205 is 'b'
        # oid=3 -> nothing at or before 50; oid=4 ('v') -> nothing <=100
        assert got == {1: "a", 2: "b", 3: None, 4: None}

    def test_tolerance(self, spark, sides):
        left, right = sides
        # int seconds columns work with unix_timestamp? use timestamps
        from pyspark.sql import functions as F2

        lts = left.withColumn("ts", F2.timestamp_seconds("t"))
        rts = right.withColumn("ts", F2.timestamp_seconds("t"))
        out = run("asof_join", spark, [lts, rts], keys=["k"],
                  left_ts="ts", right_ts="ts", copy={"tag": "tag"},
                  tolerance=4)
        got = {r.oid: r.tag for r in out.collect()}
        assert got == {1: "a", 2: None, 3: None, 4: None}  # 205-200=5 > 4s


class TestRangeJoin:
    def test_bucketed_equals_broadcast(self, spark):
        import random

        rng = random.Random(3)
        left = spark.createDataFrame(
            [(i, rng.uniform(0, 100)) for i in range(500)], "id int, v double"
        )
        right = spark.createDataFrame(
            [("lo", 0.0, 30.0), ("mid", 25.0, 70.0), ("hi", 60.0, 100.0)],
            "band string, lo double, hi double",
        )
        bc = run("range_join", spark, [left, right], value="v",
                 lo="lo", hi="hi", broadcast=True,
                 select_left=["id"], select_right=["band"])
        bk = run("range_join", spark, [left, right], value="v",
                 lo="lo", hi="hi", bucket_width=10.0,
                 select_left=["id"], select_right=["band"])
        assert rows(bc) == rows(bk)
        # overlapping bands -> some ids match twice
        assert bk.count() > 500


class TestDedupCluster:
    def test_transitive_closure(self, spark):
        ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        # chain 1-2-3 (transitive), pair 5-6, singletons 0,4,7
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "a long, b long"
        )
        out = run("dedup.cluster", spark, [ids, pairs], id_col="doc_id")
        comp = {r.doc_id: r.comp for r in out["components"].collect()}
        assert comp == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
        assert sorted(r.doc_id for r in out["out"].collect()) == [0, 1, 4, 5, 7]

    def test_long_chain_converges(self, spark):
        n = 12
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a long, b long"
        )
        out = run("dedup.cluster", spark, [ids, pairs], id_col="doc_id")
        comps = {r.comp for r in out["components"].collect()}
        assert comps == {0}  # one component, min label 0


class TestSimilarityPandasPath:
    def test_pandas_matches_expr_topk(self, spark):
        # unquantized: the ranks match a float cosine reference
        import random

        rng = random.Random(5)
        data = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        q = df.filter("vec_id < 4")
        cfg = dict(id_col="vec_id", vec_col="embedding",
                   query_id_col="vec_id", query_vec_col="embedding", k=5)
        out = run("similarity.topk_bruteforce", spark, [df, q], **cfg)
        corpus = {r.vec_id: r.embedding for r in df.collect()}
        expect = topk_reference(
            corpus, {i: corpus[i] for i in range(4)}, k=5, quantize=None
        )
        got = {(r.query_id, r.rank): r.corpus_id for r in out.collect()}
        assert got == {key: cid for key, (cid, _) in expect.items()}


class TestTextClassify:
    def test_deterministic_labels_scores(self, spark):
        df = spark.createDataFrame(
            [(1, "great product"), (2, "terrible"), (3, None)],
            "id int, text string",
        )
        a = run("text.classify", spark, [df], text_col="text").collect()
        b = run("text.classify", spark, [df], text_col="text").collect()
        assert [(r.cls_label, r.cls_score) for r in a] == [
            (r.cls_label, r.cls_score) for r in b
        ]
        assert all(0.5 <= r.cls_score <= 1.0 for r in a)

    def test_logreg_trained_in_test(self, spark):
        # train a real logistic regression (numpy gradient descent) on
        # hash-bucketed bag-of-words, quantize the weights to ints, and
        # run inference THROUGH the operator's Arrow path — predictions
        # must match the model's own forward pass, and the model must
        # actually have learned the synthetic task
        import hashlib

        import numpy as np

        D, labels = 32, ["bad", "good"]
        pos_vocab = ["great", "excellent", "love", "superb", "fine"]
        neg_vocab = ["awful", "terrible", "hate", "broken", "worst"]
        filler = ["the", "a", "item", "was", "very", "quite"]
        rng = np.random.RandomState(7)

        def doc(y):
            words = list(rng.choice(pos_vocab if y else neg_vocab, 3))
            words += list(rng.choice(filler, 4))
            rng.shuffle(words)
            return " ".join(words)

        def feat(text):
            x = np.zeros(D)
            for tok in text.lower().split():
                x[int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % D] += 1
            return x

        ys = rng.randint(0, 2, 200)
        docs = [doc(y) for y in ys]
        X = np.stack([feat(t) for t in docs])
        w = np.zeros(D)
        for _ in range(300):  # plain logistic GD
            p = 1 / (1 + np.exp(-(X @ w)))
            w -= 0.1 * (X.T @ (p - ys)) / len(ys)
        Wq = np.round(w * 1000).astype(np.int64)
        weights = {"bad": (-Wq).tolist(), "good": Wq.tolist()}

        test_rows = [(i, doc(i % 2)) for i in range(60)]
        df = spark.createDataFrame(test_rows, "id long, text string")
        out = {r.id: r for r in run(
            "text.classify", spark, [df], text_col="text", model="logreg",
            hash_dim=D, labels=labels, weights=weights).collect()}
        # operator output == the model's own forward pass
        for i, t in test_rows:
            logits = np.array([feat(t) @ (-Wq), feat(t) @ Wq])
            assert out[i].cls_label == labels[int(logits.argmax())]
            assert out[i].cls_score == float(logits.max())
        # and the trained model actually classifies the task
        acc = sum(
            out[i].cls_label == ("good" if i % 2 else "bad")
            for i, _ in test_rows
        ) / len(test_rows)
        assert acc >= 0.95


class TestSemanticDedup:
    def _clustered(self, spark):
        # two well-separated directions. Ids 27 and 6 are the md5-hex-
        # smallest (the md5-ordered sample picks them as the centroids,
        # one per direction); 1~=0 and 11~=10 are planted near-dups; 2
        # and 12 are distinct members of the same clusters.
        rows = [
            (6, [0.7, -0.7, 0.0, 0.0]),
            (0, [0.999, 0.01, 0.0, 0.0]),
            (1, [0.999, 0.012, 0.0, 0.0]),
            (2, [0.9, 0.4, 0.0, 0.0]),
            (27, [0.0, 0.0, 0.7, 0.7]),
            (10, [0.0, 0.0, 0.999, 0.01]),
            (11, [0.0, 0.0, 0.999, 0.012]),
            (12, [0.0, 0.3, 0.9, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, v array<double>")

    def test_releases_caches_without_ports(self, spark):
        # return_pairs=False must not leak the scored-pairs cache
        # (ADVICE r4): at most the BOUNDED dropped-id frame stays
        # persisted after the operator returns, for either keep rule
        spark.catalog.clearCache()
        df = self._clustered(spark)
        jsc = spark.sparkContext._jsc.sc()
        for keep in ("min_id", "far_centroid"):
            before = jsc.getPersistentRDDs().size()
            out = run("dedup.semantic", spark, [df], id_col="vec_id",
                      vec_col="v", n_clusters=2, threshold=0.99,
                      quantize=10000, keep=keep)
            out.count()
            assert jsc.getPersistentRDDs().size() - before <= 1, keep
        spark.catalog.clearCache()

    def test_semantic_accepts_kmeans_centroid_input(self, spark):
        # wire cluster.kmeans' centroids port as dedup.semantic's second
        # input (the full-corpus clustering path): planted near-dups in
        # both direction blobs must still be removed, and the config
        # guards must fire
        df = self._clustered(spark)
        km = run("cluster.kmeans", spark, [df], id_col="vec_id",
                 vec_col="v", k=2, n_iter=2, quantize=10000)
        out = run("dedup.semantic", spark, [df, km["centroids"]],
                  id_col="vec_id", vec_col="v", threshold=0.99,
                  quantize=10000, return_pairs=True)
        pairs = sorted((r.a, r.b) for r in out["pairs"].collect())
        assert (0, 1) in pairs and (10, 11) in pairs
        kept = sorted(r.vec_id for r in out["out"].collect())
        assert 1 not in kept and 11 not in kept and 0 in kept and 10 in kept
        with pytest.raises(ValueError, match="quantize"):
            run("dedup.semantic", spark, [df, km["centroids"]],
                id_col="vec_id", vec_col="v", threshold=0.99)
        with pytest.raises(ValueError, match="empty centroid"):
            run("dedup.semantic", spark,
                [df, km["centroids"].filter(F.lit(False))],
                id_col="vec_id", vec_col="v", threshold=0.99,
                quantize=10000)

    def test_verify_nprobe_catches_boundary_pair(self, spark):
        """verify_nprobe=2 (round 5): a near-dup pair whose endpoints
        assign to DIFFERENT clusters is unscored at nprobe=1 (SemDeDup's
        documented recall boundary) and found via the runner-up cluster
        at nprobe=2 — with the duplicate find collapsed exactly. With
        and without `quantize` (one ranked-assignment kernel)."""
        import hashlib

        ids = sorted(
            range(40),
            key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
        )
        ca, cb = ids[0], ids[1]  # md5-smallest -> the two centroids
        oa, ob = [i for i in range(40) if i not in (ca, cb)][:2]
        rows = [
            (ca, [1.0, 0.0, 0.0, 0.0]),
            (cb, [0.0, 1.0, 0.0, 0.0]),
            (oa, [0.72, 0.70, 0.0, 0.0]),  # nearer ca
            (ob, [0.70, 0.72, 0.0, 0.0]),  # nearer cb; cos(oa,ob)~0.9994
        ]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        key = (min(oa, ob), max(oa, ob))
        for quantize in (10000, None):
            common = dict(id_col="vec_id", vec_col="v", n_clusters=2,
                          threshold=0.99, quantize=quantize,
                          return_pairs=True)
            p1 = {(r.a, r.b) for r in run(
                "dedup.semantic", spark, [df], **common)["pairs"].collect()}
            rows2 = run("dedup.semantic", spark, [df], verify_nprobe=2,
                        **common)["pairs"].collect()
            p2 = {(r.a, r.b) for r in rows2}
            # split across clusters: unscored by design at nprobe=1
            assert key not in p1, quantize
            assert key in p2, quantize  # runner-up cluster catches it
            assert len(rows2) == len(p2)  # duplicate finds collapsed
            assert p1 <= p2
            spark.catalog.clearCache()

    def test_within_cluster_pairs_and_survivors(self, spark):
        df = self._clustered(spark)
        r = run("dedup.semantic", spark, [df], id_col="vec_id", vec_col="v",
                n_clusters=2, threshold=0.99, quantize=10000,
                return_pairs=True, return_assignments=True)
        pairs = {(p.a, p.b) for p in r["pairs"].collect()}
        assert pairs == {(0, 1), (10, 11)}
        assert {x.vec_id for x in r["out"].collect()} == {0, 2, 6, 10, 12, 27}
        asg = {a.vec_id: a.cluster for a in r["assignments"].collect()}
        # cluster scoping: the two planted groups never share a cluster
        assert len({asg[0], asg[10]}) == 2
        assert asg[0] == asg[1] == asg[2] == asg[6]
        assert asg[10] == asg[11] == asg[12] == asg[27]

    def test_far_centroid_keep_rule(self, spark):
        # keep='far_centroid' keeps the pair member FARTHER from its
        # centroid (the SemDeDup diversity rule) — here that is the
        # LARGER id, so the outcome provably differs from min_id.
        # Centroid = vec of id 27 (md5-smallest), one cluster.
        rows = [
            (27, [1.0, 0.0, 0.0, 0.0]),
            (0, [0.95, 0.312, 0.0, 0.0]),   # cos to centroid 0.95
            (1, [0.9, 0.436, 0.0, 0.0]),    # cos to centroid 0.90
        ]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        cfg = dict(id_col="vec_id", vec_col="v", n_clusters=1,
                   threshold=0.98, quantize=10000, return_pairs=True)
        r = run("dedup.semantic", spark, [df], keep="far_centroid", **cfg)
        assert {(p.a, p.b) for p in r["pairs"].collect()} == {(0, 1)}
        # 0 is closer to the centroid -> dropped; 1 survives
        assert {x.vec_id for x in r["out"].collect()} == {1, 27}
        r2 = run("dedup.semantic", spark, [df], **cfg)  # min_id default
        assert {x.vec_id for x in r2["out"].collect()} == {0, 27}

    def test_deterministic_and_matches_bruteforce_in_cluster(self, spark):
        import itertools

        df = self._clustered(spark)
        cfg = dict(id_col="vec_id", vec_col="v", n_clusters=2,
                   threshold=0.9, quantize=10000, return_pairs=True,
                   return_assignments=True)
        r1 = run("dedup.semantic", spark, [df], **cfg)
        got = {(p.a, p.b): p.cosine for p in r1["pairs"].collect()}
        r2 = run("dedup.semantic", spark, [df], **cfg)
        assert got == {(p.a, p.b): p.cosine for p in r2["pairs"].collect()}
        # brute-force within the operator's own clusters
        asg = {a.vec_id: a.cluster for a in r1["assignments"].collect()}
        rows = {r[0]: r[1] for r in self._clustered(spark).collect()}
        expect = {
            (a, b): qcos(rows[a], rows[b])
            for a, b in itertools.combinations(sorted(rows), 2)
            if asg[a] == asg[b] and qcos(rows[a], rows[b]) >= 0.9
        }
        assert got == expect
        # unquantized: the same numpy verify, within 1e-9 of the float
        # cosine (BLAS summation order moves only the last ulps)
        del cfg["quantize"]
        ru = run("dedup.semantic", spark, [df], **cfg)
        gotu = {(p.a, p.b): p.cosine for p in ru["pairs"].collect()}
        asg = {a.vec_id: a.cluster for a in ru["assignments"].collect()}
        expu = {
            (a, b): qcos(rows[a], rows[b], None)
            for a, b in itertools.combinations(sorted(rows), 2)
            if asg[a] == asg[b] and qcos(rows[a], rows[b], None) >= 0.9
        }
        assert gotu.keys() == expu.keys() and expu
        assert all(abs(gotu[k] - expu[k]) < 1e-9 for k in expu)

    def test_cluster_cap_guard(self, spark):
        df = self._clustered(spark)
        import pytest

        with pytest.raises(ValueError, match="cluster_cap"):
            run("dedup.semantic", spark, [df], id_col="vec_id",
                vec_col="v", n_clusters=1, threshold=0.9, cluster_cap=4)

    def test_empty_input_returns_empty_ports(self, spark):
        empty = self._clustered(spark).filter("vec_id < 0")
        r = run("dedup.semantic", spark, [empty], id_col="vec_id",
                vec_col="v", n_clusters=2, threshold=0.9, quantize=10000,
                return_pairs=True, return_assignments=True)
        assert r["out"].count() == 0
        assert r["pairs"].count() == 0
        assert r["assignments"].count() == 0

    def test_duplicate_ids_no_self_pairs(self, spark):
        # a duplicated id must not emit an (x, x) self-pair — the
        # survivor anti-join would read that as "drop id x entirely";
        # with and without quantize (the same `_cos_pairs` verify)
        rows = [
            (7, [1.0, 0.0, 0.0, 0.0]),
            (7, [1.0, 0.0, 0.0, 0.0]),
            (9, [0.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        cfg = dict(id_col="vec_id", vec_col="v", n_clusters=1,
                   threshold=0.9, quantize=10000, return_pairs=True)
        rb = run("dedup.semantic", spark, [df], **cfg)
        del cfg["quantize"]
        rj = run("dedup.semantic", spark, [df], **cfg)
        assert rb["pairs"].count() == 0 == rj["pairs"].count()
        assert sorted(x.vec_id for x in rb["out"].collect()) == [7, 7, 9]
        assert sorted(x.vec_id for x in rj["out"].collect()) == [7, 7, 9]


class TestIvfKmeans:
    def test_full_probe_matches_bruteforce(self, spark):
        import random

        rng = random.Random(9)
        # 4 well-separated clusters
        centers = [[10, 0, 0, 0], [0, 10, 0, 0], [0, 0, 10, 0], [0, 0, 0, 10]]
        data = [
            (i, [c + rng.gauss(0, 0.5) for c in centers[i % 4]])
            for i in range(200)
        ]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        q = df.filter("vec_id < 4")
        cfg = dict(id_col="vec_id", vec_col="embedding",
                   query_id_col="vec_id", query_vec_col="embedding", k=3)
        bf = run("similarity.topk_bruteforce", spark, [df, q], **cfg)
        ivf = run("similarity.topk_ivf", spark, [df, q], centroids=4,
                  nprobe=4, kmeans=True, **cfg)
        gb = {(r.query_id, r.rank): r.corpus_id for r in bf.collect()}
        gi = {(r.query_id, r.rank): r.corpus_id for r in ivf.collect()}
        assert gb == gi  # full probe == exact

    def test_numpy_assignment_matches_expr(self, spark):
        # the quantized numpy assign kernel must place every vector in
        # the same top-n lists as the Catalyst quantized-cosine ranking
        # (array_sort of (-cosine, cid)) the oracle re-derives, and
        # topk_ivf must probe, score and rank exactly as that ranking
        # plus the Catalyst quantized cosine do — any divergence here is
        # a silent correctness hole
        import random

        from ssis_to_pyspark_agent_spark.operators.similarity import (
            _ivf_assign_frame,
        )

        rng = random.Random(11)
        data = [
            (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)
        ]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        cents = [
            list(r.embedding)
            for r in df.orderBy(F.md5(F.col("vec_id").cast("string")))
            .limit(8).collect()
        ]
        got = {
            r.vec_id: list(r._cids)
            for r in _ivf_assign_frame(
                df, "vec_id", "embedding", cents, 10000, 3
            ).collect()
        }
        cent_arr = F.array(*[
            F.struct(F.lit(i).alias("cid"),
                     F.array(*[F.lit(float(x)) for x in c]).alias("v"))
            for i, c in enumerate(cents)
        ])
        scored = F.transform(cent_arr, lambda s: F.struct(
            (-_cosine(F.col("embedding"), s["v"], 10000)).alias("neg"),
            s["cid"].alias("cid"),
        ))
        top = F.transform(F.slice(F.array_sort(scored), 1, 3),
                          lambda s: s["cid"])
        want = {
            r.vec_id: list(r.c)
            for r in df.select("vec_id", top.alias("c")).collect()
        }
        assert got == want

        # end to end with a partial probe (3 of 8 lists): each query's
        # candidates are the corpus rows whose nearest list is one of
        # its 3 nearest, scored by the Catalyst quantized cosine
        q = df.filter("vec_id < 6")
        ivf = run("similarity.topk_ivf", spark, [df, q], id_col="vec_id",
                  vec_col="embedding", query_id_col="vec_id",
                  query_vec_col="embedding", k=4, centroids=8, nprobe=3,
                  quantize=10000)
        pairs = spark.createDataFrame(
            [(qi, ci) for qi in range(6) for ci in want
             if want[ci][0] in want[qi]],
            "query_id long, corpus_id long",
        )
        vecs = df.select("vec_id", "embedding")
        scored = (
            pairs.join(vecs.toDF("query_id", "_qv"), "query_id")
            .join(vecs.toDF("corpus_id", "_cv"), "corpus_id")
            .select("query_id", "corpus_id",
                    _cosine(F.col("_cv"), F.col("_qv"), 10000)
                    .alias("cosine"))
            .collect()
        )
        ref = []
        for qi in range(6):
            ranked = sorted((r for r in scored if r.query_id == qi),
                            key=lambda r: (-r.cosine, r.corpus_id))
            ref += [(qi, r.corpus_id, r.cosine, i + 1)
                    for i, r in enumerate(ranked[:4])]
        assert len(ref) == 24
        assert sorted(map(tuple, ivf.collect())) == sorted(ref)

    def test_single_probe_recall_on_clustered_data(self, spark):
        import random

        rng = random.Random(10)
        centers = [[10, 0], [0, 10]]
        data = [
            (i, [c + rng.gauss(0, 0.3) for c in centers[i % 2]])
            for i in range(100)
        ]
        df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        q = df.filter("vec_id < 2")
        cfg = dict(id_col="vec_id", vec_col="embedding",
                   query_id_col="vec_id", query_vec_col="embedding", k=1)
        ivf = run("similarity.topk_ivf", spark, [df, q], centroids=2,
                  nprobe=1, kmeans=True, **cfg)
        top1 = {r.query_id: r.corpus_id for r in ivf.collect()}
        assert top1 == {0: 0, 1: 1}  # self found even probing 1 list

    def test_centroid_sample_takes_no_shuffle(self, spark, monkeypatch):
        # the centroid samples (hash order or the k-means sample) are a
        # top-n over the corpus: they must read the corpus as given, not
        # through the spread (a rebalance here) that feeds the
        # assignment kernel — in topk_ivf and dedup.semantic alike
        import random

        rng = random.Random(12)
        data = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
        df = spark.createDataFrame(
            data, "vec_id long, embedding array<float>"
        ).coalesce(1)  # narrower than the cores, so the corpus is spread
        q = df.filter("vec_id < 3")
        frame = type(df)  # the session's concrete DataFrame class
        collect = frame.collect
        plans = []

        def recording_collect(self):
            out = collect(self)
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return out

        calls = {
            "similarity.topk_ivf": lambda **kw: run(
                "similarity.topk_ivf", spark, [df, q], id_col="vec_id",
                vec_col="embedding", query_id_col="vec_id",
                query_vec_col="embedding", k=2, centroids=4, nprobe=2,
                quantize=10000, **kw),
            "dedup.semantic": lambda **kw: run(
                "dedup.semantic", spark, [df], id_col="vec_id",
                vec_col="embedding", n_clusters=4, threshold=0.99,
                quantize=10000, **kw),
        }
        for op, call in calls.items():
            for kmeans in (False, True):
                plans.clear()
                monkeypatch.setattr(frame, "collect", recording_collect)
                call(kmeans=kmeans)
                monkeypatch.undo()
                spark.catalog.clearCache()
                samples = [p for p in plans if "TakeOrderedAndProject" in p]
                assert len(samples) == 1, (op, kmeans, plans)
                assert "Exchange" not in samples[0], (op, kmeans, samples[0])


class TestProfileProperty:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(vals=st.lists(st.one_of(st.none(), st.integers(-10**6, 10**6)),
                         min_size=1, max_size=30))
    @settings(max_examples=12, deadline=None)
    def test_profile_matches_python_reference(self, spark, vals):
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        row = run("profile", spark, [df], exact_distinct=True).collect()[0]
        nn = [v for v in vals if v is not None]
        assert row["n_rows"] == len(vals)
        assert row["n_nonnull"] == len(nn)
        assert row["n_distinct"] == len(set(nn))
        if nn:
            assert row["min_num"] == float(min(nn))
            assert row["max_num"] == float(max(nn))
            assert row["mean"] == sum(nn) / len(nn)
        else:
            assert row["min_num"] is None and row["mean"] is None


def _package_trees(subdir=""):
    import ast
    from pathlib import Path

    import ssis_to_pyspark_agent_spark

    root = Path(ssis_to_pyspark_agent_spark.__file__).parent / subdir
    for path in sorted(root.rglob("*.py")):
        yield path, ast.parse(path.read_text())


def _config_keys(tree):
    """String keys read as ``config.get("k")`` or ``config["k"]``
    (``cfg`` too) anywhere in `tree`."""
    import ast

    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get" and node.args):
            holder, key = node.func.value, node.args[0]
        elif isinstance(node, ast.Subscript):
            holder, key = node.value, node.slice
        else:
            continue
        if (isinstance(holder, ast.Name) and holder.id in ("config", "cfg")
                and isinstance(key, ast.Constant)
                and isinstance(key.value, str)):
            yield key.value


def test_no_new_alternate_implementation_keys():
    """No ``impl`` or ``*_impl`` string under operators/, and no
    ``method`` key read by the vector operators: each alternate kernel
    behind a user-set flag is a second implementation to keep in sync
    with the default. (The ``method`` keys of ``sample`` and the fuzzy
    lookup choose semantics, not kernels.)"""
    import ast
    import re

    found = set()
    for path, tree in _package_trees("operators"):
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and re.fullmatch(r"(\w+_)?impl", node.value)):
                    found.add((path.name, getattr(top, "name", None),
                               node.value))
        if path.name in ("similarity.py", "dedup.py"):
            found |= {(path.name, k) for k in _config_keys(tree)
                      if k == "method"}
    assert not found, found


#: config keys deleted together with the code paths they selected: the
#: session's checkpoint directory decides where the cc loops cut, the
#: prefix filter and its order are chosen by dedup.ngram_jaccard itself,
#: Spark's size threshold plans the MinHash verify and batch-band joins,
#: ``block_exprs`` expresses column blocking, and the centroid sample is
#: md5-ordered. The k-means iteration count and sample size,
#: dedup.embedding's table bound, the incremental candidate cap and the
#: n-gram block count are private constants.
_DELETED_KEYS = {"checkpoint_dir", "prefix_filter", "prefix_order",
                 "kmeans_iters", "kmeans_sample", "max_tables",
                 "verify_broadcast", "broadcast_batch", "cand_cap",
                 "block_by", "blocks", "centroid_order"}


def test_no_deleted_option_keys():
    """No module under operators/ reads a deleted option as a config key
    (``config.get("k")`` or ``config["k"]``), and dedup.py reads no
    ``eager``: dedup.spans goes eager by input size alone (row_count and
    incremental_load keep their own ``eager``)."""
    found = set()
    for path, tree in _package_trees("operators"):
        deleted = _DELETED_KEYS | ({"eager"} if path.name == "dedup.py"
                                   else set())
        found |= {(path.name, k) for k in _config_keys(tree) if k in deleted}
    assert not found, found


def test_minhash_verify_is_one_unhinted_helper():
    """Both MinHash operators verify through `_jaccard_verify`, and
    neither they, the helper nor `_keep_min_survivors` (which takes no
    ``broadcast`` parameter) calls ``broadcast``: Spark's size threshold
    plans those joins."""
    import ast

    funcs = {n.name: n for path, tree in _package_trees("operators")
             if path.name == "dedup.py"
             for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert [a.arg for a in funcs["_keep_min_survivors"].args.args] == [
        "df", "id_col", "pairs"]

    def calls(name):
        return {getattr(c.func, "attr", getattr(c.func, "id", None))
                for c in ast.walk(funcs[name]) if isinstance(c, ast.Call)}

    for op in ("dedup_minhash", "dedup_minhash_incremental"):
        assert "_jaccard_verify" in calls(op), op
    for name in ("dedup_minhash", "dedup_minhash_incremental",
                 "_jaccard_verify", "_keep_min_survivors"):
        assert "broadcast" not in calls(name), name


def test_one_cosine_path_whatever_quantize_says():
    """No module under operators/ defines or calls a Catalyst cosine
    (``_dot``, ``_norm``, ``_cosine``), and none passes ``_spread`` a
    computed ``by_bytes``: every cosine is the numpy kernel, so nothing
    may pick a second path (or a different spread) by ``quantize``.
    The top-k operators score through ``_probe_score_frame`` only: no
    module defines ``_ivf_score_frame``, and only dedup.embedding's
    verify (dedup.py) calls the per-pair ``_pair_cosine_frame``."""
    import ast

    exprs = {"_dot", "_norm", "_cosine"}
    found = set()
    for path, tree in _package_trees("operators"):
        for node in ast.walk(tree):
            if (isinstance(node, ast.FunctionDef)
                    and node.name in exprs | {"_ivf_score_frame"}):
                found.add((path.name, "def", node.name))
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if name in exprs or (name == "_pair_cosine_frame"
                                 and path.name != "dedup.py"):
                found.add((path.name, "call", name))
            if name == "_spread":
                flags = node.args[2:] + [
                    k.value for k in node.keywords if k.arg == "by_bytes"
                ]
                if any(not isinstance(f, ast.Constant) for f in flags):
                    found.add((path.name, "by_bytes", node.lineno))
    assert not found, found


#: the only operator config key whose name mentions ``broadcast``: the
#: explicit side hint of join/range_join. A join Spark's size threshold
#: already plans needs no key.
_BROADCAST_KEYS_ALLOWED = {"broadcast"}

#: the only environment variables the package reads: deployment settings.
_ENV_VARS_ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def test_no_new_broadcast_config_keys():
    """Every config key read under operators/ (``config.get("k")`` or
    ``config["k"]``) whose name contains ``broadcast`` must be on the
    allow-list."""
    found = {k for _path, tree in _package_trees("operators")
             for k in _config_keys(tree) if "broadcast" in k}
    assert found <= _BROADCAST_KEYS_ALLOWED, found - _BROADCAST_KEYS_ALLOWED


def test_env_reads_are_deployment_settings():
    """Every ``os.environ``/``os.getenv`` read in the package names a
    literal variable on the allow-list; any other use of ``environ``
    (a computed key, iteration) fails too."""
    import ast

    found, uses, reads = set(), 0, 0
    for path, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "environ":
                uses += 1
            key = None
            if (isinstance(node, ast.Call) and node.args
                    and isinstance(node.func, ast.Attribute)):
                f = node.func
                if (isinstance(f.value, ast.Attribute)
                        and f.value.attr == "environ"):
                    key, reads = node.args[0], reads + 1
                elif f.attr == "getenv":
                    key = node.args[0]
            elif (isinstance(node, ast.Subscript)
                    and isinstance(node.value, ast.Attribute)
                    and node.value.attr == "environ"):
                key, reads = node.slice, reads + 1
            if key is not None:
                found.add(key.value if isinstance(key, ast.Constant)
                          else f"<computed key in {path.name}>")
    assert uses == reads, "environ used other than as a literal-key read"
    assert found <= _ENV_VARS_ALLOWED, found - _ENV_VARS_ALLOWED


def test_lsh_dedup_never_repersists_a_cached_frame(spark, sf_dir,
                                                   monkeypatch):
    """`_bucket_pairs` returns its candidate frame already persisted and
    counted; dedup.minhash and dedup.embedding own that cache and must
    not persist it again (Spark warns "Asked to cache already cached
    data" and the second call hides which function owns the cache)."""
    from pyspark import StorageLevel

    spark.catalog.clearCache()
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # only its abstract base)
    cls = type(spark.range(1))
    orig = cls.persist
    again = []

    def persist(self, *a, **k):
        if self.storageLevel != StorageLevel.NONE:
            again.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "persist", persist)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    try:
        mh = run("dedup.minhash", spark, [docs], id_col="doc_id",
                 text_col="text", threshold=0.7, return_pairs=True)
        assert mh["pairs"].count() > 0
        ed = run("dedup.embedding", spark, [emb], id_col="vec_id",
                 vec_col="embedding", threshold=0.35, quantize=10000,
                 brute_force=False, return_pairs=True)
        assert ed["pairs"].count() > 0
    finally:
        spark.catalog.clearCache()
    assert not again, f"{len(again)} frame(s) persisted twice"


def test_minhash_auto_band_selection():
    from ssis_to_pyspark_agent_spark.operators.dedup import _auto_bands

    assert _auto_bands(128, 0.8) == 16   # classic 16x8, midpoint 0.707
    assert _auto_bands(128, 0.7) == 16   # midpoint 0.707 counts as "at"
    assert _auto_bands(128, 0.9) == 8    # midpoint 0.878
    assert _auto_bands(128, 0.5) == 32   # midpoint 0.420
    assert _auto_bands(128, 0.05) == 64  # nothing below: loosest banding


def test_stratified_sample_rates(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(1000)],
        "id long, s string",
    )
    out = run("sample", spark, [df], method="stratified", strata_col="s",
              key=["id"], mod=True, buckets=1000,
              fractions={"a": 1.0, "b": 0.0})
    got = {r["s"] for r in out.collect()}
    assert got == {"a"} and out.count() == 500
    # hashed variant: approximate rate, deterministic across runs
    h1 = run("sample", spark, [df], method="stratified", strata_col="s",
             key=["id"], fractions={"a": 0.5, "b": 0.1})
    h2 = run("sample", spark, [df], method="stratified", strata_col="s",
             key=["id"], fractions={"a": 0.5, "b": 0.1})
    assert sorted(r.id for r in h1.collect()) == sorted(r.id for r in h2.collect())
    na = h1.filter("s = 'a'").count()
    assert 200 < na < 300  # ~250 expected at 0.5 over 500


def test_term_lookup_empty_inputs(spark):
    """Explode + equi-join path: empty docs, empty dictionary, and docs
    with no matches must all produce an empty (not failing) result."""
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    no_docs = docs.limit(0)
    terms = spark.createDataFrame([("alpha",)], "term string")
    no_terms = terms.limit(0)
    assert run("term_lookup", spark, [no_docs, terms],
               text_col="text", term_col="term").count() == 0
    assert run("term_lookup", spark, [docs, no_terms],
               text_col="text", term_col="term").count() == 0
    miss = spark.createDataFrame([("zeta",)], "term string")
    assert run("term_lookup", spark, [docs, miss],
               text_col="text", term_col="term").count() == 0
    hit = run("term_lookup", spark, [docs, terms],
              text_col="text", term_col="term")
    assert [(r.term, r.term_count) for r in hit.collect()] == [("alpha", 1)]


def test_profile_and_stratified_empty_input(spark):
    empty = spark.createDataFrame([], "k int, s string")
    prof = run("profile", spark, [empty], exact_distinct=True)
    got = {r["column"]: r for r in prof.collect()}
    assert got["k"]["n_rows"] == 0 and got["k"]["n_distinct"] == 0
    assert got["k"]["min_num"] is None and got["s"]["min_str"] is None
    samp = run("sample", spark, [empty], method="stratified", strata_col="s",
               key=["k"], fractions={"a": 0.5})
    assert samp.count() == 0


def test_html_extract(spark):
    pages = [
        # script/style/comment content must vanish, even with '<' inside
        (1, "<html><head><title> A &amp; B </title>"
            "<style>p {color: red}</style>"
            "<script>if (1 < 2) { alert('<hi>') }</script></head>"
            "<body><!-- nav --><h1>Hello</h1><p>world</p></body></html>"),
        # entity decode must be single-pass: &amp;lt; -> '&lt;' not '<'
        (2, "<p>5 &lt; 6 &amp;&amp; 7 &gt; 3, literally &amp;lt;</p>"),
        # block closers become line breaks; whitespace collapses
        (3, "<div>line one</div>\n\n  <div>line   two</div>"
            "<br>line three"),
        # no markup at all passes through (normalized)
        (4, "just   plain  text"),
        (5, None),
    ]
    docs = spark.createDataFrame(pages, "doc_id int, page string")
    out = {
        r.doc_id: r
        for r in run(
            "text.html_extract", spark, [docs], html_col="page",
            title_col="title", keep_html=True,
        ).collect()
    }
    assert out[1].page_text == "A & B\nHello\nworld"
    assert out[1].title == "A & B"
    assert out[2].page_text == "5 < 6 && 7 > 3, literally &lt;"
    assert out[2].title == ""
    assert out[3].page_text == "line one\nline two\nline three"
    assert out[4].page_text == "just plain text"
    assert out[5].page_text is None
    # default drops the raw markup column (widest column in the scan)
    slim = run("text.html_extract", spark, [docs], html_col="page")
    assert "page" not in slim.columns and "page_text" in slim.columns


def test_redact_and_decontaminate(spark):
    docs = spark.createDataFrame(
        [(1, "mail me at a.b@x.org or 10.1.2.3 and 555-123-4567 twice "
             "a.b@x.org"),
         (2, "clean text with no pii at all")],
        "doc_id int, text string",
    )
    red = run("text.redact", spark, [docs], text_col="text", out="red")
    got = {r.doc_id: r for r in red.collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (2, 1, 1)
    assert "[EMAIL]" in got[1].red and "[IPV4]" in got[1].red
    assert "a.b@x.org" not in got[1].red
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 0)
    assert got[2].red == got[2].text

    # luhn_cc: checksum-gated card redaction — a valid Visa/MC redacts
    # (separators allowed), a checksum-invalid neighbor and a too-short
    # digit run do not, and phone numbers stay the PHONE type
    cc = spark.createDataFrame(
        [(1, "pay 4111111111111111 not 4111111111111112"),
         (2, "cards 5500 0000 0000 0004 and 4111-1111-1111-1111"),
         (3, "order 123456789012 then call 555-123-4567")],
        "doc_id int, text string",
    )
    out = run("text.redact", spark, [cc], text_col="text", out="red",
              luhn_cc=True)
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].n_credit_card == 1
    assert "[CREDIT_CARD]" in got[1].red
    assert "4111111111111112" in got[1].red  # bad checksum untouched
    assert got[2].n_credit_card == 2
    assert got[2].red.count("[CREDIT_CARD]") == 2
    assert got[3].n_credit_card == 0
    assert "[PHONE]" in got[3].red and "123456789012" in got[3].red
    # without the flag: no cc column, no cc replacement (default stable)
    plain = run("text.redact", spark, [cc], text_col="text", out="red")
    assert "n_credit_card" not in plain.columns

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "prefix the quick brown fox jumps over the lazy dog suffix"),
         (2, "completely unrelated words about spark plans and shuffles ok")],
        "doc_id int, text string",
    )
    out = run("text.decontaminate", spark, [corpus, bench],
              id_col="doc_id", text_col="text", shingle_k=8)
    got = {r.doc_id: (r.n_overlap, r.contaminated) for r in out.collect()}
    assert got[1][0] >= 1 and got[1][1] is True
    assert got[2] == (0, False)


def _embedding_pairs_reference(emb, threshold, quantize):
    import itertools

    vecs = sorted((r.vec_id, r.embedding) for r in emb.collect())
    pairs = {(a, b): qcos(va, vb, quantize)
             for (a, va), (b, vb) in itertools.combinations(vecs, 2)}
    return {k: c for k, c in pairs.items() if c is not None and c >= threshold}


def test_embedding_bruteforce_pandas_matches_expr(spark):
    """The brute-force pairs are every pair at quantized cosine >= the
    threshold, value-identical to the quantized cosine definition."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id % 3 = 0")
    out = run("dedup.embedding", spark, [emb], id_col="vec_id",
              vec_col="embedding", threshold=0.3, brute_force=True,
              quantize=10000, return_pairs=True)
    got = {(r.a, r.b): r.cosine for r in out["pairs"].collect()}
    assert got == _embedding_pairs_reference(emb, 0.3, 10000) and got


def test_embedding_bruteforce_cap_guard(spark):
    """brute_force is the bounded exact baseline: above brute_force_cap it
    must raise (pointing at the LSH path) instead of collecting/crossJoining
    an unbounded input onto the driver."""
    import pytest

    emb = spark.range(10).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    with pytest.raises(ValueError, match="LSH"):
        run("dedup.embedding", spark, [emb], id_col="vec_id",
            vec_col="embedding", brute_force=True, brute_force_cap=5)
    # at the cap brute force still runs
    out = run("dedup.embedding", spark, [emb], id_col="vec_id",
              vec_col="embedding", brute_force=True, brute_force_cap=10,
              threshold=0.99, return_pairs=True)
    assert out["out"].count() <= 10


def test_embedding_bruteforce_unquantized_defaults_agree(spark):
    """With `quantize` unset, brute force runs UNQUANTIZED float cosine
    (it once defaulted to 10000 silently): the pairs are the float
    reference's, cosines equal to float-sum ulp."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id % 7 = 0")
    out = run("dedup.embedding", spark, [emb], id_col="vec_id",
              vec_col="embedding", threshold=0.3, brute_force=True,
              return_pairs=True)
    got = {(r.a, r.b): r.cosine for r in out["pairs"].collect()}
    expect = _embedding_pairs_reference(emb, 0.3, None)
    assert set(got) == set(expect) and got
    assert all(abs(got[k] - expect[k]) < 1e-9 for k in got)


def test_percentile_multiple_values(spark):
    """Multiple percentages must all survive (array output), not be
    silently narrowed to the first."""
    df = spark.range(1, 101).selectExpr("cast(id as double) as v")
    out = run("aggregate", spark, [df], keys=[], aggs={
        "p_one": ("percentile", "v", 0.5),
        "p_many": ("percentile", "v", 0.25, 0.5, 0.75),
        "pa_many": ("percentile_approx", "v", [0.25, 0.75]),
    }).first()
    assert out["p_one"] == 50.5
    assert out["p_many"] == [25.75, 50.5, 75.25]
    assert len(out["pa_many"]) == 2


def test_term_lookup_keeps_duplicate_rows(spark):
    """Fully-identical doc rows must each produce their own output rows
    (SSIS emits per input row) — the explode+regroup must not merge them."""
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (1, "alpha beta alpha")],
        "doc_id int, text string",
    )
    terms = spark.createDataFrame([("alpha",), ("beta",)], "term string")
    out = run("term_lookup", spark, [docs, terms],
              text_col="text", term_col="term")
    got = sorted((r.doc_id, r.term, r.term_count) for r in out.collect())
    assert got == [(1, "alpha", 2), (1, "alpha", 2),
                   (1, "beta", 1), (1, "beta", 1)]


def test_jpeg_header_with_fill_bytes(spark):
    """Spec-valid JPEGs may pad with 0xFF fill bytes before a marker —
    the SOF walk must skip them, not misread a length from them."""
    from ssis_to_pyspark_agent_spark.operators.multimodal import (
        parse_media_header,
    )

    jpg = _jpeg_bytes(44, 33)
    # inject two fill bytes between APP0 and SOF0
    padded = jpg[:2] + jpg[2:20] + b"\xff\xff" + jpg[20:]
    got = parse_media_header(padded)
    assert (got["format"], got["width"], got["height"]) == ("jpeg", 44, 33)


def test_media_header_rejects_forged_and_sof_less_payloads(spark):
    """ok=False, never a fabricated or schema-breaking answer: a PNG
    claiming width 2^31 must not blow up the Int32 output column, and a
    JPEG whose scan data starts before any SOF must not have entropy
    bytes misread as a SOF segment."""
    import struct
    import zlib

    from ssis_to_pyspark_agent_spark.operators.multimodal import (
        parse_media_header,
    )

    ihdr = struct.pack(">IIBBBBB", 1 << 31, 10, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    forged_png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr))
                  + chunk + struct.pack(">I", zlib.crc32(chunk)))
    assert parse_media_header(forged_png)["ok"] is False

    # SOI + SOS (no SOF), then entropy bytes containing a pseudo-SOF
    # marker 0xFF 0xC0 followed by plausible length/dims garbage
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x00\x00\x3f\x00\x00"
    entropy = b"\x12\xff\x00\x34" + b"\xff\xc0" + struct.pack(">H", 17) \
        + b"\x08" + struct.pack(">HH", 123, 456) + b"\x03"
    got = parse_media_header(b"\xff\xd8" + sos + entropy)
    assert got["ok"] is False and got["width"] is None


def test_xlsx_nonfinite_floats_become_blank_cells(tmp_path):
    """OOXML numeric cells cannot hold nan/inf — the writer must emit a
    blank cell (Excel's own representation) instead of repr(nan)."""
    from ssis_to_pyspark_agent_spark.sources.xlsx import (
        read_xlsx, write_xlsx,
    )

    path = str(tmp_path / "t.xlsx")
    write_xlsx(path, [["a", "b"],
                      [1.5, float("nan")],
                      [float("inf"), 2.0]])
    rows = read_xlsx(path)
    assert rows[1][0] == 1.5 and rows[1][1] is None
    assert rows[2][0] is None and rows[2][1] == 2.0


def test_percentile_approx_accuracy_argument(spark):
    """A trailing int > 1 is percentile_approx's ACCURACY, not another
    percentage (Spark (col, percentage, accuracy) signature)."""
    df = spark.range(1, 1001).selectExpr("cast(id as double) as v")
    out = run("aggregate", spark, [df], keys=[], aggs={
        "pa": ("percentile_approx", "v", 0.5, 10000),
        "pa_arr": ("percentile_approx", "v", [0.25, 0.75], 10000),
    }).first()
    assert 400 < out["pa"] < 600
    assert len(out["pa_arr"]) == 2


class TestClusterKmeans:
    @staticmethod
    def _py_kmeans(data, k, n_iter, quantize):
        # bit-exact Python replication of cluster.kmeans: half-up
        # quantization, md5-ordered seeding, exact int squared-L2 argmin
        # (tie -> lowest cluster), exact floor-div centroid update
        import hashlib
        import math

        def q(v):
            return [
                math.floor(x * quantize + 0.5)
                if x >= 0 else math.ceil(x * quantize - 0.5)
                for x in v
            ]

        vq = {i: q(v) for i, v in data}
        order = sorted(
            vq, key=lambda i: (
                int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i)
        )
        cents = [list(vq[i]) for i in order[:k]]

        def assign():
            lab = {}
            for i, v in vq.items():
                dists = [
                    sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents
                ]
                lab[i] = dists.index(min(dists))
                # Python's list.index == first occurrence == np.argmin
            return lab

        for _ in range(n_iter):
            lab = assign()
            sums: dict = {}
            cnt: dict = {}
            for i, c in lab.items():
                cnt[c] = cnt.get(c, 0) + 1
                s = sums.setdefault(c, [0] * len(vq[i]))
                for d, x in enumerate(vq[i]):
                    s[d] += x
            for c in range(k):
                if c in cnt:
                    cents[c] = [s // cnt[c] for s in sums[c]]
        return assign(), cents

    def test_kmeans_matches_python_replica_exactly(self, spark):
        import random

        rng = random.Random(7)
        blobs = [(-1.0, -1.0), (1.0, 1.0), (1.0, -1.0)]
        data = [
            (i, [bx + rng.uniform(-0.3, 0.3), by + rng.uniform(-0.3, 0.3),
                 rng.uniform(-0.1, 0.1)])
            for i in range(90)
            for bx, by in [blobs[i % 3]]
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in data],
            "vec_id long, embedding array<float>",
        )
        # float32 storage: replicate through the stored float values
        stored = [(r.vec_id, list(r.embedding)) for r in df.collect()]
        res = run("cluster.kmeans", spark, [df], id_col="vec_id",
                  vec_col="embedding", k=3, n_iter=3, quantize=1000)
        got = {r.vec_id: r.cluster for r in res["out"].collect()}
        exp_lab, exp_cents = self._py_kmeans(stored, 3, 3, 1000)
        assert got == exp_lab
        got_c = {(r.cluster, r.dim): r.val for r in res["centroids"].collect()}
        exp_c = {
            (c, d): exp_cents[c][d]
            for c in range(3) for d in range(3)
        }
        assert got_c == exp_c
        # structure: multiple clusters in use, and no two DIFFERENT blobs
        # share a majority label (seeding may split one blob — that's
        # Lloyd's with random seeds, not a bug; the replica equality
        # above is the real contract)
        from collections import Counter

        maj = {
            b: Counter(got[i] for i, _ in data if i % 3 == b).most_common(1)[0][0]
            for b in range(3)
        }
        assert len(set(got.values())) >= 2
        assert len(set(maj.values())) >= 2

    def test_kmeans_deterministic_and_out_schema(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 7)]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        r1 = run("cluster.kmeans", spark, [df], id_col="vec_id",
                 vec_col="embedding", k=4, n_iter=2)
        r2 = run("cluster.kmeans", spark, [df], id_col="vec_id",
                 vec_col="embedding", k=4, n_iter=2)
        a1 = sorted((r.vec_id, r.cluster) for r in r1["out"].collect())
        a2 = sorted((r.vec_id, r.cluster) for r in r2["out"].collect())
        assert a1 == a2
        assert r1["out"].columns == ["vec_id", "embedding", "cluster"]
        assert_local_scan(r1["centroids"])

    def test_kmeans_empty_cluster_keeps_centroid(self, spark):
        # two seed rows identical -> one cluster immediately starves;
        # its centroid must survive (not crash / NaN) and stay unused
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [10.0, 10.0])],
            "vec_id long, embedding array<float>",
        )
        res = run("cluster.kmeans", spark, [df], id_col="vec_id",
                  vec_col="embedding", k=3, n_iter=4)
        labs = {r.vec_id: r.cluster for r in res["out"].collect()}
        assert labs[1] == labs[2] != labs[3]
        assert res["centroids"].count() == 6  # 3 clusters x 2 dims

    def test_kmeans_validation_and_empty(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0])], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="exceeds"):
            run("cluster.kmeans", spark, [df], id_col="vec_id",
                vec_col="embedding", k=5)
        with pytest.raises(ValueError, match="already exists"):
            run("cluster.kmeans", spark, [df], id_col="vec_id",
                vec_col="embedding", k=1, cluster_col="embedding")
        # the EMPTY corpus raises through the same n<k branch (ADVICE
        # round 5: the old NULL-cluster pass-through was inconsistent
        # and fed cluster.prune's NULL-cluster raise downstream)
        empty = df.filter(F.lit(False))
        with pytest.raises(ValueError, match="exceeds the 0-row"):
            run("cluster.kmeans", spark, [empty], id_col="vec_id",
                vec_col="embedding", k=2)

    def test_kmeans_exactness_guard_fires(self, spark):
        # quantize so large that 4*m^2*dim crosses 2^53: the bit-exact
        # distance contract must FAIL LOUDLY instead of silently
        # drifting off the integer oracle (ADVICE round 5)
        df = spark.createDataFrame(
            [(i, [1.0, 1.0]) for i in range(4)],
            "vec_id long, embedding array<float>",
        )
        # n_iter=1 runs the update kernel eagerly inside the operator,
        # so the guard surfaces at invocation (wrapped by Py4J)
        with pytest.raises(Exception, match="exact float64 distance"):
            run("cluster.kmeans", spark, [df], id_col="vec_id",
                vec_col="embedding", k=2, n_iter=1, quantize=10**15)
        # well inside the bound: same data passes
        ok = run("cluster.kmeans", spark, [df], id_col="vec_id",
                 vec_col="embedding", k=2, n_iter=1, quantize=10**6)
        assert ok["out"].count() == 4

    def test_kmeans_minibatch_deterministic(self, spark):
        # batch_frac: md5-sampled update batches must be deterministic
        # across runs (engine-neutral hash, iteration-salted), and the
        # final labeling stays full-corpus
        df = spark.createDataFrame(
            [(i, [float(i % 13), float(i % 7)]) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        r1 = run("cluster.kmeans", spark, [df], id_col="vec_id",
                 vec_col="embedding", k=4, n_iter=3, batch_frac=0.5)
        r2 = run("cluster.kmeans", spark, [df], id_col="vec_id",
                 vec_col="embedding", k=4, n_iter=3, batch_frac=0.5)
        a1 = sorted((r.vec_id, r.cluster) for r in r1["out"].collect())
        a2 = sorted((r.vec_id, r.cluster) for r in r2["out"].collect())
        assert a1 == a2
        assert len(a1) == 200  # labeling is full-corpus
        c1 = sorted(map(tuple, r1["centroids"].collect()))
        c2 = sorted(map(tuple, r2["centroids"].collect()))
        assert c1 == c2
        with pytest.raises(ValueError, match="batch_frac"):
            run("cluster.kmeans", spark, [df], id_col="vec_id",
                vec_col="embedding", k=2, batch_frac=0.0)
        with pytest.raises(ValueError, match="batch_frac"):
            run("cluster.kmeans", spark, [df], id_col="vec_id",
                vec_col="embedding", k=2, batch_frac=1.5)

    def test_kmeans_minibatch_empty_batch_not_fixed_point(self, spark):
        # mini-batch mode must NOT treat an unchanged (here: EMPTY)
        # iteration-0 sample as Lloyd's fixed point — iteration 1 draws
        # a DIFFERENT salted sample and must still update (review
        # finding, round 6: the early break was only valid full-pass)
        import hashlib

        def h60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        thr = int(0.25 * (1 << 60))
        # ids that MISS the round-0 sample but HIT round 1
        ids = [i for i in range(5000)
               if h60(f"{i}:mb0") >= thr and h60(f"{i}:mb1") < thr][:8]
        assert len(ids) == 8
        df = spark.createDataFrame(
            [(i, [float(j)]) for j, i in enumerate(ids)],
            "vec_id long, embedding array<float>",
        )
        res = run("cluster.kmeans", spark, [df], id_col="vec_id",
                  vec_col="embedding", k=2, n_iter=2, batch_frac=0.25,
                  quantize=1000)
        seeds = sorted(
            r["_vq"][0] for r in df.select(
                F.transform("embedding",
                            lambda x: F.round(x * 1000).cast("long"))
                .alias("_vq")
            ).orderBy(
                F.conv(F.substring(F.md5(F.col("vec_id").cast("string")),
                                   1, 15), 16, 10).cast("bigint"),
                "vec_id",
            ).limit(2).collect()
        )
        got = sorted(r.val for r in res["centroids"].collect())
        # the round-1 update must have moved at least one centroid off
        # its seed (pre-fix code broke at the empty round-0 batch and
        # returned the seeds verbatim)
        assert got != seeds

    def test_kmeans_releases_its_cache(self, spark):
        # the iteration-loop persist must NOT outlive the operator
        # (NOTES invariant 13)
        df = spark.createDataFrame(
            [(i, [float(i)]) for i in range(20)],
            "vec_id long, embedding array<float>",
        )
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        run("cluster.kmeans", spark, [df], id_col="vec_id",
            vec_col="embedding", k=2, n_iter=2)
        after = len(spark.sparkContext._jsc.getPersistentRDDs())
        assert after == before

    def test_prune_hard_drops_prototypical(self, spark):
        # one cluster at origin with distances 0,1,4,9 (ids 1-4), one at
        # (100,) with distances 0,1 (ids 5-6); frac=0.5 keep='hard'
        # drops the floor(n/2) CLOSEST per cluster
        df = spark.createDataFrame(
            [(1, [0.0]), (2, [0.1]), (3, [0.2]), (4, [0.3]),
             (5, [100.0]), (6, [100.1])],
            "vec_id long, embedding array<float>",
        )
        assigned = df.withColumn(
            "cluster", (F.col("vec_id") > 4).cast("int")
        )
        cents = spark.createDataFrame(
            [(0, 0, 0), (1, 0, 1000)], "cluster int, dim int, val long"
        )
        res = run("cluster.prune", spark, [assigned, cents],
                  id_col="vec_id", vec_col="embedding", prune_frac=0.5,
                  keep="hard", quantize=10)
        kept = sorted((r.vec_id, r.dist) for r in res["out"].collect())
        # cluster 0: dists 0,1,4,9 -> drop ids 1,2 (closest); cluster 1:
        # dists 0,1 -> drop id 5
        assert kept == [(3, 4), (4, 9), (6, 1)]
        easy = run("cluster.prune", spark, [assigned, cents],
                   id_col="vec_id", vec_col="embedding", prune_frac=0.5,
                   keep="easy", quantize=10)
        assert sorted(r.vec_id for r in easy["out"].collect()) == [1, 2, 5]
        # scores port covers every row
        assert res["scores"].count() == 6

    def test_prune_frac_zero_and_validation(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0])], "vec_id long, embedding array<float>"
        ).withColumn("cluster", F.lit(0))
        cents = spark.createDataFrame(
            [(0, 0, 0)], "cluster int, dim int, val long"
        )
        out = run("cluster.prune", spark, [df, cents], id_col="vec_id",
                  vec_col="embedding", prune_frac=0.0)
        assert out["out"].count() == 1
        with pytest.raises(ValueError, match="prune_frac"):
            run("cluster.prune", spark, [df, cents], id_col="vec_id",
                vec_col="embedding", prune_frac=1.0)
        with pytest.raises(ValueError, match="keep"):
            run("cluster.prune", spark, [df, cents], id_col="vec_id",
                vec_col="embedding", prune_frac=0.5, keep="x")
        with pytest.raises(ValueError, match="cluster column"):
            run("cluster.prune", spark, [df.drop("cluster"), cents],
                id_col="vec_id", vec_col="embedding", prune_frac=0.5)
        with pytest.raises(ValueError, match="empty centroid"):
            run("cluster.prune", spark,
                [df, cents.filter(F.lit(False))],
                id_col="vec_id", vec_col="embedding", prune_frac=0.5)


class TestTextSegment:
    def test_paragraph_mode_dense_idx(self, spark):
        df = spark.createDataFrame(
            [(1, "first para\n\n\n  \nsecond para\n\n\n"),
             (2, "only one"),
             (3, "   ")],
            "doc_id long, text string",
        )
        out = run("text.segment", spark, [df], text_col="text",
                  mode="paragraph")
        rows = sorted((r.doc_id, r.seg_idx, r.seg_text, r.seg_tokens)
                      for r in out.collect())
        # trailing blank-line tail and the whitespace-only doc drop;
        # indices stay dense after the drop
        assert rows == [
            (1, 0, "first para", 2), (1, 1, "second para", 2),
            (2, 0, "only one", 2),
        ]

    def test_keep_empty_rows_survive(self, spark):
        # keep_empty=True (ADVICE round 5): NULL/empty/whitespace-only
        # docs keep one row with NULL seg fields and seg_tokens 0, so
        # funnel-style doc counts over segment output stay exact
        df = spark.createDataFrame(
            [(1, "one para"), (2, "   "), (3, None), (4, "")],
            "doc_id long, text string",
        )
        out = run("text.segment", spark, [df], text_col="text",
                  mode="paragraph", keep_empty=True)
        rows = sorted(
            (r.doc_id, r.seg_idx, r.seg_text, r.seg_tokens)
            for r in out.collect()
        )
        assert rows == [
            (1, 0, "one para", 2),
            (2, None, None, 0), (3, None, None, 0), (4, None, None, 0),
        ]
        # default (inner) drops them — the documented behavior
        inner = run("text.segment", spark, [df], text_col="text",
                    mode="paragraph")
        assert sorted(r.doc_id for r in inner.collect()) == [1]

    def test_sentence_mode(self, spark):
        df = spark.createDataFrame(
            [(1, "One two. Three!  Four? no end")],
            "doc_id long, text string",
        )
        out = run("text.segment", spark, [df], text_col="text",
                  mode="sentence")
        segs = [r.seg_text for r in out.orderBy("seg_idx").collect()]
        assert segs == ["One two.", "Three!", "Four?", "no end"]

    def test_fixed_words_windows(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g")], "doc_id long, text string"
        )
        out = run("text.segment", spark, [df], text_col="text",
                  mode="fixed_words", n=3)
        rows = [(r.seg_idx, r.seg_text, r.seg_tokens)
                for r in out.orderBy("seg_idx").collect()]
        assert rows == [(0, "a b c", 3), (1, "d e f", 3), (2, "g", 1)]
        with pytest.raises(ValueError, match="positive"):
            run("text.segment", spark, [df], text_col="text",
                mode="fixed_words", n=0)
        with pytest.raises(ValueError, match="mode"):
            run("text.segment", spark, [df], text_col="text", mode="x")

    def test_prune_single_distance_pass(self, spark):
        # the per-cluster size table must come from the INPUT, not the
        # scored frame — building it from `scored` ran the Python
        # distance kernel twice per action (review finding, round 5):
        # exactly ONE MapInPandas in the whole plan
        df = spark.createDataFrame(
            [(i, [float(i)], i % 2) for i in range(10)],
            "vec_id long, embedding array<float>, cluster int",
        )
        cents = spark.createDataFrame(
            [(0, 0, 0), (1, 0, 5000)], "cluster int, dim int, val long"
        )
        res = run("cluster.prune", spark, [df, cents], id_col="vec_id",
                  vec_col="embedding", prune_frac=0.4, quantize=1000)
        plan = res["out"]._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan

    def test_prune_rejects_foreign_or_null_clusters(self, spark):
        # wiring mistakes fail fast with a clear message, not an opaque
        # numpy IndexError in the worker
        cents = spark.createDataFrame(
            [(0, 0, 0), (1, 0, 5000)], "cluster int, dim int, val long"
        )
        bad = spark.createDataFrame(
            [(1, [0.0], 7)], "vec_id long, embedding array<float>, cluster int"
        )
        res = run("cluster.prune", spark, [bad, cents], id_col="vec_id",
                  vec_col="embedding", prune_frac=0.5, quantize=1000)
        with pytest.raises(Exception, match="different clusterings"):
            res["out"].collect()
        nullc = spark.createDataFrame(
            [(1, [0.0], None)],
            "vec_id long, embedding array<float>, cluster int",
        )
        res2 = run("cluster.prune", spark, [nullc, cents], id_col="vec_id",
                   vec_col="embedding", prune_frac=0.5, quantize=1000)
        with pytest.raises(Exception, match="NULL"):
            res2["out"].collect()

    def test_prune_nondyadic_frac_matches_duckdb_oracle(self, spark):
        # frac=0.3: DuckDB DECIMAL floor(0.3*10)=3 vs double
        # floor(2.999..)=2 — the oracle must emit the DOUBLE cast so
        # both engines keep the same rows (review finding, round 5)
        import duckdb

        from ssis_to_pyspark_agent_spark.queries import _q82_oracle

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        km = run("cluster.kmeans", spark, [emb], id_col="vec_id",
                 vec_col="embedding", k=4, n_iter=1, quantize=10000)
        pr = run("cluster.prune", spark, [km["out"], km["centroids"]],
                 id_col="vec_id", vec_col="embedding", prune_frac=0.3,
                 keep="hard", quantize=10000)
        got = sorted(r.vec_id for r in pr["out"].collect())
        con = duckdb.connect()
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    "'/root/testdata/sf0.001/embeddings.parquet'")
        osql = _q82_oracle(k=4, n_iter=1, quantize=10000, dims=64, frac=0.3)
        exp = sorted(r[0] for r in con.execute(osql).fetchall())
        assert got == exp

    def test_kmeans_null_embedding_fails_fast(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0]), (2, None)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(Exception, match="NULL"):
            run("cluster.kmeans", spark, [df], id_col="vec_id",
                vec_col="embedding", k=1, n_iter=1)


class TestBucketPairsHotBucket:
    def test_simhash_recall_survives_bucket_cap(self, spark, monkeypatch):
        # 30 identical docs share every chunk bucket; a bucket cap of 4
        # used to TRUNCATE the collected id list and silently drop most
        # of the 435 pairs (the sf0.1 q33 regression class). The cap is
        # now a plan switch: all pairs must surface regardless of cap.
        from ssis_to_pyspark_agent_spark.operators import dedup as dd

        df = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)],
            "doc_id long, text string",
        )
        monkeypatch.setattr(dd, "_BUCKET_CAP", 4)
        res = run("dedup.simhash", spark, [df], id_col="doc_id",
                  text_col="text", max_distance=3, hash_fn="md5",
                  return_pairs=True)
        assert res["pairs"].count() == 30 * 29 // 2
        assert res["out"].count() == 1  # min-id survivor
        # and the cold path (cap not hit) returns the same set
        monkeypatch.setattr(dd, "_BUCKET_CAP", 1000)
        big = run("dedup.simhash", spark, [df], id_col="doc_id",
                  text_col="text", max_distance=3, hash_fn="md5",
                  return_pairs=True)
        key = lambda r: (r.a, r.b)
        assert sorted(map(key, res["pairs"].collect())) == \
            sorted(map(key, big["pairs"].collect()))

    def test_bucket_pairs_degenerate_all_hot_path(self, spark, monkeypatch):
        # when more buckets exceed bucket_cap than the driver should
        # ever broadcast (_MAX_HOT_KEYS), EVERYTHING routes through the
        # distributed self-join — pairs identical, no hot-key collect
        # beyond the bound (ADVICE round 5: the unbounded collect
        # risked driver OOM on a degenerate corpus)
        from ssis_to_pyspark_agent_spark.operators import dedup as dd

        tagged = spark.createDataFrame(
            [(i, i % 3) for i in range(24)], "_id long, _bk int"
        )
        expect = sorted(
            (a, b)
            for a in range(24) for b in range(24)
            if a < b and a % 3 == b % 3
        )
        got_cold = sorted((r.a, r.b) for r in dd._bucket_pairs(
            tagged, ["_bk"], cap=100).collect())
        assert got_cold == expect
        monkeypatch.setattr(dd, "_MAX_HOT_KEYS", 1)  # 3 hot keys > 1
        degen = dd._bucket_pairs(tagged, ["_bk"], cap=4)
        # the all-hot plan must be materialized eagerly inside the
        # auto-persist window (ADVICE round 6): a lazy self-join would
        # re-derive the caller's possibly-expensive lineage twice AFTER
        # the transient input cache was released
        from pyspark import StorageLevel
        assert degen.storageLevel != StorageLevel.NONE
        got_degen = sorted((r.a, r.b) for r in degen.collect())
        assert got_degen == expect
        degen.unpersist()


class TestQ44FunnelSinglePass:
    def test_q44_clone_offset_fresh_and_residue_stable(self, spark):
        # clone ids must be collision-free at ANY fixture scale (the
        # old +10007 literal broke past 10007 docs, ADVICE round 6)
        # while landing in the url residue classes the old constant
        # produced (mod 300 = lcm of the synthetic url's components)
        from ssis_to_pyspark_agent_spark.queries import _q44_clone_offset

        off = _q44_clone_offset(spark, "/root/testdata/sf0.001")
        mx = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .agg(F.max("doc_id")).first()[0]
        )
        assert off > mx
        assert off % 300 == 10007 % 300

    def test_funnel_single_pass_over_raw(self, spark):
        # the round-5 q81 funnel re-derived each stage's full prefix per
        # report leg (~6 corpus passes); the merged q44 funnel must scan
        # the raw input EXACTLY once — every later stage reads its
        # persisted parent (round-5 verdict item 2). Pinned by counting
        # rows that leave an instrumented raw source.
        from ssis_to_pyspark_agent_spark.queries import _q44_funnel

        acc = spark.sparkContext.accumulator(0)

        def count_rows(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        text = ("the quick brown fox and the lazy dog walk to a park "
                "in this fine town with some friends and we all like "
                "to read the long document about many things ")
        base = spark.createDataFrame(
            [(i, text + str(i), f"src{i % 3}") for i in range(300)],
            "doc_id long, text string, source string",
        )
        persisted_before = len(spark.sparkContext._jsc.getPersistentRDDs())
        counted = base.mapInPandas(
            count_rows, schema="doc_id long, text string, source string"
        ).withColumn(
            "ws_tokens",
            F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                            lambda x: x != "")).cast("bigint"),
        )
        rows = _q44_funnel(spark, counted)
        stage = {k: (n, t) for kind, k, n, t in rows if kind == "stage"}
        # 300 docs -> 150 canon-URL groups (id mod lcm(3,50)); all 'en',
        # all pass quality, no exact dups among survivors
        assert stage["s0_raw"][0] == 300
        assert stage["s1_url"][0] == 150
        assert stage["s4_exact"][0] == 150
        assert 0 < stage["s5_temperature"][0] <= 150
        srcs = {k for kind, k, _, _ in rows if kind == "by_source"}
        assert srcs <= {"src0", "src1", "src2"}
        # THE contract: the raw input flowed through exactly once
        assert acc.value == 300
        # and no persist leaked past the helper (NOTES invariant 13)
        persisted_after = len(spark.sparkContext._jsc.getPersistentRDDs())
        assert persisted_after == persisted_before
