"""Maintenance + ingest-pattern operators: compaction, clustering,
incremental loads, quality gates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import get_operator


def run(op, spark, inputs, **config):
    ctx = config.pop("_context", {})
    res = get_operator(op)(spark, inputs, config, ctx)
    return res


def parquet_files(path):
    out = []
    for root, _, files in os.walk(path):
        out += [f for f in files if f.endswith(".parquet")]
    return out


class TestCompact:
    def test_small_files_merged(self, spark, tmp_path):
        path = str(tmp_path / "frag")
        spark.range(10_000).repartition(40).write.parquet(path)
        assert len(parquet_files(path)) == 40
        ctx = {}
        out = get_operator("maintenance.compact")(
            spark, [], {"path": path, "target_mb": 128}, ctx
        )
        assert len(parquet_files(path)) == ctx["_compacted_files"] == 1
        assert out.count() == 10_000


class TestSwapCompacted:
    """The shared Hadoop-FS rename-swap both compactors use
    (``fs.swap_compacted``): rollback on a failed swap, restore+raise on
    a concurrent append — losing a batch silently is the one
    unacceptable outcome (round-8 verdict item 3)."""

    def _setup(self, spark, tmp_path):
        from ssis_to_pyspark_agent_spark.fs import hadoop_fs, list_data_files

        path = str(tmp_path / "ds")
        spark.range(100).coalesce(1).write.parquet(path)
        fs, _, root = hadoop_fs(spark, path)
        return path, list_data_files(fs, root)

    def test_concurrent_append_restores_and_raises(self, spark, tmp_path):
        from ssis_to_pyspark_agent_spark.fs import swap_compacted

        path, snapshot = self._setup(spark, tmp_path)
        tmp = path + "._compact_tmp"
        spark.read.parquet(path).coalesce(1).write.parquet(tmp)
        # an append lands AFTER the snapshot: its rows are not in tmp
        spark.range(100, 150).coalesce(1).write.mode("append").parquet(path)
        with pytest.raises(IOError, match="changed during compaction"):
            swap_compacted(spark, path, tmp, snapshot)
        # original restored WITH the appended rows; tmp cleaned up
        assert spark.read.parquet(path).count() == 150
        assert not os.path.exists(tmp)
        assert not os.path.exists(path + "._compact_old")

    def test_failed_swap_rolls_back(self, spark, tmp_path):
        from ssis_to_pyspark_agent_spark.fs import swap_compacted

        path, snapshot = self._setup(spark, tmp_path)
        tmp = path + "._compact_tmp"  # never written -> swap must fail
        with pytest.raises(IOError, match="could not swap"):
            swap_compacted(spark, path, tmp, snapshot)
        assert spark.read.parquet(path).count() == 100
        assert not os.path.exists(path + "._compact_old")

    def test_rollback_failure_names_recovery_path(self, spark, tmp_path):
        """round-9 verdict item 5 / ADVICE: the rollback rename itself is
        CHECKED — if restoring the moved-aside original fails (e.g. a
        concurrent writer recreated ``path``), the error must NOT claim
        'original dataset restored'; it names the ``._<label>_old``
        location where the data actually resides. Pinned at the
        ``_rollback`` seam with stub filesystems (the real FS can't be
        interrupted between the move-aside and the rollback)."""
        from ssis_to_pyspark_agent_spark.fs import _rollback

        back_str = "/data/ds._compact_old"

        class RenameFalse:
            def rename(self, a, b):
                return False

            def exists(self, p):
                return False

        class RenameThrows:
            def rename(self, a, b):
                raise RuntimeError("dst exists")

        class RenameLies:  # returns true but root still missing
            def rename(self, a, b):
                return True

            def exists(self, p):
                return False

        for fs in (RenameFalse(), RenameThrows(), RenameLies()):
            with pytest.raises(IOError, match="NOT restored") as ei:
                _rollback(fs, "back", "root", "compact", "/data/ds",
                          back_str)
            # the message names where the original actually resides
            assert back_str in str(ei.value)
            assert "restored intact" not in str(ei.value).split(back_str)[0]

        class RenameOk:
            def rename(self, a, b):
                return True

            def exists(self, p):
                return True

        _rollback(RenameOk(), "back", "root", "compact", "/data/ds",
                  back_str)  # happy path: no raise

    def test_none_snapshot_skips_guard(self, spark, tmp_path):
        from ssis_to_pyspark_agent_spark.fs import swap_compacted

        path, _ = self._setup(spark, tmp_path)
        tmp = path + "._compact_tmp"
        spark.range(7).coalesce(1).write.parquet(tmp)
        spark.range(100, 150).coalesce(1).write.mode("append").parquet(path)
        swap_compacted(spark, path, tmp, None)  # caller opted out
        assert spark.read.parquet(path).count() == 7

    def test_compact_operator_survives_partitioned_input(
            self, spark, tmp_path):
        """maintenance.compact on the Hadoop FS path: still merges, still
        counts the REAL post-swap files."""
        path = str(tmp_path / "frag")
        spark.range(5_000).repartition(17).write.parquet(path)
        assert len(parquet_files(path)) == 17
        ctx = {}
        out = get_operator("maintenance.compact")(
            spark, [], {"path": path, "target_mb": 64, "shuffle": True}, ctx
        )
        assert len(parquet_files(path)) == ctx["_compacted_files"] == 1
        assert out.count() == 5_000


class TestCluster:
    def test_sorted_within_partitions(self, spark):
        df = spark.range(1000).withColumn("k", F.pmod(F.xxhash64("id"), 100))
        out = run("maintenance.cluster", spark, [df], keys=["k"], n=4)
        assert out.rdd.getNumPartitions() == 4

        def is_sorted(it):
            prev = None
            for row in it:
                if prev is not None and row.k < prev:
                    yield False
                prev = row.k
            yield True

        assert all(out.rdd.mapPartitions(is_sorted).collect())


class TestIncrementalLoad:
    def test_watermark_advances(self, spark):
        df = spark.createDataFrame([(i, i * 10) for i in range(10)], "id int, ts int")
        ctx = {"wm": 40}
        out = get_operator("incremental_load")(
            spark, [df], {"watermark_col": "ts", "var": "wm"}, ctx
        )
        assert sorted(r.id for r in out.collect()) == [5, 6, 7, 8, 9]
        assert ctx["wm"] == 90
        # next batch with no new rows leaves the watermark alone
        out2 = get_operator("incremental_load")(
            spark, [df], {"watermark_col": "ts", "var": "wm"}, ctx
        )
        assert out2.count() == 0 and ctx["wm"] == 90

    def test_first_run_takes_everything(self, spark):
        df = spark.createDataFrame([(1, 10), (2, 20)], "id int, ts int")
        ctx = {}
        out = get_operator("incremental_load")(
            spark, [df], {"watermark_col": "ts", "var": "wm"}, ctx
        )
        assert out.count() == 2 and ctx["wm"] == 20


class TestQualityCheck:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, None, 5.0), (3, "c", -1.0), (4, "d", 2.0)],
            "id int, name string, amount double",
        )

    def test_redirect_with_failed_rule_names(self, spark, df):
        out = run("quality_check", spark, [df], rules={
            "name_not_null": "!ISNULL([name])",
            "amount_positive": "[amount] > 0",
        })
        assert sorted(r.id for r in out["out"].collect()) == [1, 4]
        bad = {r.id: list(r["_failed_rules"]) for r in out["error"].collect()}
        assert bad == {2: ["name_not_null"], 3: ["amount_positive"]}

    def test_fail_mode_raises(self, spark, df):
        with pytest.raises(ValueError, match="rows failed"):
            run("quality_check", spark, [df],
                rules={"amount_positive": "[amount] > 0"}, mode="fail")

    def test_fail_mode_passes_clean_data(self, spark, df):
        clean = df.filter("amount > 0 AND name IS NOT NULL")
        out = run("quality_check", spark, [clean],
                  rules={"amount_positive": "[amount] > 0"}, mode="fail")
        assert out.count() == 2

    def test_observe_counts_ride_the_action(self, spark, df):
        # per-rule counts come from CollectMetrics on the flagged frame —
        # resolved by the output's own action, no extra scan
        ctx: dict = {}
        out = get_operator("quality_check")(
            spark, [df],
            {"rules": {"name_not_null": "!ISNULL([name])",
                       "amount_positive": "[amount] > 0"},
             "into": "quality"},
            ctx,
        )
        assert "CollectMetrics" in out["out"]._jdf.queryExecution().toString()
        assert out["out"].count() == 2  # the one and only action
        got = ctx["_observations"]["quality"].get
        assert got["n_rows"] == 4
        assert got["name_not_null"] == 1
        assert got["amount_positive"] == 1


class TestVacuum:
    """maintenance.vacuum: age-guarded deletion of the engine's own
    swap/checkpoint scratch — dry-run default, never the scanned root,
    never fresh entries, never non-matching siblings."""

    def _mk(self, tmp_path, name, age_hours, files=1):
        import time

        d = tmp_path / name
        d.mkdir(parents=True)
        for i in range(files):
            (d / f"part-{i}.parquet").write_bytes(b"x" * 10)
        old = time.time() - age_hours * 3600
        for p in [d] + list(d.iterdir()):
            os.utime(p, (old, old))
        return str(d)

    def test_dry_run_lists_without_deleting(self, spark, tmp_path):
        self._mk(tmp_path, "ds._compact_old", age_hours=48)
        self._mk(tmp_path, "ds", age_hours=48)  # live dataset: no match
        out = run("maintenance.vacuum", spark, [], path=str(tmp_path))
        rows = out.collect()
        assert [r.path.rsplit("/", 1)[-1] for r in rows] == \
            ["ds._compact_old"]
        assert rows[0].deleted is False and rows[0].size_bytes == 10
        assert os.path.exists(str(tmp_path / "ds._compact_old"))

    def test_delete_respects_age_and_patterns(self, spark, tmp_path):
        stale = self._mk(tmp_path, "a._swap_old", age_hours=48)
        fresh = self._mk(tmp_path, "b._swap_old", age_hours=0)
        live = self._mk(tmp_path, "dataset", age_hours=300)
        tmpd = self._mk(tmp_path, "c._rewrite_tmp", age_hours=30)
        out = run("maintenance.vacuum", spark, [], path=str(tmp_path),
                  dry_run=False, older_than_hours=24)
        got = {r.path.rsplit("/", 1)[-1]: r.deleted for r in out.collect()}
        assert got == {"a._swap_old": True, "c._rewrite_tmp": True}
        assert not os.path.exists(stale) and not os.path.exists(tmpd)
        # fresh scratch and the live dataset survive
        assert os.path.exists(fresh) and os.path.exists(live)

    def test_cc_rounds_opt_in_and_depth(self, spark, tmp_path):
        # a consumed checkpoint directory one level down from a
        # warehouse root (named cc_rounds here); default patterns must
        # NOT touch it, explicit opt-in at max_depth 2 must
        import time

        ck = tmp_path / "job1" / "cc_rounds"
        ck.mkdir(parents=True)
        (ck / "i0001").mkdir()
        (ck / "i0001" / "final").mkdir()
        (ck / "i0001" / "final" / "p.parquet").write_bytes(b"y" * 7)
        old = time.time() - 72 * 3600
        for p in (ck, ck / "i0001", ck / "i0001" / "final",
                  ck / "i0001" / "final" / "p.parquet"):
            os.utime(p, (old, old))
        out = run("maintenance.vacuum", spark, [], path=str(tmp_path),
                  dry_run=False)
        assert out.count() == 0 and os.path.exists(str(ck))
        out2 = run("maintenance.vacuum", spark, [], path=str(tmp_path),
                   patterns=["cc_rounds"], dry_run=False)
        rows = out2.collect()
        assert len(rows) == 1 and rows[0].deleted is True
        assert rows[0].size_bytes == 7
        assert not os.path.exists(str(ck))
        assert os.path.exists(str(tmp_path / "job1"))

    def test_config_validation(self, spark, tmp_path):
        with pytest.raises(ValueError, match="does not exist"):
            run("maintenance.vacuum", spark, [],
                path=str(tmp_path / "nope"))
        with pytest.raises(ValueError, match="patterns"):
            run("maintenance.vacuum", spark, [], path=str(tmp_path),
                patterns=[])
        with pytest.raises(ValueError, match="older_than_hours"):
            run("maintenance.vacuum", spark, [], path=str(tmp_path),
                older_than_hours=-1)
        with pytest.raises(ValueError, match="max_depth"):
            run("maintenance.vacuum", spark, [], path=str(tmp_path),
                max_depth=0)

    def test_empty_result_schema(self, spark, tmp_path):
        (tmp_path / "only_live").mkdir()
        out = run("maintenance.vacuum", spark, [], path=str(tmp_path))
        assert out.count() == 0
        assert out.columns == ["path", "size_bytes", "modified_ts",
                               "deleted"]


class TestMoveAsideStamp:
    def test_move_aside_stamps_mtime_now(self, spark, tmp_path):
        """rename preserves the inode mtime, so a fresh failed-swap
        move-aside would look as old as the dataset's last write and
        maintenance.vacuum's age guard would delete the ONLY copy of
        the data (round-10 self-review). move_aside re-stamps the
        moved dir to NOW (best-effort setTimes)."""
        import time

        from ssis_to_pyspark_agent_spark.fs import hadoop_fs, move_aside

        ds = tmp_path / "ds"
        ds.mkdir()
        (ds / "p.parquet").write_bytes(b"x" * 4)
        old = time.time() - 10 * 86400
        for p in (ds, ds / "p.parquet"):
            os.utime(p, (old, old))
        fs, hpath, root = hadoop_fs(spark, str(ds))
        back = hpath(str(tmp_path / "ds._compact_old"))
        move_aside(fs, root, back, "compact", str(ds))
        got = os.path.getmtime(str(tmp_path / "ds._compact_old"))
        assert abs(got - time.time()) < 60  # stamped, not inherited

    def test_vacuum_spares_fresh_real_move_aside(self, spark, tmp_path):
        """End-to-end: a move-aside of a WEEKS-old dataset created via
        move_aside minutes ago must survive a non-dry-run vacuum with
        the default 24h guard."""
        import time

        from ssis_to_pyspark_agent_spark.fs import hadoop_fs, move_aside

        ds = tmp_path / "ds"
        ds.mkdir()
        (ds / "p.parquet").write_bytes(b"x" * 4)
        old = time.time() - 10 * 86400
        for p in (ds, ds / "p.parquet"):
            os.utime(p, (old, old))
        fs, hpath, root = hadoop_fs(spark, str(ds))
        move_aside(fs, root, hpath(str(tmp_path / "ds._swap_old")),
                   "swap", str(ds))
        out = run("maintenance.vacuum", spark, [], path=str(tmp_path),
                  dry_run=False)
        assert out.count() == 0
        assert os.path.exists(str(tmp_path / "ds._swap_old"))

    def test_mismatch_rollback_failure_names_guard_reason(self):
        """The snapshot-mismatch branch's rollback failure must carry
        the concurrent-append diagnosis, not a 'swap failed' claim —
        the incident response differs (round-10 self-review)."""
        from ssis_to_pyspark_agent_spark.fs import _rollback

        class RenameFalse:
            def rename(self, a, b):
                return False

            def exists(self, p):
                return False

        with pytest.raises(IOError, match="concurrent append") as ei:
            _rollback(RenameFalse(), "b", "r", "compact", "/d/ds",
                      "/d/ds._compact_old",
                      reason="compact: /d/ds changed during compaction "
                             "(concurrent append?)")
        assert "swap into" not in str(ei.value)
        assert "NOT restored" in str(ei.value)
