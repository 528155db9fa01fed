"""Checkpoint/resume (E5), metrics (E6), Icebergish tables, skew salting (E3)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from spandex_spark import checkpoint
from spandex_spark.tables import IcebergishTable
from spandex_spark.checkpoint import CheckpointedStage
from spandex_spark.operators.skew import hot_cells, salted_cell_join
from spandex_spark.functions.spatial import cell_of_udf, cover_cells_udf


class TestIcebergish:
    def test_append_snapshot_read(self, spark, tmp_path):
        t = IcebergishTable(str(tmp_path / "tbl"))
        t.append(spark.range(10).select(F.col("id").alias("v")))
        t.append(spark.range(5).select(F.col("id").alias("v")))
        snaps = t.snapshots()
        assert [s["sequence"] for s in snaps] == [0, 1]
        assert snaps[1]["parent"] == snaps[0]["snapshot_id"]
        assert t.read(spark).count() == 15
        assert t.total_rows() == 15
        cur = t.current_snapshot()
        assert cur["sequence"] == 1
        assert t.read(spark, all_snapshots=False).count() == 5


class TestCheckpointResume:
    def test_kill_and_resume_processes_only_missing(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        src = spark.range(1000).select(
            F.col("id"), (F.col("id") % 97).alias("key"))

        def fn(df):
            return df.withColumn("out", F.col("id") * 2)

        stage = CheckpointedStage(root, run_id="r1", stage="double", n_buckets=8)
        # simulate a partial run: process only buckets 0-3 then "die"
        stage.n_buckets = 8
        pend = stage.pending_buckets()
        assert pend == list(range(8))
        # run first half manually by monkey-limiting pending
        first = CheckpointedStage(root, run_id="r1", stage="double", n_buckets=8)
        orig = first.pending_buckets

        def half():
            return orig()[:4]
        first.pending_buckets = half
        first.run(spark, src, F.col("id"), fn, buckets_per_batch=2)
        done_after_crash = CheckpointedStage(
            root, run_id="r1", stage="double", n_buckets=8).completed_buckets()
        assert done_after_crash == {0, 1, 2, 3}
        # resume: only 4-7 pending
        resumed = CheckpointedStage(root, run_id="r2", stage="double", n_buckets=8)
        assert resumed.pending_buckets() == [4, 5, 6, 7]
        out = resumed.run(spark, src, F.col("id"), fn, buckets_per_batch=4)
        assert out.count() == 1000
        got = {r.id: r.out for r in out.collect()}
        assert all(got[i] == 2 * i for i in range(1000))
        # lineage metrics: one row per bucket per run
        m = resumed.read_metrics(spark)
        rows = m.collect()
        assert {r.bucket for r in rows} == set(range(8))
        assert all(r.rows_in > 0 and r.rows_out > 0 and r.t_end >= r.t_start
                   for r in rows)
        assert {r.run_id for r in rows} == {"r1", "r2"}


class TestManifestAtomicity:
    def test_torn_trailing_line_skipped_and_no_duplicates(self, spark, tmp_path):
        """A crash mid-append leaves a torn trailing manifest line: resume
        must treat that batch as never-committed (recompute it) and the
        final output must have no duplicate rows."""
        root = str(tmp_path / "ckpt2")
        src = spark.range(200).select(F.col("id"), (F.col("id") % 13).alias("key"))

        def fn(df):
            return df.withColumn("out", F.col("id") + 1)

        st = CheckpointedStage(root, run_id="r1", stage="s", n_buckets=4)
        st.run(spark, src, F.col("id"), fn, buckets_per_batch=2)
        # tear the last manifest line (simulated torn append)
        with open(st.manifest_path) as fh:
            lines = fh.readlines()
        with open(st.manifest_path, "w") as fh:
            fh.writelines(lines[:-1])
            fh.write(lines[-1][: len(lines[-1]) // 2])
        resumed = CheckpointedStage(root, run_id="r2", stage="s", n_buckets=4)
        assert resumed.completed_buckets() == {0, 1}  # torn batch dropped
        assert resumed.pending_buckets() == [2, 3]
        out = resumed.run(spark, src, F.col("id"), fn, buckets_per_batch=2)
        ids = [r.id for r in out.collect()]
        assert sorted(ids) == list(range(200))  # exactly-once, no dupes

    def test_per_bucket_metrics_sum_to_totals(self, spark, tmp_path):
        root = str(tmp_path / "ckpt3")
        src = spark.range(300).select(F.col("id"))

        def fn(df):
            return df.filter(F.col("id") % 2 == 0)

        st = CheckpointedStage(root, run_id="r1", stage="s", n_buckets=5)
        out = st.run(spark, src, F.col("id"), fn, buckets_per_batch=3)
        m = st.read_metrics(spark).collect()
        assert sum(r.rows_in for r in m) == 300
        assert sum(r.rows_out for r in m) == out.count() == 150
        per_bucket = {r.bucket: (r.rows_in, r.rows_out) for r in m}
        assert len(per_bucket) == 5
        assert all(ri == 60 and ro == 30 for ri, ro in per_bucket.values())


def _written_counts(spark, stage) -> dict:
    """Per-bucket rows of the committed files, counted apart from the
    stage's own lineage."""
    paths = sorted({rec["path"] for rec in stage._manifest_records()})
    return {int(r["_bucket"]): int(r["count"]) for r in
            spark.read.parquet(*paths).groupBy("_bucket").count().collect()}


class TestCrashConsistency:
    """A crash at either side of the manifest fsync: resume heals the data
    and the lineage, and the lineage equals independent counts."""

    @staticmethod
    def _fn(df):
        return df.withColumn("out", F.col("id") + 1)

    def test_crash_before_manifest_line_recomputes_batch(self, spark, tmp_path,
                                                          monkeypatch):
        root = str(tmp_path / "pre")
        src = spark.range(200).select(F.col("id"))

        def no_append(path, mode="r", *a, **kw):
            if "a" in mode:
                raise RuntimeError("crash before the manifest line")
            return open(path, mode, *a, **kw)

        st = CheckpointedStage(root, run_id="r1", stage="s", n_buckets=4)
        monkeypatch.setattr(checkpoint, "open", no_append, raising=False)
        with pytest.raises(RuntimeError, match="before the manifest"):
            st.run(spark, src, F.col("id"), self._fn, buckets_per_batch=2)
        monkeypatch.undo()
        # the batch's Parquet landed, but nothing committed it
        assert os.listdir(os.path.join(st.root, "batch-00000"))
        resumed = CheckpointedStage(root, run_id="r2", stage="s", n_buckets=4)
        assert resumed.pending_buckets() == [0, 1, 2, 3]
        out = resumed.run(spark, src, F.col("id"), self._fn, buckets_per_batch=2)
        assert sorted(r.id for r in out.collect()) == list(range(200))
        m = resumed.read_metrics(spark).collect()
        # no lineage row for the lost attempt
        assert sorted((r.bucket, r.run_id) for r in m) == [
            (b, "r2") for b in range(4)]
        assert {r.bucket: r.rows_out for r in m} == _written_counts(spark, resumed)

    def test_crash_after_manifest_publishes_lineage_once(self, spark, tmp_path,
                                                         monkeypatch):
        root = str(tmp_path / "post")
        src = spark.range(200).select(F.col("id"))

        def crash(*a, **kw):
            raise RuntimeError("crash after the manifest fsync")

        st = CheckpointedStage(root, run_id="r1", stage="s", n_buckets=4)
        monkeypatch.setattr(IcebergishTable, "_publish", crash)
        with pytest.raises(RuntimeError, match="after the manifest"):
            st.run(spark, src, F.col("id"), self._fn, buckets_per_batch=2)
        monkeypatch.undo()
        assert st.completed_buckets() == {0, 1}
        resumed = CheckpointedStage(root, run_id="r2", stage="s", n_buckets=4)
        out = resumed.run(spark, src, F.col("id"), self._fn, buckets_per_batch=2)
        # a run with nothing pending publishes nothing twice
        CheckpointedStage(root, run_id="r3", stage="s", n_buckets=4).run(
            spark, src, F.col("id"), self._fn, buckets_per_batch=2)
        m = resumed.read_metrics(spark).collect()
        assert sorted((r.bucket, r.run_id) for r in m) == [
            (0, "r1"), (1, "r1"), (2, "r2"), (3, "r2")]
        assert sum(r.rows_out for r in m) == out.count() == 200
        assert {r.bucket: r.rows_out for r in m} == _written_counts(spark, resumed)

    def test_fn_with_no_rows_or_ignoring_input_counts_exactly(self, spark,
                                                              tmp_path):
        src = spark.range(120).select(F.col("id"))
        cases = {"empty": (lambda df: df.filter(F.lit(False)), 0),
                 "ignores_input": (lambda df: spark.range(1000, 1040)
                                   .select(F.col("id")), 40)}
        for name, (fn, n_out) in cases.items():
            st = CheckpointedStage(str(tmp_path / name), run_id="r1", stage="s",
                                   n_buckets=4)
            out = st.run(spark, src, F.col("id"), fn, buckets_per_batch=4)
            assert out.count() == n_out
            m = {r.bucket: (r.rows_in, r.rows_out)
                 for r in st.read_metrics(spark).collect()}
            written = _written_counts(spark, st)
            assert m == {b: (30, written.get(b, 0)) for b in range(4)}, name
            assert sum(ro for _, ro in m.values()) == n_out


class TestSkewSalting:
    def test_salted_join_identical_results(self, spark, fixture_dir):
        pts = spark.read.parquet(os.path.join(fixture_dir, "skewed_points.parquet"))
        zones = spark.read.parquet(os.path.join(fixture_dir, "zones.parquet"))
        level = 9
        ptsc = pts.withColumn("cell", cell_of_udf(F.col("lon"), F.col("lat"), level))
        zc = zones.select("zone_id", "geom").withColumn(
            "cell", F.explode(cover_cells_udf(F.col("geom"), level)))
        hot = hot_cells(ptsc, threshold_rows=200)
        assert hot, "skewed fixture must produce at least one hot cell"
        plain = ptsc.join(zc, "cell").select("url", "zone_id")
        salted = salted_cell_join(ptsc, zc, hot=hot, fanout=8).select("url", "zone_id")
        a = {(r.url, r.zone_id) for r in plain.collect()}
        b = {(r.url, r.zone_id) for r in salted.collect()}
        assert a == b
