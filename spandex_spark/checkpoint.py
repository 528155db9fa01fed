"""E5/E6 — partition-granularity checkpoint/resume + lineage metrics.

North rule (BASELINE.json:14): jobs resumable from checkpoint at partition
granularity with per-partition lineage and row-count/latency metrics in an
Iceberg(-style) metrics table.

Mechanism: a stage's output is bucketed by ``cell_prefix % n_buckets``;
pending buckets run in batches, and each batch is one Parquet write job
plus one fsync'd manifest line. On restart, ``pending_buckets`` diffs the
manifest against the full bucket set and the stage reprocesses only the
missing buckets (a `filter` on the bucket id — partition pruning at the
source when the input is bucket-partitioned).

Lineage: one row per bucket (rows in/out, wall latency, status). Rows in
come from a per-bucket count of the batch's input, rows out from an
``Observation`` on the write job itself. The rows go into the batch's
manifest line, so the one fsync commits the data and its lineage
together. The metrics table is published from that line on the driver
(a pyarrow Parquet file and a snapshot manifest; no Spark job), one
snapshot per batch keyed on the line's commit id; ``run`` first publishes
any committed line a crash kept out of the table.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from spandex_spark.tables import IcebergishTable

METRICS_SCHEMA = StructType([
    StructField("run_id", StringType()), StructField("stage", StringType()),
    StructField("bucket", IntegerType()), StructField("rows_in", LongType()),
    StructField("rows_out", LongType()), StructField("t_start", DoubleType()),
    StructField("t_end", DoubleType()), StructField("status", StringType())])


class CheckpointedStage:
    """Run ``fn(bucket_df) -> DataFrame`` over pending buckets in batches;
    each BATCH commits atomically (data file write → one fsync'd manifest
    line naming all its buckets and carrying their lineage rows)."""

    def __init__(self, root: str, *, run_id: str, stage: str, n_buckets: int):
        self.root = os.path.join(root, stage)
        self.run_id = run_id
        self.stage = stage
        self.n_buckets = n_buckets
        self.manifest_path = os.path.join(self.root, "_completed.jsonl")
        self.metrics = IcebergishTable(os.path.join(root, "_metrics"))
        os.makedirs(self.root, exist_ok=True)

    # ------------------------------------------------------------ manifest

    def _manifest_records(self) -> list[dict]:
        """Committed batch records. The BATCH is the atomic commit unit: one
        fsync'd manifest line per batch listing all its buckets, so a crash
        can never leave a batch half-recorded (the per-bucket-line scheme
        could: some buckets recorded against a file that also held the
        others' rows → duplicate rows after resume). An unparsable trailing
        line (torn append mid-crash) is treated as never-committed and
        skipped; earlier lines are durable (fsync precedes every append)."""
        recs: list[dict] = []
        if not os.path.exists(self.manifest_path):
            return recs
        with open(self.manifest_path) as fh:
            lines = fh.readlines()
        for i, line in enumerate(lines):
            if not line.endswith("\n"):
                if i == len(lines) - 1:
                    continue  # unterminated trailing append — not committed
                raise ValueError(f"embedded unterminated manifest line {i}")
            if not line.strip():
                continue
            try:
                recs.append(json.loads(line))
            except ValueError:
                if i == len(lines) - 1:
                    continue  # torn trailing append — that batch never committed
                raise
        return recs

    def _heal_manifest(self) -> None:
        """Truncate a torn trailing line in place (atomic rewrite) so the
        next append starts on a clean line boundary — appending after a
        torn fragment would garble the new record too."""
        if not os.path.exists(self.manifest_path):
            return
        with open(self.manifest_path) as fh:
            raw = fh.read()
        good_end = 0
        for line in raw.splitlines(keepends=True):
            if not line.endswith("\n"):
                break
            try:
                json.loads(line)
            except ValueError:
                break
            good_end += len(line)
        if good_end != len(raw):
            tmp = self.manifest_path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(raw[:good_end])
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self.manifest_path)

    def completed_buckets(self) -> set[int]:
        done: set[int] = set()
        for rec in self._manifest_records():
            if "buckets" in rec:
                done.update(rec["buckets"])
            else:
                # back-compat: pre-batch-commit manifests wrote one
                # {"bucket": N} line per bucket — accept them so in-flight
                # checkpoint roots from older runs stay resumable
                done.add(rec["bucket"])
        return done

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    # ------------------------------------------------------------ lineage

    def _publish_lineage(self, rec: dict) -> None:
        """Publish a committed record's lineage rows as one metrics-table
        snapshot keyed on the record's commit id, on the driver: a pyarrow
        Parquet file with the column types Spark writes for
        ``METRICS_SCHEMA``, then the table's own manifest publish."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        out = os.path.join(self.metrics.data_dir, rec["commit"])
        os.makedirs(out, exist_ok=True)
        os.makedirs(self.metrics.meta_dir, exist_ok=True)
        table = pa.Table.from_pylist(
            [{"run_id": rec["run_id"], "stage": self.stage, **row}
             for row in rec["lineage"]],
            schema=to_arrow_schema(METRICS_SCHEMA))
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
        files, total = self.metrics._scan_written(out)
        self.metrics._publish(rec["commit"], "append", METRICS_SCHEMA.jsonValue(),
                              None, files, total)

    # ------------------------------------------------------------ run

    def run(self, spark: SparkSession, source: DataFrame, bucket_col, fn,
            buckets_per_batch: int = 8) -> DataFrame:
        """Process pending buckets in batches; returns the full stage output
        (completed earlier + newly computed) as one DataFrame."""
        src = source.withColumn("_bucket", bucket_col % self.n_buckets)
        self._heal_manifest()
        # a crash between a manifest fsync and its publish left that
        # record's lineage out of the metrics table; records written before
        # lineage moved into the manifest carry no commit id
        published = {snap["snapshot_id"] for snap in self.metrics.snapshots()}
        for rec in self._manifest_records():
            if "commit" in rec and rec["commit"] not in published:
                self._publish_lineage(rec)
        pending = self.pending_buckets()
        for i in range(0, len(pending), buckets_per_batch):
            batch = [int(b) for b in pending[i:i + buckets_per_batch]]
            t0 = time.time()
            part = src.filter(F.col("_bucket").isin(batch))
            # rows in keep their own count job: an Observation on fn's input
            # never reports when fn's plan prunes that input (a filter that
            # folds to false, limit(0), a join with an empty side, an fn
            # that ignores its input), and Observation.get then blocks
            in_counts = {int(r["_bucket"]): int(r["count"]) for r in
                         part.groupBy("_bucket").count().collect()}  # collect-ok: per-bucket row counts (lineage metrics, O(buckets))
            # rows out come from the write job itself
            seen = Observation()
            out = fn(part.drop("_bucket")).withColumn(
                "_bucket", bucket_col % self.n_buckets).observe(
                seen, *[F.count_if(F.col("_bucket") == b).alias(str(b))
                        for b in batch])
            out_path = os.path.join(self.root, f"batch-{batch[0]:05d}")
            # _bucket kept as a data column (not dir partitioning): batch dirs
            # stay uniform for multi-path reads; parquet min/max stats still
            # prune bucket filters.
            out.write.mode("overwrite").parquet(out_path)
            out_counts = seen.get
            t1 = time.time()
            # lineage rows carry each bucket's OWN counts (a batch-level
            # count on every bucket row would inflate sums over the table);
            # they commit with the batch, in its one fsync'd manifest line
            rec = {"buckets": batch, "path": out_path, "run_id": self.run_id,
                   "commit": f"b{batch[0]:05d}-{uuid.uuid4().hex[:8]}",
                   "lineage": [{"bucket": b, "rows_in": in_counts.get(b, 0),
                                "rows_out": int(out_counts[str(b)]),
                                "t_start": t0, "t_end": t1, "status": "ok"}
                               for b in batch]}
            with open(self.manifest_path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                os.fsync(fh.fileno())
            self._publish_lineage(rec)
        return self.read_output(spark)

    def read_output(self, spark: SparkSession) -> DataFrame:
        paths = sorted({rec["path"] for rec in self._manifest_records()})
        if not paths:
            raise FileNotFoundError(f"no completed buckets for stage {self.stage}")
        # batch-atomic commits guarantee every row in a manifest-listed file
        # belongs to a committed bucket; the filter is belt-and-braces against
        # an orphan file path being reused across runs
        done = self.completed_buckets()
        return (spark.read.parquet(*paths)
                .filter(F.col("_bucket").isin([int(b) for b in done]))
                .drop("_bucket"))

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        return self.metrics.read(spark)
