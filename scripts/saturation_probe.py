"""Reproducible evidence for BENCH/BASELINE.md's single-box analysis.

Three probes, each printed as one JSON line:

1. ``burn``    — pure-CPU multiprocessing scaling (no memory streaming):
                 shows the box's cores are real.
2. ``jvm``     — a zero-Python twin of the headline join (cell key + hash
                 join + aggregate, all whole-stage codegen): shows the
                 memory-streaming plateau is not a Python/Arrow artifact.
3. ``malloc``  — the headline UDF stage at local[N] with and without the
                 glibc mmap thresholds (MALLOC_MMAP_THRESHOLD_ /
                 MALLOC_TRIM_THRESHOLD_), run as SUBPROCESSES so the env
                 reaches the JVM before it starts: reproduces the 32-worker
                 kernel-time cliff and its fix.

Usage: python scripts/saturation_probe.py [burn|jvm|malloc|all]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _spin(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc * 1103515245 + 12345 + i) & 0x7FFFFFFF
    return acc


def probe_burn() -> dict:
    """Same per-process work at 1 and 32 processes; ideal scaling keeps
    wall time flat."""
    reps = 20_000_000
    t0 = time.time()
    _spin(reps)
    t1 = time.time() - t0
    with mp.Pool(32) as p:
        t0 = time.time()
        p.map(_spin, [reps] * 32)
        t32 = time.time() - t0
    return {"probe": "burn", "wall_1proc_s": round(t1, 2),
            "wall_32proc_32x_work_s": round(t32, 2),
            "scaling_ok": t32 < 2.5 * t1}


def probe_jvm(cpus: int = None) -> dict:
    """Zero-Python headline twin at local[8] vs local[32]: JVM cell-key
    expression + broadcast join + aggregate over the same 76.8M rows."""
    out = {}
    for n in (8, 32):
        r = subprocess.run(
            [sys.executable, "-c", f"""
import time, sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from spandex_spark.session import get_spark
from spandex_spark.functions.cells_sql import cell_of_expr
from spandex_spark.sources.grids import derived_points
spark = get_spark("jvm_twin", master="local[{n}]", shuffle_partitions={n * 4})
base = spark.range(600_000).withColumn("b", F.col("id") * 8).repartition({n * 3})
keyed = base.select("b", F.explode(F.sequence(F.lit(0), F.lit(127))).alias("rep"))
pts = derived_points(keyed.select((F.col("b") * 128 + F.col("rep")).alias("pt_id")), "pt_id")
zones = spark.range(400).select(F.col("id").alias("zone_id"), (F.col("id") % 20 - 10).cast("double").alias("x0"), (F.col("id") / 20 - 10).cast("long").cast("double").alias("y0"))
pts = pts.withColumn("cell", cell_of_expr("lon", "lat", 9))
pts.count()  # warm
t0 = time.time()
n_rows = (pts.join(F.broadcast(zones),
          (F.col("lon") >= F.col("x0")) & (F.col("lon") < F.col("x0") + 1)
          & (F.col("lat") >= F.col("y0")) & (F.col("lat") < F.col("y0") + 1), "inner")
          .groupBy("zone_id").count()).count()
print("JVMTWIN", time.time() - t0)
spark.stop()
"""],
            capture_output=True, text=True)
        line = [ln for ln in r.stdout.splitlines() if ln.startswith("JVMTWIN")]
        out[f"local[{n}]_s"] = round(float(line[0].split()[1]), 2) if line else None
    return dict({"probe": "jvm_twin_76.8M_rows"}, **out)


def probe_malloc() -> dict:
    """Headline bench at local[32], thresholds ON vs OFF (subprocess env)."""
    out = {}
    for label, env_extra in (("fix_on", {}),
                             ("fix_off", {"MALLOC_MMAP_THRESHOLD_": "131072",
                                          "MALLOC_TRIM_THRESHOLD_": "131072"})):
        env = dict(os.environ, SPANDEX_BENCH_ONLY="pip_tag_knn",
                   SPANDEX_BENCH_PTS_MULT="128", SPANDEX_BENCH_ATTEMPTS="1",
                   SPARK_GRAFT_CPUS="32", **env_extra)
        r = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                           env=env, capture_output=True, text=True)
        line = [ln for ln in r.stdout.strip().splitlines() if ln.startswith("{")]
        out[label] = (json.loads(line[-1])["queries"]["pip_tag_knn"]
                      if line else None)
    return dict({"probe": "malloc_thresholds_local32"}, **out)


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which in ("burn", "all"):
        print(json.dumps(probe_burn()))
    if which in ("jvm", "all"):
        print(json.dumps(probe_jvm()))
    if which in ("malloc", "all"):
        print(json.dumps(probe_malloc()))
