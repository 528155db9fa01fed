"""Benchmark of the spandex_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root (or anywhere: paths are taken from this
file). A closed loop: one driver submits one iteration at a time on
``local[<cores>]`` until ``--seconds`` have passed (at least two
iterations), timing each by the wall clock and by the CPU time of the
whole process tree. With ``--trace 0`` the last stdout line is a JSON object
with the end-to-end metrics; with ``--trace 1`` one extra traced
iteration follows the timed ones and the JSON carries the per-layer
metrics instead. Every run checks the engine's outputs against oracles
outside the timed phase. Workloads, metrics and their meaning:
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3        # layer loads per run; setup_s uses their median
MIN_ITERATIONS = 2
ITER_TIMEOUT_S = 60.0    # an iteration still running then is cancelled
HEAP = "3g"              # driver JVM heap (local mode: the only JVM)
CORES = os.cpu_count() or 1
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")

LAYERS = ("geotag", "tag", "knn", "overlay", "zonal", "checkpoint", "tables")
GENERIC_UNITS = {"busy_s": "s", "cpu_s": "s", "gc_s": "s",
                 "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                 "tasks": "count", "task_skew": "ratio"}
SPECIFIC_UNITS = {
    "session.start_s": "s",
    "geotag.pages_in": "count", "geotag.hit_ratio": "ratio",
    "geotag.input_bytes": "bytes",
    "tag.index_build_s": "s", "tag.candidates_per_point": "ratio",
    "tag.full_cell_share": "ratio", "tag.refine_rows": "count",
    "tag.refine_hit_ratio": "ratio", "tag.resolve_shuffle_bytes": "bytes",
    "geom.pip_ns_per_test": "ns", "geom.ix_area_us_per_pair": "us",
    "knn.nearest_ns_per_query": "ns", "knn.candidates_per_query": "ratio",
    "overlay.candidate_pairs": "count", "overlay.general_pair_share": "ratio",
    "overlay.useful_pair_ratio": "ratio",
    "zonal.pixels_per_s": "1/s",
    "checkpoint.bytes_per_row": "bytes", "checkpoint.files_written": "count",
    "checkpoint.spark_jobs_per_batch": "count",
    "tables.manifest_writes": "count",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC_UNITS.items()}
    units.update(SPECIFIC_UNITS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    return ap.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc every ``period``
    seconds. Each process counts its proportional share of the pages it
    shares (PSS), so forked Python workers are not counted once per fork.
    ``cpu_s`` is the CPU time the sampler itself has used, which the
    timed loop takes out of the tree's CPU time."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.cpu_s = 0.0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree() -> set[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        return tree

    def _tree_pss_kb(self) -> int:
        total = 0
        for p in self.tree():
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh
                                  if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
        return total

    def run(self):
        t0 = time.thread_time()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_pss_kb())
            self.cpu_s = time.thread_time() - t0
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 1024


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants
    (reaped children included), from /proc."""
    total = 0
    for p in RssSampler.tree():
        try:
            with open(f"/proc/{p}/stat") as fh:
                total += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return total / CLOCK_TICKS


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLOCK_TICKS


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3, "samples": values}


def prepare_env(work: str) -> dict:
    """Put the repository on the driver's and the workers' import path and
    keep every file Spark writes inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPANDEX_DRIVER_MEM"] = HEAP
    # the whole heap is committed and touched at JVM start, so the JVM's
    # share of peak_rss_mb does not depend on when the collector grew it
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(cores: int, conf: dict):
    from spandex_spark.session import get_spark
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores * 2, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop Spark, then the JVM (it exits when its stdin closes), and wait."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive us
            proc.kill()
            proc.wait()


def layer_figures(spark, tracer) -> tuple[dict, dict]:
    """Per layer (span name): self time plus the Spark figures of its
    jobs, and the SQL plan metrics of the queries those jobs ran."""
    from tracing import StatusReader
    reader = StatusReader(spark)
    by_group = reader.jobs_by_group()
    spans = tracer.spans()
    figs, plans = {}, {}
    for name in {s["name"] for s in spans}:
        mine = [s for s in spans if s["name"] == name]
        jobs = [j for s in mine for j in by_group.get(s["group"], [])]
        fig = reader.stage_figures(jobs)
        fig["busy_s"] = sum(tracer.self_time(s) for s in mine)
        fig["jobs"] = len(jobs)
        figs[name] = fig
        plans[name] = reader.plan_metrics(jobs)
    return figs, plans


def run(args) -> dict:
    sys.path[:0] = [ROOT, HERE]
    from tracing import Tracer
    from workloads import WORKLOADS, kernel_metrics

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    conf = prepare_env(work)
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, args.scale)
        wl.generate()                                  # seeded inputs, untimed
        log(f"inputs {wl.shape}")

        t0 = time.perf_counter()
        spark = start_spark(CORES, conf)
        session_start = time.perf_counter() - t0       # cold: JVM launch
        log(f"session up in {session_start:.2f}s")
        loads = []
        for _ in range(SETUP_REPEATS):
            # the engine's UDF objects keep the first SparkContext, so the
            # session is started once and the layer load is repeated
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            wl.setup(spark)
            loads.append(time.perf_counter() - t0)
        setups = [session_start + t for t in loads]
        log(f"set-ups {[round(t, 3) for t in loads]}")

        errors: list[str] = []

        def one_iteration() -> tuple[float, float, float, int] | None:
            """One timed pass: wall seconds, CPU seconds of the process
            tree, seconds stolen from the machine, input rows. None if it
            raised or failed its check."""
            timer = threading.Timer(ITER_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
            timer.start()
            try:
                c0, s0, k0 = tree_cpu_s(), steal_s(), sampler.cpu_s
                t0 = time.perf_counter()
                rows = wl.iterate(spark)
                t = time.perf_counter() - t0
                cpu = tree_cpu_s() - c0 - (sampler.cpu_s - k0)
                stolen = steal_s() - s0
                log(f"iteration {t:.3f}s wall, {cpu:.2f}s cpu, {stolen:.2f}s stolen")
            except Exception:  # noqa: BLE001 - a raising run is counted as failed
                errors.append(traceback.format_exc(limit=3))
                return None
            finally:
                timer.cancel()
            if not wl.check_iteration():
                errors.append("iteration output check failed")
                return None
            return t, cpu, stolen, rows

        # the checked pass runs the whole pipeline once, so it is also the
        # warm-up; it counts as one attempted run
        try:
            errors += wl.check(spark)
        except Exception:  # noqa: BLE001 - a raising run is counted as failed
            errors.append(traceback.format_exc(limit=3))
        attempted, failed = 1, int(bool(errors))
        log(f"checked: {len(errors)} errors")

        sampler = RssSampler()
        sampler.start()
        times, cpus, stolen, rates, cpu_rates = [], [], [], [], []
        timed = 0
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds or timed < MIN_ITERATIONS:
            timed += 1
            res = one_iteration()
            if res is None:
                failed += 1
            else:
                t, cpu, st, rows = res
                times.append(t)
                cpus.append(cpu)
                stolen.append(st)
                rates.append(rows / t)
                cpu_rates.append(rows / max(cpu, 1 / CLOCK_TICKS))
        attempted += timed
        peak_rss = sampler.stop()
        log(f"timed {len(times)} iterations: {[round(t, 3) for t in times]}")

        result = {
            "workload": args.workload, "seed": args.seed, "cores": CORES,
            "shape": wl.shape, "attempted": attempted, "failed": failed,
            "failed_share": failed / attempted,
            "rows_per_s": summary(rates) if rates else None,
            "rows_per_cpu_s": summary(cpu_rates) if cpu_rates else None,
            "iteration_s": summary(times) if times else None,
            "iteration_cpu_s": summary(cpus) if cpus else None,
            "stolen_s": stolen,
            "setup_s": summary(setups), "session_start_s": session_start,
            "peak_rss_mb": peak_rss, "errors": errors,
        }
        if args.trace:
            tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}")
            t = time.perf_counter()
            wl.traced(spark, tracer)
            traced_s = time.perf_counter() - t
            log(f"traced iteration {traced_s:.2f}s")
            figs, plans = layer_figures(spark, tracer)
            layer = {f"{name}.{m}": figs.get(name, {}).get(m, 0)
                     for name in LAYERS for m in GENERIC_UNITS}
            layer.update(wl.layer_metrics(spark, figs, plans))
            layer.update(kernel_metrics(spark))
            layer["tag.resolve_shuffle_bytes"] = figs.get("tag", {}).get("shuffle_bytes", 0)
            layer["session.start_s"] = session_start
            layer["trace.overhead_ratio"] = (traced_s / statistics.median(times)
                                             if times else 0.0)
            result["per_layer"] = {k: layer.get(k, 0) for k in per_layer_units()}
            result["spans"] = tracer.spans()
        return result
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spandex_spark")):
        print(f"perfbench: no spandex_spark package under {ROOT}", file=sys.stderr)
        return 2
    res = run(args)
    setup = res["setup_s"]
    rps, rpc = (res[k]["median"] if res[k] else 0.0 for k in ("rows_per_s", "rows_per_cpu_s"))
    print(json.dumps({k: res[k] for k in ("workload", "seed", "cores", "shape")}))
    print(json.dumps({k: res[k] for k in (
        "rows_per_s", "rows_per_cpu_s", "iteration_s", "iteration_cpu_s", "stolen_s",
        "setup_s", "session_start_s")}))
    for e in res["errors"]:
        print("ERROR", e.replace("\n", " | "))
    if args.trace:
        print(json.dumps({"spans": res["spans"]}))
    print(f"{res['workload']}: rows_per_s={rps:.1f} rows/s  "
          f"rows_per_cpu_s={rpc:.1f} rows/cpu-s  setup_s={setup['median']:.3f} s  "
          f"peak_rss_mb={res['peak_rss_mb']:.1f} MB  "
          f"failed_share={res['failed_share']:.3f} ratio")
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
    else:
        metrics = {"rows_per_cpu_s": {"value": rpc, "unit": "rows/cpu-s"},
                   "setup_s": {"value": setup["median"], "unit": "s"},
                   "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"}}
    print(json.dumps({"correct": not res["errors"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
