"""Benchmark of the shapely_spark engine on this host: batch workloads at
local[nproc], each checked against an independent reference.

    python3 perfbench/run.py --workload point_tile_knn --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # point_join, geom_join, tile_knn
    python3 perfbench/run.py --smoke                 # tiny sizes; proves the check fires

Run from the repository root. One run: generate (or reuse) the seeded
inputs in a child process, then set the engine up once: a fresh Spark
session and the first, cold run of the job (``setup_s``). The reference is
computed after it, untimed, and the cold job is checked against it. Then
the job runs in a closed loop, one job at a time, for ``--seconds`` and at
least MIN_JOBS jobs. Every job is checked; a failure or mismatch counts
against ``attempted`` and makes the exit code non-zero. ``--trace 1``
alternates plain and traced jobs and reports the per-layer figures
instead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is the full record (host, versions, seed, input hash).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SIZES = {
    "point_join": {"n": 10_000},
    "geom_join": {"left": 12_000, "lines": 40},
    "tile_knn": {"n": 10_000},
    "point_tile_knn": {"n": 10_000},
}
ALL = ("point_join", "geom_join", "tile_knn")
SMOKE_SIZES = {
    "point_join": {"n": 2_000},
    "geom_join": {"left": 2_000, "lines": 12},
    "tile_knn": {"n": 2_000},
}
MIN_JOBS = 3
DRIVER_MEM = "3g"

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB", "setup_s": "s"}


def host_env() -> int:
    """Fit the session to this host from outside the engine; keep every
    file the run writes under the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return nproc


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2) if n else 0.0


class Run:
    """One workload run: the set-up, the closed loop, the record."""

    def __init__(self, wl, trace: bool, seconds: float, min_jobs: int, log):
        self.wl, self.trace, self.seconds, self.log = wl, trace, seconds, log
        self.min_jobs = min_jobs
        self.attempted = self.failed = 0
        self.setup_s = self.session_s = self.expected_s = 0.0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.traced_walls: list[float] = []
        self.layer_runs: list[dict] = []
        self.setup_layers: dict = {}
        self.spark = None
        self.cpu_per_job = 0.0

    def attempt(self, fn):
        """Run one job; count it; return its result or None on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failed job is counted and reported, never dropped
            self.failed += 1
            self.log(f"{self.wl.name}: job failed\n{traceback.format_exc()}")
            return None

    def setup(self) -> dict | None:
        """Start the session and run the job once, cold: ``setup_s`` is the
        two together. The reference is computed after it, untimed, and the
        cold job's result is checked against it. Returns the expected
        results, or None when the set-up failed."""
        from pyspark.sql import SparkSession

        from shapely_spark.spark.session import get_spark

        def cold():
            active = SparkSession.getActiveSession()
            if active is not None:  # an earlier workload of this command
                active.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app="perfbench")
            self.session_s = time.perf_counter() - t0
            got = self.wl.job(self.spark)
            self.setup_s = time.perf_counter() - t0
            if self.trace:
                import planmetrics
                import workloads

                self.setup_layers = workloads.plan_layers(
                    {k: planmetrics.nodes(agg) for k, (agg, _) in got.items()})
            expected = self.wl.expected(self.spark)
            self.expected_s = time.perf_counter() - t0 - self.setup_s
            self.verify(got, expected)
            return expected

        return self.attempt(cold)

    def verify(self, got: dict, expected: dict) -> None:
        import reference as R

        bad = [k for k in expected if not R.same(got[k][1], expected[k])]
        for k in bad:
            self.log(f"{self.wl.name}: {k} mismatch: got {got[k][1]} "
                     f"expected {expected[k]}")
        if bad:
            raise AssertionError("result differs from the reference")

    def one_job(self, expected: dict, traced: bool):
        import planmetrics
        import procstat

        c0, t0 = procstat.cpu_seconds(), time.perf_counter()
        got = self.wl.job(self.spark)
        plans = ({k: planmetrics.nodes(agg) for k, (agg, _) in got.items()}
                 if traced else None)
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_seconds() - c0
        self.verify(got, expected)
        return wall, cpu, plans

    def loop(self, expected: dict) -> None:
        import procstat
        import workloads

        start = time.perf_counter()
        cpu0 = procstat.cpu_seconds()
        k = 0
        while k < self.min_jobs or time.perf_counter() - start < self.seconds:
            traced = self.trace and k % 2 == 1
            r = self.attempt(lambda: self.one_job(expected, traced))
            k += 1
            if r is None:
                continue
            wall, cpu, plans = r
            if traced:
                self.traced_walls.append(wall)
                self.layer_runs.append(workloads.plan_layers(plans))
            else:
                self.walls.append(wall)
                self.cpus.append(cpu)
        self.cpu_per_job = (procstat.cpu_seconds() - cpu0) / max(1, k)

    def layers(self) -> dict:
        """Per-layer figures: plan metrics (median over traced jobs; counts
        repeat exactly), then the benchmark's own spans around layer calls."""
        keys = {k for r in self.layer_runs for k in r}
        m = {k: median([r.get(k, 0) for r in self.layer_runs]) for k in keys}
        spans = self.attempt(lambda: self.wl.trace(self.spark))
        for k, v in (spans or {}).items():
            m.setdefault(k, v)
        # the loop reuses the workers the cold job forked: boot is paid once
        m["spark.daemon.boot_s"] = self.setup_layers.get("spark.daemon.boot_s", 0.0)
        m["trace.overhead_s"] = median(self.traced_walls) - median(self.walls)
        return m


def stop_engine() -> None:
    """Stop Spark, close the JVM gateway and wait for every child process."""
    import procstat
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procstat.reap_descendants()


def layer_catalog() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


def prepare(name, size, seed):
    """Generate the inputs in a child process, so that the driver process
    holds the same memory whether or not they were on disk already, then
    open them. Returns the workload, whether it was built and the time."""
    import workloads

    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-inputs",
         "--workload", name, "--seed", str(seed), "--size", json.dumps(size)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    wl = workloads.WORKLOADS[name](os.path.join(WORK, "inputs"), seed, size)
    return wl, json.loads(out.splitlines()[-1])["built"], time.perf_counter() - t0


def run_workload(name, size, seed, seconds, trace, nproc, log,
                 min_jobs=MIN_JOBS):
    import procstat

    wl, built, input_s = prepare(name, size, seed)
    run = Run(wl, trace, seconds, min_jobs, log)
    expected = run.setup()
    if expected is not None:
        # peak memory of the timed jobs alone, not of the set-up and the
        # reference computation before them
        procstat.reset_peaks()
        run.loop(expected)
    wall = median(run.walls)
    rss = procstat.peak_rss_mb()
    if trace:
        m = run.layers() if expected is not None else {}
        metrics = {d["name"]: {"value": float(m.get(d["name"], 0.0)),
                               "unit": d["unit"]} for d in layer_catalog()}
    else:
        vals = {"wall_s": wall,
                "rows_per_s": wl.rows / wall if wall else 0.0,
                "cpu_s": run.cpu_per_job,
                # the JVM's peak follows its GC's heap sizing (0.9-2.1 GB
                # over runs of identical work), so it is recorded, not summed
                "peak_rss_mb": rss["driver"] + rss["workers"],
                "setup_s": run.setup_s}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": name, "seed": seed, "size": size, "trace": int(trace),
        "input_sha256_16": wl.sha, "input_built": built, "input_s": input_s,
        "nproc": nproc, "driver_mem": DRIVER_MEM, "peak_rss_mb_by_process": rss,
        "setup_s": run.setup_s, "session_s": run.session_s,
        "expected_s": run.expected_s, "job_walls_s": run.walls,
        "job_cpu_s": run.cpus, "traced_walls_s": run.traced_walls,
        "attempted": run.attempted, "failed": run.failed,
        "failed_ratio": run.failed / max(1, run.attempted),
        "metrics": metrics,
    }
    if run.spark is not None:
        record["versions"] = versions(run.spark)
    return record


def versions(spark) -> dict:
    import numpy
    import pyspark

    return {"spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "numpy": numpy.__version__}


def summary_line(rec) -> str:
    m = rec["metrics"]
    parts = [f"{k} {v['value']:.6g} {v['unit']}" for k, v in m.items()]
    parts.append(f"failed_ratio {rec['failed_ratio']:.3g} ratio "
                 f"({rec['failed']}/{rec['attempted']})")
    return f"{rec['workload']}: " + "  ".join(parts)


def smoke(nproc, log) -> int:
    """Run every workload at tiny size, then prove the check rejects a
    reference with one row dropped."""
    import reference as R
    import workloads

    from pyspark.sql import SparkSession

    ok = True
    try:
        for name, size in SMOKE_SIZES.items():
            rec = run_workload(name, size, 1, 0.0, False, nproc, log,
                               min_jobs=1)
            print(summary_line(rec), flush=True)
            ok &= rec["failed"] == 0
            wl = workloads.WORKLOADS[name](os.path.join(WORK, "inputs"), 1, size)
            spark = SparkSession.getActiveSession()
            got = wl.job(spark)
            bad = wl.expected(spark, drop=1)
            caught = all(not R.same(got[k][1], bad[k]) for k in bad)
            print(f"{name}: perturbed reference rejected: {caught}", flush=True)
            ok &= caught
    finally:
        stop_engine()
    print(json.dumps({"smoke_ok": bool(ok)}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=["all", *SIZES])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--build-inputs", action="store_true",
                    help=argparse.SUPPRESS)  # child of prepare()
    ap.add_argument("--size", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "shapely_spark")):
        print(f"perfbench: no shapely_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    nproc = host_env()
    sys.path[:0] = [ROOT, HERE]
    if args.build_inputs:
        import workloads

        wl = workloads.WORKLOADS[args.workload](
            os.path.join(WORK, "inputs"), args.seed, json.loads(args.size))
        print(json.dumps({"built": wl.built}))
        return 0

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    if args.smoke:
        return smoke(nproc, log)
    names = list(ALL) if args.workload == "all" else [args.workload]
    records = []
    try:
        for name in names:
            rec = run_workload(name, SIZES[name], args.seed, args.seconds,
                               bool(args.trace), nproc, log)
            records.append(rec)
            print(summary_line(rec), flush=True)
    finally:
        stop_engine()
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    if len(records) == 1:
        metrics = records[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": v for r in records
                   for k, v in r["metrics"].items()}
    for r in records:
        print(json.dumps(r))
    correct = failed == 0 and all(r["job_walls_s"] for r in records)
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
