"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 12 --trace 0

Workloads (perfbench/workloads.py): ``crawl_cold``, ``crawl_resume``,
``query_sweep``.  Runs from the root of a source checkout on a
``local[nproc]`` session started here; every input is generated from
``--seed`` and all scratch state lives under ``.perfbench_work/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones (set-up, median wall of a timed unit, items per second);
with ``--trace 1`` the run interleaves traced and untraced units and
reports the per-layer metrics of the traced ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_cold", "crawl_resume", "query_sweep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] session size (default: nproc)")
    return p.parse_args(argv)


def calibrate(spark) -> float:
    """Median of three runs of one fixed small job: the run's ambient
    speed, so drift between runs shows next to their results."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def start_session(work: Path, cores: int, trace: bool):
    from bathyscaphe_spark.session import build_session

    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        # every job and stage of the run must stay in the status store
        # until the counters are read at the end
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return build_session(
        app_name="bathyscaphe-perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8), extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(w, seconds: float, trace: bool):
    """Timed units until ``seconds`` would be overrun, and at least the
    workload's ``min_units``.  With tracing, traced (T) and untraced (U)
    units run in the order T U U T T U ..., at least T U U T: the first
    unit, the one an untraced run reports, is traced, and a drift that is
    linear in time cancels out of the overhead."""
    reps = []
    t0 = time.perf_counter()
    least = 4 if trace else w.min_units
    while True:
        traced = trace and len(reps) % 4 in (0, 3)
        reps.append(w.rep(traced))
        elapsed = time.perf_counter() - t0
        longest = max(r.wall for r in reps)
        if len(reps) >= least and elapsed + longest > seconds:
            return reps


def run(args, work: Path) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, median_layers

    t0 = time.perf_counter()
    spark = start_session(work, args.cores, bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
        if args.trace:
            tracer.install()
        w = WORKLOADS[args.workload](spark, args.seed, str(work), args.cores, tracer)
        t = time.perf_counter()
        w.generate()
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t
        calib_start = calibrate(spark)
        reps = measure(w, args.seconds, bool(args.trace))
        calib_end = calibrate(spark)
        peak_rss_mb = vm_hwm_mb(jvm_pid)
        t = time.perf_counter()
        w.check()
        if args.trace:
            tracer.collect_counters()
        check_s = time.perf_counter() - t
    finally:
        stop_session(spark)
    print(f"perfbench: outputs {json.dumps(w.outputs, sort_keys=True)}", file=sys.stderr)
    print(f"perfbench: session {session_s:.1f}s, generate {generate_s:.1f}s, "
          f"prepare {prepare_s:.1f}s, warm-up {warm_s:.1f}s, "
          f"units {[round(r.wall, 2) for r in reps]}s, checks {check_s:.1f}s, "
          f"calib {calib_start:.3f}/{calib_end:.3f}s, "
          f"total {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    ok = [r for r in reps if r.failed == 0]
    attempted = w.attempted + sum(r.attempted for r in reps)
    failed = w.failed + sum(r.failed for r in reps)
    for p in w.problems:
        print(f"problem: {p}", file=sys.stderr)
    if not ok:
        raise RuntimeError("no timed unit completed without error")
    untraced = [r for r in ok if not r.traced]
    traced = [r for r in ok if r.traced]
    if args.trace:
        if not traced or not untraced:
            raise RuntimeError("traced run needs a clean traced and untraced unit")
        metrics = median_layers(tracer.spans, traced)
        metrics.update({
            "setup.session_s": session_s,
            "setup.generate_s": generate_s,
            "setup.prepare_s": prepare_s,
            "setup.warmup_s": warm_s,
            "peak_rss_mb": peak_rss_mb,
            "calib.start_s": calib_start,
            "calib.end_s": calib_end,
            "trace.overhead_s": w.unit_wall(traced) - w.unit_wall(untraced),
            "error_rate": failed / attempted,
        })
    else:
        wall = w.unit_wall(untraced)
        metrics = {
            "setup_s": session_s + generate_s + prepare_s + warm_s,
            "wall_s": wall,
            "items_per_s": statistics.median(r.items for r in untraced) / wall,
        }
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
    return {
        "correct": failed == 0 and not w.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bathyscaphe_spark" / "__init__.py").is_file():
        print("perfbench: no bathyscaphe_spark package next to perfbench/", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the JVM, its python workers and every temp file stay in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
