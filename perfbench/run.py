"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout: the engine package is imported from the
current directory. One run is one fresh process:

1. generate the seed's inputs (cached under ``.perfbench_cache/``) and
   load the DuckDB reference (computed in a child process on first use) —
   excluded from ``setup_s``;
2. start the session (``local[cpus]``, ``cpus`` = min(CPUS, usable cores),
   driver heap DRIVER_MEMORY) and register the inputs — this is
   ``setup_s``, counted from process start;
3. one cold unit of work (``first_s``), then a fixed number of untimed
   warm-up units;
4. timed units until ``--seconds`` have passed, at least the workload's
   ``min_timed_units``, and never past the end of its inputs;
5. with ``--trace 1`` the timed units run traced instead and the run
   reports per-layer metrics (spans are written to ``.perfbench_out/``).

Every unit's output is checked; a wrong output or an exception is a
failed operation. The last line of stdout is the JSON result. Exits
non-zero without a result when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "reddit_twitter_big_data_pipeline_spark"
# Two task threads and a 1 GB heap, set explicitly whatever the session's
# defaults say. On four vCPUs, four task threads contend with the driver
# JVM's JIT and GC threads and the Python workers: a daily_batch unit took
# 13-15 s at local[4] against 8-10 s at local[2], with twice the spread.
# A 2 GB heap let peak memory wander between 2.2 and 3.1 GB from run to run.
CPUS = 2
DRIVER_MEMORY = "1g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts too)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def leftover_jvms(root: str) -> list[int]:
    """Spark driver JVMs still running from an earlier run in `root`."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
            cwd = os.readlink(f"/proc/{name}/cwd")
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd and cwd == root:
            out.append(int(name))
    return out


def wait_for_no_leftover_jvm(root: str, timeout_s: float = 60.0) -> None:
    deadline = time.monotonic() + timeout_s
    while (pids := leftover_jvms(root)) and time.monotonic() < deadline:
        time.sleep(0.5)
    if pids:
        raise RuntimeError(f"Spark JVMs from an earlier run are still alive: {pids}")


def start_session(work: str):
    from reddit_twitter_big_data_pipeline_spark import session

    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    return session.get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores stdin EOF
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Runner:
    def __init__(self, workload, sampler, log):
        self.w = workload
        self.sampler = sampler
        self.log = log
        self.attempted = 0
        self.failed = 0

    def run(self, i: int, around=contextlib.nullcontext) -> tuple[float, float, bool]:
        """One checked unit; returns (wall seconds, CPU seconds, whether it
        succeeded with the right output). `around()` is entered for the
        unit itself, not for its check."""
        self.attempted += 1
        cpu0 = self.sampler.cpu_s()
        t0 = time.perf_counter()
        try:
            with around():
                handle = self.w.unit(i)
        except Exception:  # noqa: BLE001 — a failed operation, not a crash
            wall = time.perf_counter() - t0
            self.failed += 1
            self.log(f"unit {i} raised:\n{traceback.format_exc()}")
            return wall, self.sampler.cpu_s() - cpu0, False
        wall = time.perf_counter() - t0
        cpu = self.sampler.cpu_s() - cpu0
        t0 = time.perf_counter()
        try:
            ok = self.w.check(i, handle)
        except Exception:  # noqa: BLE001
            ok = False
            self.log(f"check {i} raised:\n{traceback.format_exc()}")
        if not ok:
            self.failed += 1
            self.log(f"unit {i}: output differs from the reference")
        self.log(f"unit {i}: {wall:.3f} s wall, {cpu:.2f} s cpu, ok={ok} "
                 f"(check {time.perf_counter() - t0:.1f} s)")
        return wall, cpu, ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(f"[perfbench {args.workload}] {msg}", file=sys.stderr, flush=True)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package in {root}: run from the root of a checkout")
        return 2
    sys.path[:0] = [HERE, root]

    import gen
    import procstat
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    # not set-up: waiting out an earlier run, generating inputs, the reference
    excluded = time.perf_counter()
    wait_for_no_leftover_jvm(root)
    inputs = gen.ensure_inputs(os.path.join(root, ".perfbench_cache"), args.seed)
    w = workloads.WORKLOADS[args.workload](inputs, os.path.join(work, "tables"))
    excluded = time.perf_counter() - excluded

    spark = None
    try:
        with procstat.Sampler() as sampler:
            spark = start_session(work)
            w.setup(spark)
            setup_s = process_age_s() - excluded
            runner = Runner(w, sampler, log)
            first_s, _, _ = runner.run(0)
            i = 1
            for _ in range(w.warmup_units):
                runner.run(i)
                i += 1
            if args.trace:
                import layers

                metrics = layers.traced_units(spark, w, runner, i, args, log,
                                              os.path.join(root, ".perfbench_out"))
            else:
                # Failed units are counted in `failed` and kept out of the
                # figures; a run that gets no unit right reports the failed
                # ones' figures, with `correct` false.
                timed = []
                t_end = time.perf_counter() + args.seconds
                while ((time.perf_counter() < t_end or len(timed) < w.min_timed_units)
                       and (w.units is None or i < w.units)):
                    timed.append(runner.run(i))
                    i += 1
                good = [t for t in timed if t[2]] or timed
                walls = [wall for wall, _cpu, _ok in good]
                cpus = [cpu for _wall, cpu, _ok in good]
                p50 = median(walls)
                log(f"{len(walls)} timed units, p50 {p50:.3f} s")
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "first_s": (first_s, "s"),
                    "unit_p50_s": (p50, "s"),
                    "rows_per_s": (w.input_rows / p50, "rows/s"),
                    "cpu_s": (median(cpus), "s"),
                    "peak_pss_mb": (sampler.peak_pss_mb, "MB"),
                }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
