"""End-to-end benchmark of the user-facing flows, driven through the
public API of the ``xdump_spark`` package in the same checkout.

    python3 e2ebench/run.py --workload dump_load_wide --seed 1 --seconds 10 --trace 0

One client runs ops in a closed loop for ``--seconds`` (at least one op)
after set-up and warm-up. Every op's output is checked. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP_OPS = 1
DRIVER_MEM = "2g"
HASH_SEED = "0"
CAL_ROWS = 20_000_000     # bench.py's calibration job at 2/15 of its size


def _log(msg: str) -> None:
    print(f"e2ebench: {msg}", file=sys.stderr, flush=True)


def _fail(msg: str) -> None:
    _log(msg)
    sys.exit(2)


def _noise_controls(work: str) -> None:
    """Environment for the JVM and Python workers, set before either starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["XDUMP_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _spec_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _reset_peak_rss() -> None:
    """Reset VmHWM, so the next reading is the peak since now. Without
    the reset it would be the peak of the whole run, harness included."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError as exc:
        _fail(f"cannot reset the peak RSS through /proc/self/clear_refs: {exc}")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    _fail("no VmHWM line in /proc/self/status")


def _steal_s() -> float:
    """CPU time the hypervisor took from this host's vCPUs, all of them
    together, since boot (``/proc/stat``). A run whose ops lose seconds
    to it was slowed by its neighbours, not by the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _calibrate(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, CAL_ROWS, 1, 16)
        .select((F.xxhash64("id") % 4096).alias("k"), F.col("id"))
        .groupBy("k")
        .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def _jit_quiet(spark, window_s: float = 0.5, quiet_ms: int = 50, limit_s: float = 15.0) -> float:
    """Wait until the JVM's JIT compilers go quiet (under ``quiet_ms`` of
    compile time in a ``window_s`` window), at most ``limit_s``. After an
    op the compilers keep working for seconds; an op started meanwhile
    shares the cores with them."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    prev = bean.getTotalCompilationTime()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(window_s)
        cur = bean.getTotalCompilationTime()
        if cur - prev < quiet_ms:
            break
        prev = cur
    return time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    def __init__(self, workload, spark, work: str, tracer=None):
        from sparkstats import StatusStore

        self.wl = workload
        self.spark = spark
        self.work = work
        self.stats = StatusStore(spark)
        self.tracer = tracer
        self.n = 0

    def op(self, traced: bool = False, settle: bool = True) -> dict:
        """One op: timed call, then (untimed) jobs, memory and checks.
        ``settle``: first collect garbage and let the JIT go quiet."""
        op_dir = os.path.join(self.work, f"op{self.n}")
        self.n += 1
        os.makedirs(op_dir)
        wait_s = 0.0
        if settle:
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            wait_s = _jit_quiet(self.spark)
        first_job = self.stats.next_job_id()
        if traced:
            self.tracer.install()
        _reset_peak_rss()
        rec: dict = {"problems": []}
        root = None
        steal0 = _steal_s()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op") as root:
                    res = self.wl.op(op_dir)
            else:
                res = self.wl.op(op_dir)
        except Exception as exc:       # a crashed op counts as failed
            res = None
            rec["problems"].append(f"op raised {type(exc).__name__}: {exc}")
        rec["op_s"] = time.perf_counter() - t0
        steal_s = _steal_s() - steal0
        rec["rss_mb"] = _peak_rss_mb()
        spans = []
        if traced:
            self.tracer.uninstall()
            spans = self.tracer.take()
        jobs = self.stats.jobs_since(first_job)
        rec["jobs"] = len(jobs)
        t_check = time.perf_counter()
        if res is not None:
            try:
                out = self.wl.check(res)
                rec["problems"] += out.problems
                rec["rows"], rec["out_bytes"] = out.rows, out.out_bytes
            except Exception as exc:
                rec["problems"].append(f"check raised {type(exc).__name__}: {exc}")
        if traced and res is not None:
            from layers import layer_metrics

            rec["layers"] = layer_metrics(
                spans, root, [(j.job_id, j.submitted) for j in jobs],
                self.stats.stage_totals(jobs), rec.get("out_bytes", 0)
                if self.wl.name.startswith("dump") else 0)
        shutil.rmtree(op_dir, ignore_errors=True)
        _log(f"op {self.n - 1}{' traced' if traced else ''}: {rec['op_s']:.2f} s, "
             f"{rec['jobs']} jobs, check {time.perf_counter() - t_check:.2f} s, "
             f"JIT wait before {wait_s:.2f} s, host steal {steal_s:.2f} s, "
             f"{len(rec['problems'])} problems")
        return rec


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # one string-hash seed for every run: set iteration orders, and
        # with them the order the program submits per-table jobs, repeat
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])

    if not os.path.isfile(os.path.join(ROOT, "xdump_spark", "__init__.py")):
        _fail(f"no xdump_spark package next to {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(ROOT, ".e2ebench_work", str(os.getpid()))
    spark = None
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        shutil.rmtree(work, ignore_errors=True)   # left by a killed run with this pid
        os.makedirs(work)
        _noise_controls(work)
        t_in = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](
            os.path.join(ROOT, ".e2ebench_data"), work, args.seed)
        _log(f"inputs and expected outputs: {time.perf_counter() - t_in:.2f} s")

        t0 = time.perf_counter()
        import xdump_spark
        from xdump_spark.session import get_spark

        if not os.path.abspath(xdump_spark.__file__).startswith(ROOT + os.sep):
            _fail(f"imported xdump_spark from {xdump_spark.__file__}, not this checkout")
        spark = get_spark("e2ebench")
        t1 = time.perf_counter()
        wl.prepare(spark)
        t2 = time.perf_counter()
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
        runner = Runner(wl, spark, work, tracer)
        warm_s = 0.0
        for _ in range(WARMUP_OPS):
            rec = runner.op(settle=False)
            if rec["problems"]:
                _fail(f"warm-up op failed: {rec['problems']}")
            warm_s += rec["op_s"]
        # the warm-up's timed call only: its checks and clean-up are the
        # benchmark's time, not the program's
        setup = {"session.start_s": t1 - t0, "catalog.load_s": t2 - t1,
                 "setup_s": t2 - t0 + warm_s}
        _log("set-up: " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()))

        cal_s = _calibrate(spark) if args.trace else 0.0
        ops: list[dict] = []
        start = time.perf_counter()
        while True:
            # traced runs alternate untraced and traced ops, so the
            # tracing overhead is measured in the same run
            traced = bool(args.trace) and len(ops) % 2 == 1
            ops.append(runner.op(traced))
            elapsed = time.perf_counter() - start
            # start another op only if it should end within --seconds,
            # judged by the mean op so far (settling and checks included)
            fits = elapsed * (len(ops) + 1) / len(ops) <= args.seconds
            if not fits and (not args.trace or len(ops) >= 2):
                break
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
        _log(f"stop: {time.perf_counter() - t_stop:.2f} s")
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:      # another run's work directory is still there
            pass

    failed = [r for r in ops if r["problems"]]
    for r in failed:
        _log(f"failed op: {r['problems']}")
    good = [r for r in ops if not r["problems"]]
    if args.trace:
        metrics = _layer_summary(good, setup, cal_s)
    else:
        metrics = _end_to_end(good, setup)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def _report(vals: dict, kind: str) -> dict:
    """The metrics of BENCHMARK.json's ``kind`` list, with their units.
    A listed metric the code does not compute is a KeyError."""
    return {k: {"value": vals[k], "unit": u} for k, u in _spec_units(kind).items()}


def _end_to_end(good: list[dict], setup: dict) -> dict:
    return _report({
        "op_s": _median([r["op_s"] for r in good]),
        "setup_s": setup["setup_s"],
        "spark_jobs": _median([r["jobs"] for r in good]),
        "out_bytes_per_row": _median([r["out_bytes"] / r["rows"] for r in good if r.get("rows")]),
        "driver_peak_rss_mb": _median([r["rss_mb"] for r in good]),
    }, "end_to_end")


def _layer_summary(good: list[dict], setup: dict, cal_s: float) -> dict:
    traced = [r for r in good if "layers" in r]
    plain = [r for r in good if "layers" not in r]
    if traced:
        vals = {k: _median([r["layers"][k] for r in traced]) for k in traced[0]["layers"]}
    else:                # every traced op failed: the run reports correct=false
        vals = dict.fromkeys(_spec_units("per_layer"), 0.0)
    vals.update({k: setup[k] for k in ("session.start_s", "catalog.load_s")})
    vals["host.cal_s"] = cal_s
    vals["trace.overhead_s"] = (_median([r["op_s"] for r in traced])
                                - _median([r["op_s"] for r in plain]))
    return _report(vals, "per_layer")


if __name__ == "__main__":
    sys.exit(main())
