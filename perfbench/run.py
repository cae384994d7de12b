"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload ingest_pipeline --seed 1 --seconds 2 --trace 0

Run from the repository root. The engine is imported from the current
directory; every file the run writes lives under ``.perfbench_work/``
there and is removed at exit. Spark runs ``local[n]`` with ``n`` = the
CPUs this process may use, and ``n`` shuffle partitions.

Each run builds the workload's state three times and runs the
workload's warm-up, then makes the workload's ``WRITES`` writes. Each
write is followed by ``CYCLES`` timed cycles of the workload's no-ops
(if any) and one read; after the first write, the workload's
``WARM_CYCLES`` untimed cycles come before them. Untraced, more cycles
follow only while the timed window has taken less than ``--seconds``.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run is made under the layer tracer (``spans.py``)
and the last line carries per-layer costs of the writes, the no-ops and
the reads. The line before it is a diagnostics record: host steal share,
Spark master, CPU count, sample counts, and the end-to-end numbers of
this run, so a traced run can be set next to an untraced one to see
tracing overhead.
"""

from __future__ import annotations

import argparse
import faulthandler
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
CHECKOUT = os.getcwd()
WORK = os.path.join(CHECKOUT, ".perfbench_work")
PACKAGE = "spacex_data_engineering_pipeline_spark"

SETUP_ROUNDS = 3
WATCHDOG_S = 170


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal (guest time is already inside user)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def timing(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (none below twenty samples), and the sample count."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    p = 1 - 10 / len(samples)
    if p > 0.5:
        q = sorted(samples)[min(len(samples) - 1, int(p * len(samples)))]
        out[f"p{int(p * 100)}"] = q
    return out


def start_spark(cpus: int):
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no JVM, the spark-submit launcher's included, writes hsperfdata to /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )
    from spacex_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Counter:
    """Attempted/failed operations; an exception counts as a failure."""

    def __init__(self):
        self.attempted = self.failed = 0

    def run(self, fn) -> float:
        self.attempted += 1
        t = time.perf_counter()
        try:
            ok = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t
        self.failed += not ok
        return dt


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a run takes well under a minute; never outlive the 180 s budget
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    sys.path.insert(1, CHECKOUT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {CHECKOUT}", file=sys.stderr)
        return 2
    import spans
    from workloads import WORKLOADS, created_bytes, du

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cpus = len(os.sched_getaffinity(0))
    # the JVM starts while the inputs are loaded
    with ThreadPoolExecutor(max_workers=1) as pool:
        spark_future = pool.submit(start_spark, cpus)
        try:
            t = time.perf_counter()
            wl = WORKLOADS[args.workload](os.path.join(WORK, "run"), args.seed)
            inputs_s = time.perf_counter() - t
        finally:
            spark = spark_future.result()
    try:
        result = run(spark, args, cpus, wl, inputs_s, spans, du, created_bytes)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"diagnostics": result.pop("diagnostics")}))
    print(json.dumps(result))
    return 0


def run(spark, args, cpus, wl, inputs_s, spans, du, created_bytes) -> dict:
    phases = {"spark_s": time.perf_counter() - T_START, "inputs_s": inputs_s}
    ops = Counter()
    wl.bind(spark)
    setup_s = []
    for rnd in range(SETUP_ROUNDS):
        prev = getattr(wl, "root", None)
        t = time.perf_counter()
        wl.setup(rnd)
        setup_s.append(time.perf_counter() - t)
        if prev:
            shutil.rmtree(prev)
    t = time.perf_counter()
    wl.warm()
    phases["warm_s"] = time.perf_counter() - t

    # A fixed number of writes per run keeps written_mb and disk_mb a
    # function of the seed. Where a workload has no-ops they alternate
    # with the reads, so host contention that comes in bursts of seconds
    # hits both alike.
    tracer = None
    if args.trace:
        tracer = spans.Tracer(spark)
        spans.instrument(tracer)

    def untraced(fn) -> None:
        """Stage the next input outside the timers and the tracer."""
        if tracer:
            tracer.exit()
        try:
            fn()
        finally:
            if tracer:
                tracer.enter("spark")

    samples = {"write": [], "noop": [], "read": []}
    written = 0

    def cycle(noop: list, read: list) -> None:
        for _ in range(wl.NOOPS):
            noop.append(ops.run(wl.noop))
        read.append(ops.run(wl.read))

    if tracer:
        tracer.enter("spark")
    cpu0 = cpu_times()
    try:
        for w in range(wl.WRITES):
            untraced(wl.prepare)
            before = du(wl.root)
            if w == 0:
                t0 = time.perf_counter()
                phases["startup_s"] = t0 - T_START
            samples["write"].append(ops.run(wl.write))
            written += created_bytes(before, du(wl.root))
            if w == 0:
                for _ in range(wl.WARM_CYCLES):
                    cycle([], [])
            for _ in range(wl.CYCLES):
                cycle(samples["noop"], samples["read"])
        while not tracer and time.perf_counter() - t0 < args.seconds:
            cycle(samples["noop"], samples["read"])
        phases["timed_s"] = time.perf_counter() - t0
        steal = steal_share(cpu0, cpu_times())
    finally:
        if tracer:
            tracer.exit()
            tracer.restore()
    disk = sum(du(wl.root).values())

    ops.attempted += 1
    t = time.perf_counter()
    errors = wl.check()
    phases["check_s"] = time.perf_counter() - t
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    ops.failed += bool(errors)

    e2e = {
        "setup_s": (statistics.median(setup_s), "s"),
        "startup_s": (phases["startup_s"], "s"),
        "write_p50_s": (statistics.median(samples["write"]), "s"),
        "read_p50_s": (statistics.median(samples["read"]), "s"),
        "written_mb": (written / 1e6, "MB"),
        "disk_mb": (disk / 1e6, "MB"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if tracer:
        metrics = {
            f"{layer}.{name}": {"value": value, "unit": spans.UNITS[name]}
            for layer, row in tracer.totals().items()
            for name, value in row.items()
        }
        metrics["upsert.rewrite_ratio"] = {
            "value": wl.rewrite_ratio(metrics["upsert.out_rows"]["value"]),
            "unit": "ratio",
        }
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "steal_share": steal,
            "master": spark.sparkContext.master,
            "nproc": cpus,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        },
        "phases": phases,
        "setup_rounds_s": setup_s,
        "timings": {k: timing(v) for k, v in samples.items() if v},
        "samples": samples,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "written_bytes": written,
        "disk_bytes": disk,
        "check_errors": errors,
    }
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
        "diagnostics": diagnostics,
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
