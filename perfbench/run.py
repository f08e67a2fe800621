"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One Python process, one closed-loop client,
Spark ``local[k]`` with ``k = min(4, nproc)``. The run generates its inputs
from ``--seed`` under ``.perfbench_work/`` (removed at exit), sets up and
warms up once (``setup_s`` is the time from process start to the first
timed op, less input generation), serves ``--seconds`` divided by the
workload's nominal round time (``round_s``) rounds of its op mix,
checks every output, and prints one JSON object as the last line of
standard output. With ``--trace 0`` it reports the end-to-end metrics;
with ``--trace 1`` it records spans, probes single layers after the timed
ops and reports the per-layer metrics instead. A metadata line (machine,
sizes, load, host speed) precedes the result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "big_data_processing_with_aws_glue_workshop_spark"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    k = min(4, os.cpu_count() or 1)
    _isolate(work, k)
    tr = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, tr)
    spark = None
    try:
        t = time.perf_counter()
        sizes = wl.generate()
        cpu_probe = [_cpu_probe_s()]
        own_s = time.perf_counter() - t  # input generation and the host probe

        from big_data_processing_with_aws_glue_workshop_spark.session import get_session

        t = time.perf_counter()
        with tr.span("session.get_session"):
            spark = get_session(app_name=f"perfbench-{args.workload}")
        tr.bind(spark.sparkContext)
        wl.setup(spark)
        wl.warm_up()
        warm_s = time.perf_counter() - t
        tr.resolve()

        rng = random.Random(f"order-{args.seed}")
        lat: dict[str, list[float]] = {}
        attempted = failed = 0
        busy = 0.0
        start = time.perf_counter()
        setup_s = start - PROCESS_START - own_s
        # a fixed round count, so the op mix never depends on the box's speed
        for _ in range(max(1, round(args.seconds / wl.round_s))):
            for op in wl.round(rng):
                attempted += 1
                tr.op = attempted
                wl.prepare(op)
                t = time.perf_counter()
                try:
                    res = wl.run_op(op)
                    dt = time.perf_counter() - t
                    wl.check_op(op, res)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    continue
                finally:
                    tr.resolve()
                busy += dt
                lat.setdefault(op, []).append(dt)
        wall = time.perf_counter() - start

        correct = failed == 0
        t = time.perf_counter()
        try:
            if tr.enabled:  # single layers in isolation, after the timed ops
                wl.probe()
                tr.resolve()
            wl.final_check()
        except Exception:
            correct = False
            traceback.print_exc()
        check_s = time.perf_counter() - t

        rss = _peak_rss_mb(spark)
        cpu_probe.append(_cpu_probe_s())
        samples = sorted(x for xs in lat.values() for x in xs)
        if not samples:
            print("perfbench: no op completed", file=sys.stderr)
            return 1
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(samples),
            "ops_per_s": len(samples) / busy,
        }
        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "k": k,
            "pyspark": __import__("pyspark").__version__,
            "inputs": sizes,
            "gen_and_cpu_probe_s": own_s,
            "session_setup_warm_up_s": warm_s,
            "op_s": lat,
            "wall_s": wall,
            "check_s": check_s,  # probes (traced runs) and final check
            "peak_rss_python_jvm_mb": rss,
            "loadavg": os.getloadavg(),
            "cpu_probe_s": cpu_probe,
        }
        if tr.enabled:
            derived = {**wl.layer_values(lat), "jvm.peak_rss_mb": rss[1]}
            values = metrics.per_layer(tr, derived, e2e)
        else:
            values = e2e
        print(json.dumps({"perfbench_meta": meta}))
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics.with_units(values, traced=tr.enabled),
        }))
        return 0
    finally:
        _shutdown(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def _isolate(work: str, k: int) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(k),
        SPARK_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    os.chdir(work)


def _cpu_probe_s() -> float:
    """Median time of a fixed single-thread Python loop, taken before set-up
    and after the run: a busy host slows it, a code change does not."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this process and of the JVM it drives."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _hwm_kb("self") / 1024.0, _hwm_kb(jvm_pid) / 1024.0


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # Spark is stopped; the JVM's exit hooks would only delete files
        # under the work directory, which the caller removes anyway
        proc.kill()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def _children(pid: int) -> list[int]:
    """Pids whose parent is ``pid`` (processes may exit while we look)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


if __name__ == "__main__":
    sys.exit(main())
