"""Benchmark runner: set up one workload, run it closed-loop for a fixed
time, check its answers and print the metrics.

One client in one process sends each op only after the previous one has
returned (a closed loop). Spark runs in this process on
``local[nproc]``. The last line of standard output is one JSON object;
the lines before it print every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

from . import config as C

ROOT = Path(__file__).resolve().parent.parent
PROGRAM = "instagram_data_pipeline_spark"



def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest of p99.9/p99/p95/p90/p75/p50 that leaves at least
    ``TAIL_MIN_BEYOND`` samples above it (nearest rank); the maximum,
    labelled p100, when no percentile does."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= C.TAIL_MIN_BEYOND:
            return xs[max(math.ceil(p / 100 * n) - 1, 0)], f"p{p:g}"
    return xs[-1], "p100"


def start_spark(workdir: Path, nproc: int):
    """The program's own session factory on ``local[nproc]``, with every
    scratch path (shuffle files, JVM and Python temp files) kept inside
    ``workdir``."""
    tmp = workdir / "tmp"
    local = workdir / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # no JVM perf-data files under /tmp (launcher and driver JVMs alike)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = C.DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from instagram_data_pipeline_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(workdir / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every process this one started has exited."""
    from .trace import descendants

    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def cpu_times() -> list[int]:
    """System-wide CPU jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args) -> dict:
    from .trace import NullTracer, RssSampler, Tracer
    from .workloads import WORKLOADS, Context

    nproc = len(os.sched_getaffinity(0))
    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    cls = WORKLOADS[args.workload]
    cpu0 = cpu_times()
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_spark(workdir, nproc)
        session_s = time.perf_counter() - t
        try:
            tracer = Tracer(spark) if args.trace else NullTracer()
            ctx = Context(spark=spark, workdir=workdir, seed=args.seed, tracer=tracer)
            t = time.perf_counter()
            w = cls(ctx)
            generate_s = time.perf_counter() - t
            t = time.perf_counter()
            w.setup()
            build_s = time.perf_counter() - t
            setup_s = session_s + generate_s + build_s

            latencies, rows, failed, problems = [], 0, 0, []
            with tracer.installed():
                tracer.reset()
                start = time.perf_counter()
                i = 0
                while i % cls.cycle or time.perf_counter() - start < args.seconds:
                    tracer.begin_op(i)
                    t = time.perf_counter()
                    try:
                        res = w.op(i)
                    except Exception as exc:  # an op that raises is a failed op
                        traceback.print_exc(file=sys.stderr)
                        res = None
                        problems.append(f"op {i}: {exc!r}")
                    latencies.append(time.perf_counter() - t)
                    tracer.end_op()
                    if res is None:
                        failed += 1
                    elif not res.ok:
                        failed += 1
                        problems.append(f"op {i}: {res.problem}")
                    else:
                        rows += res.rows
                    i += 1
                elapsed = time.perf_counter() - start
            problems += w.final_check()
            stored = w.stored_bytes()
            layers = w.layer_metrics(tracer, i) if args.trace else {}
        finally:
            stop_spark(spark)
            wait_children()
    shutil.rmtree(workdir, ignore_errors=True)
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]

    ops = len(latencies)
    timed = [t for i, t in enumerate(latencies) if w.is_request(i)]
    tail_v, tail_p = tail(timed)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": ops / elapsed,
        "latency_p50_ms": statistics.median(timed) * 1e3,
        "latency_tail_ms": tail_v * 1e3,
        "rows_per_s": rows / elapsed,
        "stored_bytes_per_input_byte": stored / w.input_bytes,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    notes = {
        "setup_s": f"session {session_s:.2f} + generate {generate_s:.2f} "
                   f"+ build {build_s:.2f}",
        "latency_p50_ms": f"n={len(timed)}",
        "latency_tail_ms": f"{tail_p}, n={len(timed)}" + (
            "" if tail_p != "p100" else
            f": max, too few samples for a percentile with {C.TAIL_MIN_BEYOND} beyond"),
        "rows_per_s": f"{rows} rows in {elapsed:.2f} s",
    }
    # host CPU time stolen by other guests: explains run-to-run drift
    steal = cpu[7] / max(sum(cpu), 1)
    out = {"e2e": e2e, "notes": notes, "ops": ops, "failed": failed,
           "problems": problems, "elapsed": elapsed, "steal": steal}
    if args.trace:
        per_op = 1.0 / max(ops, 1)
        common = {
            "session.start_s": session_s,
            "spark.jobs_per_op": statistics.mean(tracer.op_jobs),
            "spark.tasks_per_op": statistics.mean(tracer.op_tasks),
            "io.write_s": tracer.total("io.write") * per_op,
            "io.write_calls": tracer.counts["io.write_calls"] * per_op,
            "io.bytes_written_per_input_byte":
                tracer.counts["io.bytes_written"] / max(w.offered_bytes, 1),
            "io.read_s": tracer.total("io.read") * per_op,
            "io.read_calls_per_op": tracer.counts["io.read_calls"] * per_op,
            "trace.op_latency_p50_ms": e2e["latency_p50_ms"],
            "trace.bookkeeping_ms_per_op": tracer.bookkeeping * 1e3 * per_op,
        }
        out["layers"] = common | layers
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PROGRAM / "__init__.py").is_file():
        print(f"perfbench: {PROGRAM}/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    end_to_end, per_layer = metric_units()
    res = run(args)
    e2e, notes = res["e2e"], res["notes"]
    attempted, failed = res["ops"], res["failed"]
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={attempted} timed_s={res['elapsed']:.2f} "
          f"host_steal={res['steal']:.1%}")
    for name, unit in end_to_end.items():
        print(f"  {name:32s} {e2e[name]:14.4f} {unit:7s} {notes.get(name, '')}")
    print(f"  {'error_rate':32s} {failed / attempted:14.4f} {'ratio':7s} "
          f"{failed} of {attempted} ops failed or answered wrong")
    for p in res["problems"]:
        print(f"  problem: {p}")
    if args.trace:
        # a layer the workload never calls spent no time and did no work
        layers = {name: res["layers"].get(name, 0.0) for name in per_layer}
        for name, unit in per_layer.items():
            print(f"  {name:40s} {layers[name]:14.4f} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in per_layer.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in end_to_end.items()}
    correct = failed == 0 and not res["problems"]
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0
