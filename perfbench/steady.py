"""Steadiness check: do two sets of runs of the same code agree within the
benchmark's own bounds?

    # one set of runs: every workload in BENCHMARK.json, seeds 1..10
    python3 perfbench/steady.py run --out .perfbench_work/steady/a --seeds 1-10
    python3 perfbench/steady.py run --out .perfbench_work/steady/b --seeds 11-20
    # spreads of one set, or agreement of two
    python3 perfbench/steady.py check .perfbench_work/steady/a
    python3 perfbench/steady.py check .perfbench_work/steady/a .perfbench_work/steady/b
    # tracing overhead: a traced set against an untraced set of the same seeds
    python3 perfbench/steady.py run --out .perfbench_work/steady/t --seeds 1-3 --trace 1
    python3 perfbench/steady.py overhead .perfbench_work/steady/t .perfbench_work/steady/a

For each (end-to-end metric, workload) pair, the spread of a set is the
distance between the first and third quartile of its runs as a share of
their median. A pair agrees when the spread of each set stays within the
metric's bound and the second set's median is not worse than the first's
by more than the bound; otherwise it is unresolved. ``check`` exits 1
when any pair is unresolved.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(args) -> int:
    spec = load_spec()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for w in (w["name"] for w in spec["workloads"]):
        for seed in seed_range(args.seeds):
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            steal = next((f.split("=")[1] for line in lines[:1]
                          for f in line.split() if f.startswith("host_steal=")), "?")
            (out / f"{w}-{seed}.json").write_text(json.dumps(
                {"workload": w, "seed": seed, "wall_s": wall, "host_steal": steal,
                 "returncode": proc.returncode, "result": result}))
            status = "ok" if result and result["correct"] else "FAILED"
            print(f"{w} seed={seed} wall={wall:.1f}s host_steal={steal} {status}",
                  flush=True)
            if result is None:
                print(proc.stderr[-2000:], file=sys.stderr)
    return 0


def load_set(path: str) -> dict:
    """{workload: {metric: [values by seed]}} plus wall times and the
    number of runs that failed or answered wrong."""
    out: dict = {}
    for f in sorted(Path(path).glob("*.json")):
        rec = json.loads(f.read_text())
        per = out.setdefault(rec["workload"], {"_wall_s": [], "_bad": 0})
        if not (rec["result"] and rec["result"]["correct"]):
            per["_bad"] += 1
        if not rec["result"]:
            continue
        per["_wall_s"].append(rec["wall_s"])
        for name, m in rec["result"]["metrics"].items():
            per.setdefault(name, []).append(m["value"])
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(a: list[float], b: list[float], better: str) -> float:
    """How much worse the median of ``b`` is than that of ``a``, as a
    share of ``a``'s median (negative when ``b`` is better)."""
    ma, mb = statistics.median(a), statistics.median(b)
    return (mb - ma) / ma if better == "lower" else (ma - mb) / ma


def check(args) -> int:
    spec = load_spec()
    a = load_set(args.a)
    b = load_set(args.b) if args.b else None
    unresolved = 0
    print(f"{'workload':10s} {'metric':30s} {'bound':>6s} {'median':>12s} "
          f"{'spread_a':>9s} {'spread_b':>9s} {'worse_by':>9s}  verdict")
    for w in spec["workloads"]:
        name = w["name"]
        if name not in a:
            print(f"{name:10s} no runs in {args.a}")
            unresolved += 1
            continue
        for m in spec["end_to_end"]:
            va = a[name][m["name"]]
            sa = spread(va)
            ok = sa <= m["bound"]
            sb = wb = None
            if b is not None:
                vb = b[name][m["name"]]
                sb, wb = spread(vb), worse_by(va, vb, m["better"])
                ok = ok and sb <= m["bound"] and wb <= m["bound"]
            steady = max(sa, sb or 0) < m["bound"] / 3
            verdict = ("agrees" if b is not None else "within bound") if ok \
                else "unresolved"
            if ok and not steady:
                verdict += " (spread above a third of the bound)"
            unresolved += not ok
            fmt = lambda x: f"{x:9.4f}" if x is not None else f"{'-':>9s}"  # noqa: E731
            print(f"{name:10s} {m['name']:30s} {m['bound']:6.2f} "
                  f"{statistics.median(va):12.4f} {fmt(sa)} {fmt(sb)} {fmt(wb)}  {verdict}")
        walls = a[name]["_wall_s"] + (b[name]["_wall_s"] if b else [])
        bad = a[name]["_bad"] + (b[name]["_bad"] if b else 0)
        unresolved += bad
        print(f"{name:10s} wall per run: median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s over {len(walls)} runs; "
              f"{bad} runs failed or answered wrong")
    print(f"{unresolved} unresolved")
    return 1 if unresolved else 0


def overhead(args) -> int:
    """Tracing overhead per workload: traced minus untraced median latency."""
    traced, plain = load_set(args.traced), load_set(args.untraced)
    for name in sorted(set(traced) & set(plain)):
        t = statistics.median(traced[name]["trace.op_latency_p50_ms"])
        u = statistics.median(plain[name]["latency_p50_ms"])
        b = statistics.median(traced[name]["trace.bookkeeping_ms_per_op"])
        print(f"{name:10s} traced {t:12.1f} ms  untraced {u:12.1f} ms  "
              f"overhead {t - u:+10.1f} ms ({(t - u) / u:+.1%}); "
              f"tracer bookkeeping {b:.1f} ms per op")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run one set of seeds")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("check", help="spreads of one set, agreement of two")
    c.add_argument("a")
    c.add_argument("b", nargs="?")
    o = sub.add_parser("overhead", help="traced minus untraced latency")
    o.add_argument("traced")
    o.add_argument("untraced")
    args = ap.parse_args()
    return {"run": run_set, "check": check, "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
