"""Steadiness mode: repeat one workload over several seeds, each run a
fresh process, and print every metric's median, quartiles and quartile
spread ((q3 - q1) / median) next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload pipeline --runs 10 --seed0 100
    python3 perfbench/steady.py --workload serve_churn --runs 3 --overhead

``--overhead`` adds one traced run per seed and reports the tracing
overhead: the traced runs' median call latency minus the untraced
runs' median call latency.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed (exit {out.returncode}): "
                         f"{' '.join(cmd)}\n{last}")
    res = json.loads(last)
    res["wall_s"] = time.perf_counter() - t
    return res


def main(argv=None) -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = {}
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=spec.get("run_seconds", 15))
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}

    values: dict[str, list[float]] = {}
    traced: list[float] = []
    for i in range(args.runs):
        seed = args.seed0 + i
        res = run_once(args.workload, seed, args.seconds, 0)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + "  ".join(
            f"{k}={v['value']:.5g}" for k, v in res["metrics"].items())
            + f"  (run took {res['wall_s']:.1f}s)",
            flush=True)
        if args.overhead:
            tr = run_once(args.workload, seed, args.seconds, 1)
            traced.append(tr["metrics"]["trace.call_p50_ms"]["value"])

    print(f"\n{args.workload}: {args.runs} runs, {args.seconds}s window")
    print(f"{'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    worst_ok = True
    for k, vals in values.items():
        s = spread(vals)
        b = bounds.get(k)
        flag = ""
        if b is not None and k != "setup_s" and s["spread"] > b / 3:
            flag = "  > bound/3"
            worst_ok = False
        print(f"{k:<20} {s['median']:>12.5g} {s['q1']:>12.5g} "
              f"{s['q3']:>12.5g} {s['spread']:>8.4f} "
              f"{'' if b is None else b:>6}{flag}")
    if args.overhead:
        untraced = spread(values["call_p50_ms"])["median"]
        t = spread(traced)["median"] if len(traced) > 1 else traced[0]
        print(f"tracing overhead on call_p50_ms: {t - untraced:+.1f} ms "
              f"({(t - untraced) / untraced:+.2%}; traced {t:.1f} ms, "
              f"untraced {untraced:.1f} ms)")
    return 0 if worst_ok else 1


if __name__ == "__main__":
    sys.exit(main())
