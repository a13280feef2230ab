"""Run-to-run spread and set-to-set drift of the end-to-end metrics, the
evidence for the bounds in ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --sets 1-10 11-20
    python3 perfbench/steadiness.py --workloads registry_read --sets 1-5

Runs ``perfbench/run.py --trace 0`` once per (workload, seed), each a
fresh process, one after another, from the current directory.  The runs
are interleaved -- the i-th seed of every set, for every workload, before
the (i+1)-th -- so that a slowdown of the host during the measurement
lands on every set alike rather than on the later set.  For each workload
and end-to-end metric it prints each set's median, quartiles and quartile
spread as a share of the median (``statistics.quantiles(values, n=4)``),
the later sets' medians over the first set's, and the metric's bound.
With ``--json PATH`` the runs' result lines are also written to ``PATH``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_list(text: str) -> list[int]:
    """``"1-10"`` or ``"3,5,8"``."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict | None:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    res.update(workload=workload, seed=seed, elapsed_s=elapsed)
    return res


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", type=lambda s: s.split(","))
    p.add_argument("--sets", type=seed_list, nargs="+", default=[seed_list("1-10")])
    p.add_argument("--json")
    args = p.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    runs: dict[tuple[str, int], list[dict]] = {}
    for i in range(max(len(s) for s in args.sets)):
        for k, seeds in enumerate(args.sets):
            if i >= len(seeds):
                continue
            for wl in workloads:
                res = run_once(wl, seeds[i], bench["run_seconds"])
                if res is None:
                    return 1
                runs.setdefault((wl, k), []).append(res)
                print(f"{wl:16s} set {k} seed {seeds[i]:3d} {res['elapsed_s']:6.1f} s "
                      f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                      flush=True)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump([r for rs in runs.values() for r in rs], fh, indent=1)

    for wl in workloads:
        sets = [runs[(wl, k)] for k in range(len(args.sets)) if len(runs.get((wl, k), [])) > 1]
        if not sets:
            continue
        print(f"\n{wl}: median run "
              + ", ".join(f"{statistics.median(r['elapsed_s'] for r in rs):.1f} s" for rs in sets))
        print(f"{'metric':14s} {'set':>3s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
              f"{'spread':>7s} {'drift':>7s} {'bound':>6s}")
        for name in sets[0][0]["metrics"]:
            first = None
            for k, rs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in rs]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                first = med if first is None else first
                print(f"{name:14s} {k:3d} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                      f"{(q3 - q1) / med:7.3f} {med / first - 1:+7.3f} "
                      f"{bounds.get(name, float('nan')):6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
