"""Steadiness check: two sets of same-code runs, alternating.

    python3 perfbench/steadiness.py --runs 5 [--workloads crawl_rank ...]

For each workload it runs the benchmark command from BENCHMARK.json
``2 * runs`` times, alternating between set A and set B, each run with
its own seed.  Per workload and end-to-end metric it reports each set's
median and quartiles, the spread (quartile distance / median) of each
set and of all runs pooled, and the shift of B's median against A's
(positive = B worse).  A metric is flagged when a spread or the size
of the shift, in either direction, exceeds the benchmark's bound, and
marked ``tight`` when a spread exceeds a third of it.  Exits non-zero
when anything is flagged or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    try:
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    except subprocess.TimeoutExpired:
        return {"seed": seed, "ok": False, "wall_s": time.perf_counter() - t0, "result": None}
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    ok = p.returncode == 0 and result is not None and result["correct"]
    if not ok:
        sys.stderr.write(p.stderr[-4000:])
    return {"seed": seed, "ok": ok, "wall_s": wall, "result": result}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_work", "steadiness.json"))
    args = ap.parse_args(argv)

    bounds = {m["name"]: m for m in bench["end_to_end"]}
    report, problems = {}, []
    for w in args.workloads:
        runs = {"A": [], "B": []}
        for i in range(args.runs):
            # alternate which set goes first, so drift hits both alike
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for k, s in enumerate(order):
                seed = args.seed_base + 2 * i + k
                r = run_once(bench, w, seed, bench["run_seconds"])
                runs[s].append(r)
                print(f"{w} set {s} seed {seed}: ok={r['ok']} wall={r['wall_s']:.1f}s "
                      + (json.dumps({n: round(v["value"], 4) for n, v in
                                     r["result"]["metrics"].items()}) if r["result"] else ""),
                      flush=True)
                if not r["ok"]:
                    problems.append(f"{w}: run with seed {seed} failed")
        report[w] = {"runs": runs, "metrics": {}}
        for name, spec in bounds.items():
            sets = {s: [r["result"]["metrics"][name]["value"] for r in rs if r["ok"]]
                    for s, rs in runs.items()}
            if not sets["A"] or not sets["B"]:
                continue
            a, b = summarize(sets["A"]), summarize(sets["B"])
            pooled = summarize(sets["A"] + sets["B"])
            sign = 1 if spec["better"] == "lower" else -1
            shift = sign * (b["median"] - a["median"]) / a["median"]
            bound = spec["bound"]
            flags = []
            for label, s in (("A", a), ("B", b), ("pooled", pooled)):
                if s["spread"] > bound:
                    flags.append(f"spread {label} {s['spread']:.3f} > {bound}")
                elif s["spread"] > bound / 3:
                    flags.append(f"tight: spread {label} {s['spread']:.3f} > {bound / 3:.3f}")
            if abs(shift) > bound:
                flags.append(f"shift {shift:+.3f} beyond ±{bound}")
            report[w]["metrics"][name] = {"A": a, "B": b, "pooled": pooled,
                                          "shift": shift, "bound": bound, "flags": flags}
            problems += [f"{w} {name}: {f}" for f in flags if not f.startswith("tight")]
            print(f"  {w} {name}: A med {a['median']:.4f} [{a['q1']:.4f}, {a['q3']:.4f}] "
                  f"B med {b['median']:.4f} [{b['q1']:.4f}, {b['q3']:.4f}] "
                  f"pooled spread {pooled['spread']:.4f} shift {shift:+.4f} bound {bound} "
                  f"{'; '.join(flags)}", flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"report": report, "problems": problems}, f, indent=1)
    print("PROBLEMS:" if problems else "steady: every metric within its bound", *problems,
          sep="\n  ")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
