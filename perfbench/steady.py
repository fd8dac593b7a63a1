"""Steadiness check: does the benchmark repeat within its own bounds?

    python3 perfbench/steady.py --seeds 10

Runs ``perfbench/run.py`` (``--trace 0``) once per seed, for every workload
in BENCHMARK.json, in two sets; set 1 uses seeds 1 ... seeds and set 2 seeds
101 ... 100+seeds, and workloads alternate within a set so that host drift
falls on all of them alike.  For every end-to-end metric it reports each
set's median and quartiles, the spread (q3 - q1) / median, and the change of
the second set's median against the first in the metric's worse direction,
both against the metric's bound.  It exits non-zero if a spread or a
set-to-set change exceeds the bound, or if a run fails.

Why this design (see METRICS.md, "Steadiness"): an earlier benchmark of
this engine timed one 3.5 s job per run and was rejected as too noisy
(crawl docs/s read 574, then 529, on identical engine code).  The host's
speed drifts by ~10% over minutes, so one short job samples the host.
This harness keeps generation out of set-up and out of timed jobs, fixes
per-kind document counts for every seed, warms up until job walls stop
falling, reports medians over several jobs per run, and records a
host-speed probe, loadavg and steal ticks per run so that a drifting host
can be told apart from a slower engine.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
SETS = 2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    if p.returncode != 0:
        return {"ok": False, "wall": wall, "err": p.stderr[-2000:]}
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return {"ok": res["correct"], "wall": wall, "result": res}


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    runs: dict = {}
    bad = []
    for s in range(SETS):
        for i in range(1, args.seeds + 1):
            seed = 100 * s + i
            for w in (workloads if i % 2 else workloads[::-1]):
                r = run_once(w, seed, bench["run_seconds"])
                runs.setdefault(w, {}).setdefault(s, []).append(r)
                vals = {m: round(v["value"], 4) for m, v in r.get("result", {}).get("metrics", {}).items()}
                print(f"set {s + 1} {w:16s} seed {seed:4d} {r['wall']:6.1f}s ok={r['ok']} {vals}",
                      flush=True)
                if not r["ok"]:
                    bad.append(f"{w} seed {seed}: run failed")

    report = {}
    for w, sets in runs.items():
        for m in metrics:
            name, bound = m["name"], m["bound"]
            per_set = []
            for s in sorted(sets):
                vals = [r["result"]["metrics"][name]["value"] for r in sets[s] if r["ok"]]
                if vals:
                    per_set.append(summarize(vals))
            row = {"sets": per_set, "bound": bound}
            for k, st in enumerate(per_set):
                if st["spread"] > bound:
                    bad.append(f"{w}/{name}: set {k + 1} spread {st['spread']:.3f} > {bound}")
            if len(per_set) < SETS:
                bad.append(f"{w}/{name}: a set has no successful run")
            else:
                a, b = per_set[0]["median"], per_set[1]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                row["worse_by"] = worse
                if worse > bound:
                    bad.append(f"{w}/{name}: set 2 median worse by {worse:.3f} > {bound}")
            report[f"{w}/{name}"] = row
            spreads = " ".join(f"{st['median']:.4g} [{st['q1']:.4g}, {st['q3']:.4g}] spread {st['spread']:.3f}"
                               for st in per_set)
            extra = f" worse_by {row['worse_by']:+.3f}" if "worse_by" in row else ""
            print(f"{w:16s} {name:16s} bound {bound:.2f}  {spreads}{extra}")
    out = ROOT / ".perfbench_work" / f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"report": report, "runs": runs, "problems": bad}, indent=1))
    print(f"report: {out.relative_to(ROOT)}")
    for b in bad:
        print("PROBLEM", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
