"""The benchmark's own steadiness check.

    python3 perfbench/selfcheck.py --sets 2 --seeds 10
    python3 perfbench/selfcheck.py --workloads keyed_stream --seeds 5 --sets 1

Runs ``run.py`` once per seed for each workload (``--sets`` sets of
``--seeds`` runs, every run with its own seed, sets one after the
other) and reports, for every end-to-end metric in BENCHMARK.json:

* the spread of each set: the distance between the first and third
  quartile (``statistics.quantiles(values, n=4)``) as a share of the
  median, against the metric's bound and against a third of it, the
  target for a steady benchmark;
* how far each later set's median is from the first set's, worse
  direction only, against the bound.

It also reports the mean wall time of a run and projects the time of
``4 + 22 x workloads`` runs. Run from the repository root; each run
prints its result line, and the summary is the last line (JSON).
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
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict | None, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600,
                          check=False)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None, wall
    return json.loads(lines[-1]), wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    change = (later - first) / first
    return change if better == "lower" else -change


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="", help="comma-separated; default: all")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    workloads = [w for w in args.workloads.split(",") if w] or [
        w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    seed = args.first_seed
    values: dict = {}  # (set, workload, metric) -> [value]
    walls, bad_runs = [], []
    for s in range(args.sets):
        for w in workloads:
            for _ in range(args.seeds):
                res, wall = run_once(w, seed, bench["run_seconds"])
                walls.append(wall)
                print(json.dumps({"set": s, "workload": w, "seed": seed,
                                  "wall_s": wall, "result": res}), flush=True)
                if res is None or not res["correct"]:
                    bad_runs.append((w, seed))
                else:
                    for m in metrics:
                        values.setdefault((s, w, m["name"]), []).append(
                            res["metrics"][m["name"]]["value"])
                seed += 1

    report, ok = [], not bad_runs
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = [values.get((s, w, name), []) for s in range(args.sets)]
            if any(len(v) < 2 for v in sets):
                ok = False
                continue
            spreads = [spread(v) for v in sets]
            meds = [statistics.median(v) for v in sets]
            shifts = [worse_by(meds[0], x, m["better"]) for x in meds[1:]]
            row = {
                "workload": w, "metric": name, "bound": bound,
                "medians": meds, "spreads": spreads, "shifts": shifts,
                "spread_ok": max(spreads) <= bound,
                "steady": max(spreads) < bound / 3,
                "shift_ok": all(x <= bound for x in shifts),
            }
            ok &= row["spread_ok"] and row["shift_ok"]
            report.append(row)
            print(f"{w:13s} {name:19s} bound {bound:.2f}  spreads "
                  + " ".join(f"{x:.3f}" for x in spreads) + "  shifts "
                  + " ".join(f"{x:+.3f}" for x in shifts)
                  + ("" if row["steady"] else "  NOT STEADY")
                  + ("" if row["spread_ok"] and row["shift_ok"] else "  FAIL"),
                  flush=True)
    mean_wall = statistics.mean(walls)
    projected = mean_wall * (4 + 22 * len(bench["workloads"]))
    print(json.dumps({"ok": ok, "bad_runs": bad_runs, "mean_run_wall_s": mean_wall,
                      "projected_schedule_s": projected, "report": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
