"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads serve,write --seeds 1-10 [--seconds S]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
and prints per workload and metric the median of the runs and the
quartile spread (Q3 - Q1) / median, with the quartiles
``statistics.quantiles(values, n=4)`` gives, next to the metric's bound
from BENCHMARK.json. Raw results go to ``.perfbench/spread-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import median, quartile_spread  # noqa: E402


def _seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    raw = {}
    for w in args.workloads.split(","):
        runs = raw[w] = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.perf_counter() - t0
            last = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            runs.append({"seed": seed, "rc": p.returncode, "wall_s": wall, "result": last})
            ok = last is not None and last["correct"]
            print(f"{w} seed={seed} rc={p.returncode} correct={ok} wall={wall:.1f}s", flush=True)
        good = [r["result"]["metrics"] for r in runs if r["result"]]
        if len(good) < 4:
            continue
        for name in good[0]:
            vals = [g[name]["value"] for g in good]
            spread = quartile_spread(vals)
            print(f"  {w:8s} {name:34s} median={median(vals):.6g} spread={spread:.4f}"
                  f" bound={bounds.get(name)}", flush=True)
    out = ROOT / ".perfbench" / f"spread-{int(time.time())}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(raw, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
