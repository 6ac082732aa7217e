#!/usr/bin/env python3
"""Check that the benchmark is steady: run a workload once per seed and
report, for every metric, the median and the spread (distance between the
first and third quartile as a share of the median) next to its bound.

    python3 perfbench/steady.py --workload query_sweep --seeds 1-10
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--trace", type=int, default=0)
    opts = p.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    lo, hi = (int(x) for x in opts.seeds.split("-"))
    values, walls, ok = {}, [], True
    for seed in range(lo, hi + 1):
        t0 = time.time()
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", opts.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", str(opts.trace)], capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            ok = False
            continue
        out = json.loads(lines[-1])
        ok &= out["correct"]
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        if len(vs) >= 2 and statistics.median(vs):
            b = bounds.get(k)
            s = spread(vs)
            flag = "" if b is None else ("ok" if s < b / 3 else "WIDE" if s > b else "over b/3")
            print(f"  {k:<44} median {statistics.median(vs):<12.5g} spread {s:.4f} "
                  f"bound {b} {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
