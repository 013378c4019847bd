"""Run one workload over sets of seeds and summarize each metric per set:
median, quartiles and the quartile spread as a share of the median (what
the benchmark's bounds are checked against), and each later set's median
as a share of the first set's.

    python3 perfbench/spread.py --workload cdc_stream --set 1-10 --set 11-20 \
        --seconds 10 --out .bench_out/spread-cdc_stream.json

Runs are sequential, one fresh process each. With several sets the runs
interleave (first seed of each set, then the second, ...), so that a host
that speeds up or slows down during the runs moves every set alike. Every
run's result and detail record go into the output file with the summaries.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize_runs(results: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        out[name] = {
            "median": med,
            "q1": q1,
            "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else None,
        }
    return out


def _fmt(x: float | None) -> str:
    return "-" if x is None else f"{x:.3f}"


def _run(workload: str, seed: int, seconds: str, trace: str) -> dict | None:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", trace],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
    print(f"seed {seed}: {wall:.0f} s, correct={result['correct']}", file=sys.stderr)
    return {"seed": seed, "wall_s": wall, "result": result, "detail": detail}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--set", dest="sets", action="append", required=True,
                    help="seeds of one set, e.g. 1-10 or 3,5,9; repeat for more sets")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    seed_sets = [_seeds(s) for s in args.sets]
    runs: list[list[dict]] = [[] for _ in seed_sets]
    for row in itertools.zip_longest(*seed_sets):
        for k, seed in enumerate(row):
            if seed is None:
                continue
            r = _run(args.workload, seed, args.seconds, args.trace)
            if r is None:
                return 1
            runs[k].append(r)
    sets = []
    for rs in runs:
        summary = summarize_runs([r["result"] for r in rs])
        if sets:
            first = sets[0]["summary"]
            for name, s in summary.items():
                m0 = first[name]["median"]
                s["median_over_first"] = s["median"] / m0 if m0 else None
        sets.append({"seeds": [r["seed"] for r in rs], "summary": summary, "runs": rs})
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(
            {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
             "host": runs[0][0]["detail"]["host"], "sets": sets},
            f, indent=1,
        )
    for k, s in enumerate(sets):
        print(f"set {k + 1}: seeds {s['seeds']}")
        for name, m in s["summary"].items():
            extra = f" median/first={_fmt(m['median_over_first'])}" if k else ""
            print(f"  {name:38s} median={m['median']:.6g} "
                  f"iqr/median={_fmt(m['iqr_over_median'])}{extra}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
