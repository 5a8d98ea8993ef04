"""Run the benchmark N times per workload (seeds first_seed ..
first_seed+N-1) and print, per workload and metric, the median, the
quartiles and the spread (q3 - q1) / median — the figures the bounds
in BENCHMARK.json are set from, and the tool for comparing two sets
of runs.

    python3 perfbench/repeat.py [--runs 10] [--first-seed 1]
                                [--workloads a,b] [--seconds S] [--trace 0|1]
                                [--out FILE]

Run from the root of a checkout. With --out, the raw per-run records
are written as JSON too; `--compare A.json B.json` prints the two
sets side by side with the change of each median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _bench_json(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def _one(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                       timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return {"seed": seed, "error": p.stderr[-2000:]}
    rec = json.loads(lines[-1])
    detail = os.path.join(root, ".perfbench_work", "results",
                          f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(detail):
        with open(detail) as f:
            rec["details"] = json.load(f)
    rec["seed"] = seed
    return rec


def summarize(records: dict) -> dict:
    """{workload: {metric: (q1, median, q3, spread, n)}} plus the
    failed share per workload."""
    out = {}
    for wl, runs in records.items():
        vals: dict[str, list[float]] = {}
        shares = set()
        for r in runs:
            if "metrics" not in r:
                continue
            shares.add((r["failed"], r["attempted"]) if r["attempted"] else None)
            for k, v in r["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            for k in ("compact_s", "space_amp", "write_p50_ms",
                      "load_rows_per_s", "refresh_s", "asof_battery_s"):
                if k in r.get("details", {}):
                    vals.setdefault("detail." + k, []).append(r["details"][k])
        row = {}
        for k, xs in vals.items():
            if len(xs) >= 2:
                q1, q2, q3 = statistics.quantiles(xs, n=4)
            else:
                q1 = q2 = q3 = xs[0]
            row[k] = (q1, q2, q3, (q3 - q1) / q2 if q2 else float("nan"),
                      len(xs))
        row["failed_share"] = sorted(
            {f / a for f, a in shares if a} if shares else set())
        out[wl] = row
    return out


def _print(summary, bench):
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl, row in summary.items():
        print(f"== {wl}  failed share: {row.pop('failed_share')}")
        for k, (q1, q2, q3, spread, n) in sorted(row.items()):
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s":
                flag = "  OK" if spread < b / 3 else (
                    "  within bound" if spread <= b else "  OVER BOUND")
            print(f"  {k:28s} n={n:2d} median={q2:12.4f}  q1={q1:12.4f} "
                  f"q3={q3:12.4f}  spread={spread:6.3f}"
                  + (f" (bound {b})" if b is not None else "") + flag)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads")
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = p.parse_args(argv)
    root = os.getcwd()
    bench = _bench_json(root)
    if args.compare:
        sums = []
        for path in args.compare:
            with open(path) as f:
                sums.append(summarize(json.load(f)))
        for wl in sums[0]:
            print(f"== {wl}")
            for k, a in sorted(sums[0][wl].items()):
                b = sums[1].get(wl, {}).get(k)
                if k == "failed_share" or b is None:
                    continue
                print(f"  {k:28s} A={a[1]:12.4f} (spread {a[3]:.3f})  "
                      f"B={b[1]:12.4f} (spread {b[3]:.3f})  "
                      f"B/A={b[1] / a[1] if a[1] else float('nan'):.3f}")
        return 0
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = args.seconds or bench["run_seconds"]
    records = {wl: [] for wl in workloads}
    for i in range(args.runs):
        for wl in workloads:
            rec = _one(root, wl, args.first_seed + i, seconds, args.trace)
            records[wl].append(rec)
            m = rec.get("metrics", {})
            print(f"[{wl} seed {rec['seed']}] "
                  + (rec.get("error", "")[-300:] if "error" in rec else
                     " ".join(f"{k}={v['value']:.4g}" for k, v in m.items())),
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(records, f, indent=1)
    _print(summarize(records), bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
