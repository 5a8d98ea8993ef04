"""perfbench: the store, the wire and the catalog, measured end to end
and layer by layer.

    python3 perfbench/run.py --workload store_tpch|serving_pgwire|catalog_hot
                             [--seed N] [--seconds S] [--trace 0|1] [--smoke]

Run from the root of a checkout. The last line of standard output is
one JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics untraced (`--trace 0`), the per-layer metrics
traced (`--trace 1`). Details (per-query medians, workload-specific
figures, spans) go to `.perfbench_work/results/`. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

WORKLOADS = ("store_tpch", "serving_pgwire", "catalog_hot")
READ_KINDS = ("q", "asof", "head", "point", "by_cust", "asof_point")
LOOP_KINDS = READ_KINDS + ("upsert",)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001, one set-up: a quick end-to-end check")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "xtdb_spark", "session.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: no xtdb_spark checkout in the current directory "
              "(run from the repository root)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import common

    results = common.work_dir(root, "results")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = None
    if args.trace:
        from perfbench import layers

        tracer = layers.Tracer(os.path.join(results, tag + "-spans.jsonl"))
        tracer.install()
    spark, session_s = common.start_spark(root, f"perfbench-{args.workload}")
    try:
        if tracer is not None:
            tracer.attach_spark(spark)
        mod = importlib.import_module(f"perfbench.{args.workload}")
        extra = ({"spans": tracer.client_spans_path}
                 if tracer is not None and args.workload == "serving_pgwire"
                 else {})
        out = mod.run(spark, root, args.seed, args.seconds, smoke=args.smoke,
                      **extra)
        log = out["log"]
        reads = log.latencies(READ_KINDS)
        e2e = {
            "setup_s": (session_s + out["setup_once_s"], "s"),
            "read_p50_ms": (common.median(reads) * 1000, "ms"),
            "battery_s": (out["battery_s"], "s"),
            "ops_per_s": (len(log.latencies(LOOP_KINDS)) / out["wall"], "1/s"),
        }
        details = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "smoke": args.smoke, "session_start_s": session_s,
            "attempted": log.attempted, "failed": log.failed,
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "ops": [[k, n, s, ok] for k, n, s, ok in log.ops],
            **out["details"],
        }
        if tracer is not None:
            metrics = tracer.per_layer(log, out)
            details["per_layer"] = {k: v[0] for k, v in metrics.items()}
            tracer.write_spans()
        else:
            metrics = e2e
        details["run_s"] = time.perf_counter() - t_start
        common.write_json(os.path.join(results, tag + ".json"), details)
        # every operation's output is checked against an oracle; one
        # that fails (or errors) is counted in `failed`, and no
        # workload keeps a failing operation on purpose
        attempted, failed = log.attempted, log.failed
        correct = failed == 0
    finally:
        common.stop_spark(spark)
    common.emit(correct, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
