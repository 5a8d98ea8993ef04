"""Same-JVM A/B of catalog entries under named arms.

An arm is a name plus overrides. Each override is either a Spark conf
key (`spark.sql.shuffle.partitions=2`) or a module attribute
(`xtdb_spark.pipeline.dedup:_ARROW_VERIFY_MIN_PAIRS=0`, value read as
a Python literal, else kept as a string), set for the arm's runs and
restored after each one.

Every arm first computes each entry's signature: (row count,
bit_xor(xxhash64(*cols))). If any two arms disagree on an entry, the
tool prints the signatures and exits 1 before timing anything. Timed
runs write to the `noop` sink, and the arm order alternates each round
(ABBA), so drift in the host's speed falls on every arm alike.

Output: one JSON line per (entry, arm) with the run times in seconds,
their median, q1 and q3, and the signature.

Run:
  python tools/ab.py --sf DIR --entries a,b --arm base \\
      --arm p2:spark.sql.shuffle.partitions=2 [--rounds N]
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SignatureMismatch(Exception):
    pass


def parse_arm(spec: str) -> tuple[str, dict[str, str]]:
    """`NAME[:k=v,...]` → (name, {k: v}); k may itself hold a colon
    (`module.path:ATTR`), so only the first colon ends the name."""
    name, _, rest = spec.partition(":")
    overrides = {}
    for kv in filter(None, rest.split(",")):
        k, eq, v = kv.partition("=")
        if not eq:
            raise ValueError(f"arm {name!r}: override {kv!r} has no '='")
        overrides[k] = v
    return name, overrides


def _literal(v: str):
    try:
        return ast.literal_eval(v)
    except (ValueError, SyntaxError):
        return v


def _restore_conf(spark, k: str, old: str | None):
    if old is None:
        spark.conf.unset(k)
    else:
        spark.conf.set(k, old)


@contextlib.contextmanager
def applied(spark, overrides: dict[str, str]):
    """Set an arm's conf keys and module attributes; restore them on
    exit."""
    with contextlib.ExitStack() as undo:
        for k, v in overrides.items():
            if ":" in k:
                mod_name, attr = k.split(":", 1)
                mod = importlib.import_module(mod_name)
                undo.callback(setattr, mod, attr, getattr(mod, attr))
                setattr(mod, attr, _literal(v))
            else:
                undo.callback(_restore_conf, spark, k,
                              spark.conf.get(k, None))
                spark.conf.set(k, v)
        yield


def signature(df) -> list[int]:
    """(row count, bit_xor of a per-row xxhash64): order-insensitive."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
    return [row["n"], row["x"]]


def _quartiles(runs: list[float]) -> tuple[float, float]:
    if len(runs) < 2:
        return runs[0], runs[0]
    q1, _, q3 = statistics.quantiles(runs, n=4, method="inclusive")
    return q1, q3


def run(spark, sf_dir: str, entries: list[str],
        arms: list[tuple[str, dict[str, str]]],
        rounds: int = 3) -> list[dict]:
    """Signature-gate, then time every entry under every arm `rounds`
    (>= 1) times; returns one record per (entry, arm). Raises
    SignatureMismatch when the arms disagree on an entry's rows."""
    from xtdb_spark.queries import QUERIES

    sigs = {}
    for e in entries:
        for name, ov in arms:
            with applied(spark, ov):
                sigs[e, name] = signature(QUERIES[e].fn(spark, sf_dir))
        if len({tuple(sigs[e, n]) for n, _ in arms}) > 1:
            raise SignatureMismatch(
                f"{e}: " + ", ".join(f"{n}={sigs[e, n]}" for n, _ in arms))
    times = {k: [] for k in sigs}
    for r in range(rounds):
        order = arms if r % 2 == 0 else arms[::-1]
        for e in entries:
            for name, ov in order:
                with applied(spark, ov):
                    t0 = time.perf_counter()
                    (QUERIES[e].fn(spark, sf_dir).write.format("noop")
                     .mode("overwrite").save())
                    times[e, name].append(time.perf_counter() - t0)
    out = []
    for (e, name), runs in times.items():
        q1, q3 = _quartiles(runs)
        out.append({"entry": e, "arm": name,
                    "runs": [round(t, 4) for t in runs],
                    "median": round(statistics.median(runs), 4),
                    "q1": round(q1, 4), "q3": round(q3, 4),
                    "signature": sigs[e, name]})
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="catalog data directory")
    ap.add_argument("--entries", required=True,
                    help="comma-separated catalog entry names")
    ap.add_argument("--arm", action="append", required=True,
                    help="NAME[:k=v,...]; repeat per arm")
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args(argv)

    from xtdb_spark.session import build_spark

    spark = build_spark("xtdb-ab")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        recs = run(spark, args.sf, args.entries.split(","),
                   [parse_arm(a) for a in args.arm], args.rounds)
    except SignatureMismatch as e:
        print(f"signature mismatch: {e}", file=sys.stderr)
        return 1
    for rec in recs:
        print(json.dumps(rec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
