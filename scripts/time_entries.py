"""Isolated per-entry timer: bench-identical warm setup, then min-of-N wall
per named entry (same timed action as bench.py: full count() of the entry
frame).  Use on a quiet box to adjudicate per-entry deltas without paying a
full 236-entry run.

Usage:
  python scripts/time_entries.py name1,name2,... [--n 3] [--sf-dir DIR]
  python scripts/time_entries.py --top 15 --from BENCH_LAST.json [--n 3]

Prints one JSON line {"entries": {name: {"min": s, "runs": [...]}},
"setup_sec": s, "setup_steps_sec": {step: s}, "sf_dir": DIR}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="?", default="")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=0, help="take the N slowest from --from instead of a name list")
    ap.add_argument("--from", dest="from_file", default="BENCH_LAST.json")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="k=v runtime conf set on the session before the warm pass (A/B knobs)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from dream_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("time_entries")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    qs = entrymod.queries()
    names: list[str]
    if args.top:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), args.from_file)) as f:
            prev = json.load(f)["queries"]
        names = sorted(prev, key=lambda k: -prev[k])[: args.top]
    else:
        names = [n for n in args.names.split(",") if n]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")

    setup_steps = entrymod.warm_serving_artifacts(spark, args.sf_dir)
    setup = time.perf_counter() - t0

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        runs = []
        for _ in range(args.n):
            t1 = time.perf_counter()
            n_rows = fn(spark, args.sf_dir).count()
            runs.append(round(time.perf_counter() - t1, 4))
            print(f"# {name}: {runs[-1]:.3f}s rows={n_rows}", file=sys.stderr)
        out[name] = {"min": min(runs), "runs": runs}
    print(
        json.dumps(
            {
                "entries": out,
                "setup_sec": round(setup, 2),
                "setup_steps_sec": setup_steps,
                "sf_dir": args.sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
