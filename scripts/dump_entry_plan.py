"""Dump plans/r10-style explain(formatted) files for named entries.

Usage: python scripts/dump_entry_plan.py name1,name2 [--tag after] [--sf-dir DIR]

Writes plans/r10/<name>_<tag>.txt with the bench-identical warm setup so the
dumped plan is the one the bench actually executes (shared caches present).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--tag", default="after")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out-dir", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r10"))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from dream_spark import get_spark

    spark = get_spark("dump_entry_plan")
    qs = entrymod.queries()
    entrymod.warm_serving_artifacts(spark, args.sf_dir)

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in args.names.split(","):
        df = qs[name](spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()  # finalize AQE
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted) at {args.sf_dir} [{args.tag}]\n\n{txt}")
        print("wrote", path, file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
