"""Measured scaling slopes for the heavy bench rows (VERDICT r6 task 5).

Synthesizes a 10x dataset from sf0.1 by unioning ten key-shifted copies —
the same shape TPC-H scale factors grow (dims fixed, fact keys disjoint
per copy), so referential integrity and the arithmetic triple encoding
both survive.  Document text gets a per-copy suffix token (otherwise
every doc has nine exact clones and the near-dup candidate space grows
quadratically as a replication ARTIFACT, not as real scaling); embeddings
get a deterministic per-copy jitter for the same reason (identical
vectors would stack every LSH bucket 10 deep).

Then runs the heavy entries at sf0.1 and at 10x (bench timer semantics:
plan -> count, artifacts pre-warmed per dir exactly like bench.py setup)
and prints the observed ratio per entry.  A ratio near the copy count
(10 by default, N under ``--copies N``) = linear in rows; near 1 =
fixed-cost-dominated; well past the copy count = superlinear, a
next-round task.

Usage: python scripts/scale_probe.py [--rebuild] [--out DIR] [--copies N]
       [--entries a,b,...] [--isolate]
Scratch default: /tmp/dream_spark_scale{N} (driver-local, like the repo's
other scratch paths — local-mode/shared-FS assumption documented in
sources/sinks.py).  ``--copies 100`` measures a second decade (sf10
equivalent) — two decades of observed slope pin the scaling class far
better than one.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COPIES = 10
SRC = "/root/testdata/sf0.1"

# per-copy key shifts = the table's key range at sf0.1 (disjoint copies)
SHIFT = {
    "custkey": 15_000,
    "suppkey": 1_000,
    "partkey": 20_000,
    "orderkey": 150_000,
    "event_id": 100_000,
    "user_id": 10_000,
    "doc_id": 5_000,
    "vec_id": 2_000,
}

HEAVY = [
    "graph_components",
    "graph_triangles",
    "hybrid_search",
    "dedup_cluster_sizes",
    "dedup_clusters_lsh",
    "maintenance_compact",
    "graph_components_forest",
    "knn_ivf_pruned",
    "knn_ivf_refreshed",
    "sketch_heavyhitters",
    "sketch_hll_registers",
    "text_bm25",
    "text_bm25_served",
    "text_bm25_lookup",
    "graph_pagerank",
    "graph_ppr",
]


def build(out: str, copies_n: int = COPIES) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    copies = range(copies_n)

    def write(name: str, select_per_copy) -> None:
        union = "\nUNION ALL\n".join(select_per_copy(k) for k in copies)
        con.execute(f"COPY ({union}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{out}/{name}.parquet'").fetchone()[0]
        print(f"  {name}: {n} rows", file=sys.stderr)

    # dims: fixed (SF scaling keeps nations/regions constant)
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )

    write("customer", lambda k: f"""
SELECT c_custkey + {k * SHIFT['custkey']} AS c_custkey, c_name, c_nationkey,
       c_acctbal, c_mktsegment FROM '{SRC}/customer.parquet'""")
    write("supplier", lambda k: f"""
SELECT s_suppkey + {k * SHIFT['suppkey']} AS s_suppkey, s_name, s_nationkey,
       s_acctbal FROM '{SRC}/supplier.parquet'""")
    write("part", lambda k: f"""
SELECT p_partkey + {k * SHIFT['partkey']} AS p_partkey, p_name, p_brand,
       p_type, p_size, p_retailprice FROM '{SRC}/part.parquet'""")
    write("orders", lambda k: f"""
SELECT o_orderkey + {k * SHIFT['orderkey']} AS o_orderkey,
       o_custkey + {k * SHIFT['custkey']} AS o_custkey,
       o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM '{SRC}/orders.parquet'""")
    write("lineitem", lambda k: f"""
SELECT l_orderkey + {k * SHIFT['orderkey']} AS l_orderkey,
       l_partkey + {k * SHIFT['partkey']} AS l_partkey,
       l_suppkey + {k * SHIFT['suppkey']} AS l_suppkey,
       l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
       l_returnflag, l_linestatus, l_shipdate FROM '{SRC}/lineitem.parquet'""")
    write("events", lambda k: f"""
SELECT event_id + {k * SHIFT['event_id']} AS event_id, ts,
       user_id + {k * SHIFT['user_id']} AS user_id,
       event_type, value, props FROM '{SRC}/events.parquet'""")
    # n_chars is derived (== length(text)): recompute it after the
    # per-copy suffix so the fixture invariant holds for every row —
    # stale counts would skew any length-gated entry's selectivity at 10x
    write("documents", lambda k: f"""
SELECT doc_id + {k * SHIFT['doc_id']} AS doc_id,
       {"text" if k == 0 else f"text || ' copyv{k}'"} AS text,
       lang, source,
       CAST(length({"text" if k == 0 else f"text || ' copyv{k}'"}) AS BIGINT) AS n_chars
FROM '{SRC}/documents.parquet'""")
    # jitter: +/- 0.0009 per dim, sign/magnitude a function of (copy, dim)
    write("embeddings", lambda k: f"""
SELECT vec_id + {k * SHIFT['vec_id']} AS vec_id,
       {"embedding" if k == 0 else
        f"list_transform(embedding, x -> CAST(x + {k} * 0.0003 * "
        f"((CAST(floor(x * 1000) AS BIGINT) % 7) - 3) AS FLOAT))"} AS embedding,
       label FROM '{SRC}/embeddings.parquet'""")


def _measure_names(sf_dir: str, names: list[str]) -> dict[str, float]:
    import __spark_entry__ as entrymod
    from dream_spark import get_spark

    spark = get_spark("scale-probe")
    try:
        qs = entrymod.queries()
        entrymod.warm_serving_artifacts(spark, sf_dir)
        out = {}
        for name in names:
            t0 = time.perf_counter()
            n = qs[name](spark, sf_dir).count()
            out[name] = round(time.perf_counter() - t0, 2)
            print(f"  {name} @ {sf_dir}: {out[name]}s rows={n}", file=sys.stderr)
    finally:
        spark.stop()
    return out


def measure(sf_dir: str, isolate: bool = False) -> dict[str, float]:
    """``isolate=True`` measures each entry FIRST-IN-SESSION (one fresh
    SparkSession per entry, warm repaid each time): the r9 probe caught a
    same-session second-run penalty — a heavy iterative entry leaves its
    localCheckpoint blocks and persisted artifacts resident, and the NEXT
    heavy entry in the same session pays ~1.5-2x in memory contention at
    the 100x decade (ppr read 133 s after pagerank, 51 s measured first;
    SCALE.md §7 r9).  Slope rows for heavy entries should use --isolate;
    the shared-session default stays for cheap entries and quick sweeps."""
    if not isolate:
        return _measure_names(sf_dir, HEAVY)
    out: dict[str, float] = {}
    for name in HEAVY:
        out.update(_measure_names(sf_dir, [name]))
    return out


def main() -> None:
    copies_n = COPIES
    for i, a in enumerate(sys.argv):
        if a == "--copies":
            if i + 1 >= len(sys.argv):
                raise SystemExit("--copies requires an integer argument")
            copies_n = int(sys.argv[i + 1])
    # --entries a,b,c restricts the measured set (second-decade runs are
    # expensive; probing only the entries under investigation keeps a
    # targeted 100x run to minutes)
    for i, a in enumerate(sys.argv):
        if a == "--entries":
            if i + 1 >= len(sys.argv):
                raise SystemExit("--entries requires a comma-separated list")
            global HEAVY
            HEAVY = [e for e in sys.argv[i + 1].split(",") if e]
    out_dir = f"/tmp/dream_spark_scale{copies_n}"
    for i, a in enumerate(sys.argv):
        if a == "--out":
            if i + 1 >= len(sys.argv):
                raise SystemExit("--out requires a directory argument")
            out_dir = sys.argv[i + 1]
    # a COMPLETE marker gates reuse (same pattern as the persisted vector
    # index): a crashed partial build must rebuild, not get measured
    marker = os.path.join(out_dir, "COMPLETE")
    if "--rebuild" in sys.argv or not os.path.exists(marker):
        print(f"building {copies_n}x dataset at {out_dir}", file=sys.stderr)
        build(out_dir, copies_n)
        with open(marker, "w") as f:
            f.write("ok\n")
    isolate = "--isolate" in sys.argv
    base = measure(SRC, isolate)
    # fresh process-level state matters less than session state; measure()
    # stops its session, so the 10x run starts cold like the sf0.1 one
    big = measure(out_dir, isolate)
    ratios = {k: round(big[k] / base[k], 2) if base[k] else None for k in HEAVY}
    print(json.dumps({"copies": copies_n, "sf0.1_sec": base,
                      f"x{copies_n}_sec": big, "ratio": ratios}))


if __name__ == "__main__":
    main()
