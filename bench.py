"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Timing semantics follow the reference's end-to-end timer (query receipt →
result materialized, Proxy.c:266-271): each query is timed from plan
construction through a full ``count()`` of the result.  Engine/session
bootstrap is reported separately as ``setup`` and excluded from the metric,
matching a deployed engine where the store is already open.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The measured surface is EVERY queries() entry (VERDICT r4 task 2: a
# regression in an unmeasured query is invisible to bench_compare), run in
# SORTED-NAME order: the adjudication rotation reshuffles the entry module's
# insertion order every round, and per-query wall times are sensitive to
# session warmth (which shared frames earlier queries materialized) — a
# name-sorted order is identical across rounds, so bench_compare diffs
# measure code, not session position.
# BASELINE_53 is the original r1 headline set (BENCH_r01.json's keys): its
# subtotal is reported separately as the cross-round anchor vs BASELINE.md.
BASELINE_53 = [
    "dedup_clusters", "dedup_embedding", "dedup_exact_docs", "dedup_jaccard",
    "dedup_minhash", "knn_bruteforce", "knn_ivf", "knn_lsh",
    "media_catalog", "media_decode_stats", "media_frames",
    "rel_anti", "rel_cube", "rel_events_hourly", "rel_except",
    "rel_intersect", "rel_json_props", "rel_pivot", "rel_q13_outer",
    "rel_q14_promo", "rel_q16_countd", "rel_q17_corr", "rel_q18_having",
    "rel_q19_disjunct", "rel_q1_pricing", "rel_q22_idle", "rel_q3_top10",
    "rel_q4_semi", "rel_q5_cycle", "rel_q6_filter", "rel_q7_nations",
    "rel_rollup", "rel_sql_passthrough", "rel_window_top3", "simhash_docs",
    "sparql_cycle5", "sparql_decode", "sparql_disconnected",
    "sparql_filter_samenation", "sparql_minus", "sparql_optional",
    "sparql_path", "sparql_star", "sparql_topk", "sparql_union",
    "streaming_dedup_batch", "streaming_sessionize_batch",
    "temporal_asof", "temporal_range", "text_features", "text_fingerprint",
    "text_langid", "text_topterms",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    import __spark_entry__ as entrymod
    from dream_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("bench")
    qs = entrymod.queries()
    # the cross-round anchor must cover ALL 53 r1 names: silently summing a
    # subset would shrink the 2x-gate denominator without any signal if an
    # entry were ever renamed or removed — fail loudly, and BEFORE the
    # ~2-minute measurement loop burns for nothing
    missing53 = [n_ for n_ in BASELINE_53 if n_ not in qs]
    if missing53:
        raise SystemExit(f"baseline-53 entries missing from queries(): {missing53}")
    # open the store and build the pre-serving artifacts once, like a
    # deployed engine: queries measure search, not construction
    entrymod.warm_serving_artifacts(spark, sf_dir)
    setup = time.perf_counter() - t0

    timings: dict[str, float] = {}
    for name in sorted(qs):
        fn = qs[name]
        t1 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t1, 4)
        print(f"# {name}: {timings[name]:.3f}s rows={n}", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "setup_sec": round(setup, 3),
        "n_queries": len(timings),
        # cross-round anchor: the r1 headline set's subtotal, compared
        # against BASELINE.md's 46.98 s (2x gate); completeness checked
        # above, so this sum always covers exactly the 53 names
        "baseline53_sec": round(sum(timings[n_] for n_ in BASELINE_53), 4),
    }
    line = json.dumps(summary)
    # the full JSON goes to a file AND to stdout first: the driver captures
    # stdout with a BOUNDED 2000-byte TAIL, and the 210-entry per-query map
    # is ~6 KB — it can never fit, which is why BENCH_r06.json recorded
    # `parsed: null` (VERDICT r6 task 3)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    print(line)
    # LAST stdout line = a compact summary guaranteed to fit the driver's
    # tail capture in full: headline numbers + the 53-anchor per-query map
    # (2-decimal), dropping anchor entries smallest-first if the line ever
    # outgrows the budget.  The complete 210-entry map lives in the full
    # line above and in BENCH_LAST.json (`queries_full` points there).
    anchor = {n_: round(timings[n_], 2) for n_ in BASELINE_53}
    compact = dict(summary, queries=anchor, queries_full="BENCH_LAST.json")
    while len(json.dumps(compact)) > 1900 and anchor:
        anchor.pop(min(anchor, key=lambda k: (anchor[k], k)))
        compact = dict(compact, queries=anchor)
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
