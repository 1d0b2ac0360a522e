"""Generate PLANS.md: the formatted Catalyst plan of one representative
query per operator class, with the scale invariant to check called out.

This is the ".explain(formatted) and iterate" evidence the 100 TB posture
rests on (SCALE.md records the claims; this file shows the actual plans
that back them).  Regenerate after planner-affecting changes:

    python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (queries() key, the invariant a reviewer should verify in the plan)
SHOWCASE = [
    ("sparql_cycle5", "5-way self-join: constant-p filters reach every scan; no CartesianProduct; joins keyed on shared variables in DP order"),
    ("sparql_decode", "dictionary decode: ONE dict join over the melted result, not k per-column joins (those ran 7 jobs / 28 tasks vs 6 / 21 on the benchmark's decoded lookup star); the dictionary side is size-gated into a broadcast (_dict_lex)"),
    ("rel_q1_pricing", "partial aggregation: partial_sum before the exchange; only 6 group rows shuffle; decimal sums, one final double cast"),
    ("rel_q6_filter", "pushdown: PushedFilters on the parquet scan; ReadSchema pruned to the touched columns"),
    ("pipeline_chunks", "map-only: NO Exchange anywhere — chunking is a pure scan stage"),
    ("pipeline_shards", "exactly one Exchange hashpartitioning(bucket); no Exchange SinglePartition (no global sort barrier)"),
    ("dedup_jaccard", "candidate join keyed on the prefix feature; verification joins size-gated broadcast; no pair×shingle blowup.  (The RoundRobin exchanges below are the spread gate's SMALL-INPUT branch firing at this sf — one parquet file < defaultParallelism; at real scale inputFiles >= cores and the gate is a no-op, no exchange)"),
    ("knn_lsh", "bucket join moves ids only; query side broadcast; corpus vectors joined back by id for the rerank"),
    ("temporal_asof", "as-of join = distributed merge_asof: ONE Exchange+Sort on the user key over the tagged union, a running last() window, NO join node — linear in events per key"),
    ("sketch_cms_users", "sketch: union of bucket projections into ONE partially-aggregated groupBy — counters are all that shuffles"),
    ("sparql_exists", "FILTER EXISTS: left SEMI join on the shared variable (bag multiplicity preserved); NOT EXISTS is the same shape as anti"),
    ("sparql_alt_pred", "p1|p2 alternation: ONE scan with an IN predicate filter — no union, no join above the store scan"),
    ("sparql_construct", "CONSTRUCT: the WHERE body appears ONCE; templates emit via a Generate (explode) node, not k union branches"),
    ("temporal_funnel", "funnel: three chained Window mins over ONE user-keyed Exchange; final single-row aggregate is the only other shuffle"),
    ("pipeline_contamination", "contamination: benchmark n-gram set broadcast; training side explode + BroadcastHashJoin + partial count — never shuffled wide"),
    ("pipeline_repetition", "repetition stats: doc-keyed partial aggregations; no UDF, no global state"),
    ("sparql_subquery", "subquery: the nested SELECT aggregates independently (partial agg), then joins the outer pattern — typically broadcast (groups-sized)"),
    ("temporal_range", "range join: EQUI join on (user, time-bucket); each left row probes exactly 2 exploded buckets; the band predicate is a residual filter, in-group work bounded by two windows"),
    ("sparql_path_star", "p*: closure ∪ node-identity pair frame; the anchor pattern's equi-join prunes the identity side; no cartesian"),
    ("sparql_filter_arith", "arithmetic FILTER: a row-local CASE expression inside WholeStageCodegen — no UDF, no extra join, filter sits above the scans"),
    ("sparql_sum_group", "numeric SUM/AVG: partial_sum on the typed value before the exchange; only group rows shuffle"),
    ("dedup_spans", "substring-span dedup: ONE Exchange hashpartitioning(sid) with partial_count; no SinglePartition; text never passes the Arrow kernel"),
    ("temporal_concurrency", "sweep line: per-day windows keyed hashpartitioning(day); the only SinglePartition exchange is the calendar-sized day-carry"),
    ("rel_window_movavg", "RANGE frame (RangeFrame in the Window node, never RowFrame); day-level pre-aggregation below the window; partitioned by priority"),
    ("media_pair_gate", "pair gate: caption-length/geometry predicates below the doc_id equi-join; no cartesian; payload column pruned out"),
    ("knn_ivf_pruned", "IVF partition pruning: the /cells scan carries PartitionFilters [cell IN (probed)] — only the probed cell directories are listed/read; query side broadcast"),
    ("text_knn", "lexical kNN over the session-shared hashed-BoW frame: InMemoryTableScan (no tokenize/hash recompute), broadcast 10-row query side, single pass over the corpus vectors"),
    ("dedup_clusters_lsh", "bucket-star clustering: the edge list is ONE window pass keyed hashpartitioning(band, bh) — NO bucket self-join anywhere (the final frame shown is the CC output; the joinless edge derivation is pinned by tests/test_plans.py::test_lsh_cluster_star_edges_are_joinless)"),
    ("pipeline_sample_alloc", "proportional stratified sample: per-doc rank window keyed hashpartitioning(source); the exact largest-remainder allocation broadcasts onto it; the only SinglePartition exchange is over the strata-COUNT table (strata-sized, never the corpus)"),
    ("sketch_heavyhitters", "two-pass heavy hitters: ONE MapInPandas MG sweep (O(k) state per task, <= k+1 rows out incl. the stream-length sentinel) is bounded-collected once — candidates AND total become literals, no persisted/checkpointed cluster state; candidates re-join BROADCAST; recount is a partial-agg groupBy — the token stream never shuffles and tokenizes exactly twice"),
    ("sketch_hll_registers", "HLL: IsNotNull pushed to the scan, ReadSchema pruned to the one column; partial_max before the exchange so only <= 256 register rows shuffle; the estimate is a broadcast 1-row attach"),
    ("text_bm25", "BM25: query-term table broadcast (the postings probe — corpus tf filtered map-side, never re-shuffled); dfreq/dl join broadcast at this sf, SMJ at scale; WindowGroupLimit pushes the top-k below the final exchange"),
    ("text_bm25_served", "persisted-postings serve: PushedFilters carries In(tok, ...) into the tok-sorted postings scan (row-group skipping of unprobed postings); statistics tables read, never recomputed"),
    ("text_bm25_lookup", "NARROW lookup: 8-literal In(tok,...) pushed into BOTH the postings and lexicon scans; the query-doc read carries EqualTo(doc_id,0) pushed to the documents scan (one document, not the corpus); final rank is a distributed TakeOrderedAndProject feeding a k-row window"),
    ("pipeline_sample_weighted", "weighted Bernoulli sample: NO Exchange anywhere — the coin and the keep probability are row-local expressions inside one WholeStageCodegen scan stage"),
    ("dedup_minhash_served", "incremental-dedup serve: the persisted band-index scan carries PartitionFilters on band and PushedFilters In(bh, ...) — the corpus index read is probe-sized.  (The plan shown IS the pre-checkpoint probe-pruned index frame; the entry's returned kept-id frame truncates lineage at its localCheckpoint by design, so the reviewable scan lives here)"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from dream_spark import get_spark

    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted Catalyst plans backing the SCALE.md claims",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. Each section names",
        "the invariant to verify in the plan below it.",
        "",
    ]
    def _frame(name):
        if name == "dedup_minhash_served":
            # the entry's returned frame truncates at its localCheckpoint;
            # the plan worth reviewing is the probe-pruned index scan the
            # serve path builds just before it (same construction as
            # tests/test_plans.py::test_minhash_serve_index_scan_pushes_probes)
            from pyspark.sql import functions as F

            from dream_spark.operators import dedup as D
            from dream_spark.sources.tables import load_table

            path = D._served_minhash_index_path(spark, sf_dir)
            index = spark.read.parquet(f"{path}/bands")
            batch = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 1)
            bands = D.minhash_index(batch).persist()
            bands.count()
            return D._probe_pruned_index(index, bands)
        return qs[name](spark, sf_dir)

    for name, invariant in SHOWCASE:
        df = _frame(name)
        txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out += [f"## {name}", "", f"**Invariant:** {invariant}", "", "```", txt.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
