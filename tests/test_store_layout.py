"""Triple-store physical layout: predicate-partitioned parquet roundtrip
and partition pruning — the §1/§M6 scale layout, evidenced in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dream_spark.plans.sparql import parse_sparql
from dream_spark.plans.translator import translate
from dream_spark.sources.triples import DICT_SQL, TRIPLES_SQL, TripleStore, open_partitions
from tests.conftest import SF_DIR

MB = 1024 * 1024


@pytest.mark.parametrize(
    "current,parallelism,est_bytes,expect",
    [
        (24, 4, 2 * MB, 4),  # small frame: one partition per core
        (24, 4, 0, 4),  # an empty estimate never goes below the cores
        (3, 4, 2 * MB, 3),  # never more partitions than the frame has
        (3, 4, 10**12, 3),
        (500, 4, 10 * 128 * MB + 1, 11),  # past the cores: one per 128 MB slice
        (500, 4, 4 * 128 * MB, 4),
        (8, 4, 10 * 128 * MB, 8),
    ],
)
def test_open_partitions_rule(current, parallelism, est_bytes, expect):
    assert open_partitions(current, parallelism, est_bytes, 128 * MB) == expect


def _layout(spark, sql):
    """``sql`` run uncached: its partition count, its fingerprint, and the
    partition count the sizing rule gives it."""
    raw = spark.sql(sql)
    parts = raw.rdd.getNumPartitions()
    n = open_partitions(
        parts,
        spark.sparkContext.defaultParallelism,
        int(raw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()),
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes(),
    )
    return parts, _fingerprint(raw), n


def _fingerprint(df):
    """Row count and sum(xxhash64(row)) — equal for equal multisets."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0])


def test_open_store_is_coalesced_to_cluster_size(spark):
    """The cached triples and dictionary hold exactly the partitions of the
    sizing rule — also after clearCache + ensure_open — and the same rows
    as the uncached derivation."""
    st = TripleStore.from_tpch(spark, SF_DIR, cache=True)
    try:
        expect = {}
        for name, sql in (("triples", TRIPLES_SQL), ("dictionary", DICT_SQL)):
            raw_parts, raw_print, n = _layout(spark, sql)
            assert n < raw_parts  # the test data has more branches than cores
            expect[name] = n
            assert _fingerprint(getattr(st, name)) == raw_print, name

        def parts():
            return {name: getattr(st, name).rdd.getNumPartitions() for name in expect}

        assert parts() == expect
        spark.catalog.clearCache()
        st.ensure_open()
        for name in expect:
            lvl = getattr(st, name).storageLevel
            assert lvl.useMemory or lvl.useDisk, name
        assert parts() == expect
    finally:
        st.triples.unpersist()
        st.dictionary.unpersist()


def test_uncached_store_keeps_derivation_partitioning(spark):
    st = TripleStore.from_tpch(spark, SF_DIR, cache=False)
    for df, sql in ((st.triples, TRIPLES_SQL), (st.dictionary, DICT_SQL)):
        assert df.rdd.getNumPartitions() == spark.sql(sql).rdd.getNumPartitions()
        assert "Coalesce" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_partitioned_roundtrip_and_pruning(spark, engine, tmp_path):
    tdir, ddir = str(tmp_path / "triples"), str(tmp_path / "dict")
    engine.store.write_parquet(tdir, ddir)
    st = TripleStore.from_parquet(spark, tdir, ddir)

    assert st.triples.count() == engine.store.triples.count()

    # constant-predicate pattern must prune to the one p= directory
    q = parse_sparql("select ?O ?C where { ?O placedBy ?C }")
    plan = (
        translate(st, q, None)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "p#" in plan

    # and produce the same rows as the in-memory derivation
    a = sorted(map(tuple, translate(st, q, None).collect()))
    b = sorted(map(tuple, engine.sparql("select ?O ?C where { ?O placedBy ?C }").collect()))
    assert a == b


def test_partition_count_is_predicate_count(spark, engine, tmp_path):
    tdir, ddir = str(tmp_path / "t2"), str(tmp_path / "d2")
    engine.store.write_parquet(tdir, ddir)
    st = TripleStore.from_parquet(spark, tdir, ddir)
    n_preds = st.triples.select("p").distinct().count()
    import os

    dirs = [d for d in os.listdir(tdir) if d.startswith("p=")]
    assert len(dirs) == n_preds


def test_bucketed_store_star_join_is_shuffle_free(spark, engine, tmp_path):
    """SCALE §6.1: the subject-bucketed layout runs a BGP star query's
    subject joins with ZERO hash-partitioning exchanges (bucket-aligned
    SortMergeJoin), and returns the same rows as the derived store.
    Auto-broadcast is disabled so the shuffle-free claim is the bucketing,
    not a broadcast."""
    tdir, ddir = str(tmp_path / "bt"), str(tmp_path / "bd")
    spark.sql("DROP TABLE IF EXISTS triples_bucketed_test")
    spark.sql("DROP TABLE IF EXISTS triples_bucketed_test_dict")
    engine.store.write_bucketed("triples_bucketed_test", tdir, ddir, n_buckets=8)
    st = TripleStore.from_table(spark, "triples_bucketed_test")

    q = parse_sparql(
        "select ?O ?ST ?PR where { ?O type Order . ?O status ?ST . ?O priority ?PR }"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = translate(st, q, None)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        assert "SortMergeJoin" in plan
        a = sorted(map(tuple, df.collect()))

        # §6.4: decode must never hash-shuffle the DICTIONARY, in either
        # regime of the size-gated decode broadcast (r10):
        #  - under the gate (a local-scale dict) the dict side is an
        #    explicit broadcast hint — no __id exchange at all;
        #  - past the gate (a 100-TB dict; forced here via maxRows=0) the
        #    bucketed layout serves the join — the only __id exchange is
        #    the (small) melted result side aligning to the dict's buckets.
        from dream_spark.functions.joins import BROADCAST_MAX_ROWS_CONF

        dfd = translate(st, q, None, decode=True)
        pland = dfd._jdf.queryExecution().executedPlan().toString()
        assert pland.count("Exchange hashpartitioning(__id") == 0, pland
        assert "BroadcastExchange" in pland, pland
        # capture-and-restore (not unset): a pre-existing session-level
        # gate value must survive this test (ADVICE r10 #3)
        prev_max_rows = spark.conf.get(BROADCAST_MAX_ROWS_CONF, None)
        spark.conf.set(BROADCAST_MAX_ROWS_CONF, "0")
        try:
            dfd = translate(st, q, None, decode=True)
            pland = dfd._jdf.queryExecution().executedPlan().toString()
            assert pland.count("Exchange hashpartitioning(__id") == 1, pland
            assert "BroadcastExchange" not in pland, pland
            n_decoded = dfd.count()
        finally:
            if prev_max_rows is None:
                spark.conf.unset(BROADCAST_MAX_ROWS_CONF)
            else:
                spark.conf.set(BROADCAST_MAX_ROWS_CONF, prev_max_rows)
    finally:
        from dream_spark.session import AUTO_BCAST_THRESHOLD

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", AUTO_BCAST_THRESHOLD)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    b = sorted(
        map(
            tuple,
            engine.sparql(
                "select ?O ?ST ?PR where { ?O type Order . ?O status ?ST . ?O priority ?PR }"
            ).collect(),
        )
    )
    assert a == b
    assert n_decoded == len(b)
    spark.sql("DROP TABLE IF EXISTS triples_bucketed_test")
    spark.sql("DROP TABLE IF EXISTS triples_bucketed_test_dict")
