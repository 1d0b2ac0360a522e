"""The workloads.  Each one builds its seeded inputs and the independent
answers it verifies against before the clock starts, sets up its store
on the session it is given, and runs one verified op per call.

Only public engine functions are called; every layer boundary an op
crosses sits inside a ``Tracer`` span or job counter."""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import contextmanager

import duckdb

import gen

from dream_spark import Engine
from dream_spark.operators import graph
from dream_spark.plans.oracle import bgp_to_sql
from dream_spark.plans.sparql import parse_sparql
from dream_spark.plans.translator import translate
from dream_spark.sources.triples import TRIPLES_SQL, TripleStore
from dream_spark.streaming.triples import ingest_ntriples_stream, store

#: upper bound on lookup constants one run can consume
_MAX_LOOKUPS = 10_000


@contextmanager
def _timed(steps: dict, name: str):
    t0 = time.perf_counter()
    yield
    steps[name] = time.perf_counter() - t0


def _duckdb(sf_dir: str):
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def _query_spans(prefix: str) -> tuple[str, ...]:
    """The spans that block a SPARQL query's result, in call order."""
    return tuple(f"{prefix}{s}_s" for s in ("parse", "translate", "plan", "exec"))


def _run_query(tr, prefix: str, st: TripleStore, text: str, stats) -> list:
    """parse → translate(decode) → plan → collect, each a traced span
    named ``<prefix>parse_s`` and so on."""
    parse_s, translate_s, plan_s, exec_s = _query_spans(prefix)
    with tr.jobs(prefix):
        with tr.span(parse_s):
            parsed = parse_sparql(text)
        with tr.span(translate_s):
            df = translate(st, parsed, stats, decode=True)
        with tr.span(plan_s):
            if tr.on:
                # collect() reuses this QueryExecution, so the split is free
                df._jdf.queryExecution().executedPlan()
        with tr.span(exec_s):
            return df.collect()


class _TpchStore:
    """Shared by the workloads over the seed-generated TPC-H-shaped
    tables and the cached triple store the engine derives from them."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sf_dir = os.path.join(work, "data")

    def prepare(self) -> None:
        gen.write_tables(self.seed, self.sf_dir)
        con = _duckdb(self.sf_dir)
        (self.n_triples,) = con.execute(f"SELECT COUNT(*) FROM ({TRIPLES_SQL})").fetchone()
        self.prepare_answers(con)
        con.close()

    def open_store(self, spark, steps: dict) -> TripleStore:
        self.spark = spark
        with _timed(steps, "store_open"):
            return TripleStore.shared(spark, self.sf_dir)

    def finish(self) -> dict:
        return {}


class Lookup(_TpchStore):
    """DREAM's selective decoded star: the orders of one customer with
    their status and priority, over the cached triple store."""

    name = "lookup"
    #: latency falls steeply over the first ops after set-up (JIT)
    warmup_ops = 3
    #: ops run until --seconds have passed
    timed_ops = None
    blocking_spans = _query_spans("lookup.")
    LIFTED = (
        "select ?C ?O ?ST ?PR where { ?O type Order . ?O placedBy ?C . "
        "?O status ?ST . ?O priority ?PR }"
    )

    def prepare_answers(self, con) -> None:
        self.keys = gen.lookup_keys(self.seed, _MAX_LOOKUPS)
        # DuckDB answers for every customer at once: the template with the
        # customer constant lifted into a variable, rendered by the oracle
        self.expected: dict[int, Counter] = {}
        for c, o, st, pr in con.execute(bgp_to_sql(parse_sparql(self.LIFTED), decode=True)).fetchall():
            self.expected.setdefault(int(c.split(":")[1]), Counter())[(o, st, pr)] += 1

    def setup(self, spark, steps: dict) -> None:
        self.open_store(spark, steps)
        with _timed(steps, "stats"):
            # collected into a path private to this run, never loaded
            # from a file another run wrote
            path = os.path.join(self.work, "stats.json")
            self.engine = Engine.from_tpch(spark, self.sf_dir, stats_path=path)

    def check_setup(self) -> bool:
        """The stats were collected over the whole open store."""
        return sum(s.count for s in self.engine.stats.per_pred.values()) == self.n_triples

    def request(self, i: int) -> int:
        return self.keys[i]

    def op(self, k: int, tr) -> bool:
        text = gen.LOOKUP_TEMPLATE.format(k=k)
        rows = _run_query(tr, "lookup.", self.engine.store, text, self.engine.stats)
        return Counter(map(tuple, rows)) == self.expected.get(k, Counter())


class GraphIterate(_TpchStore):
    """One op is a fixed pass of the connected-components entries over
    the triple-derived graphs: distributed min-label propagation on the
    co-purchase graph and on the geography forest."""

    name = "graph_iterate"
    #: the first pass after set-up compiles every entry's plans
    warmup_ops = 1
    #: two passes take about --seconds
    timed_ops = 2
    ENTRIES = ("components", "components_forest")
    blocking_spans = tuple(f"graph.{e}_s" for e in ENTRIES)

    def prepare_answers(self, con) -> None:
        self.expected = {
            e: Counter(map(tuple, con.execute(graph.ORACLES[f"graph_{e}"]).fetchall()))
            for e in self.ENTRIES
        }

    def setup(self, spark, steps: dict) -> None:
        self.store = self.open_store(spark, steps)
        with _timed(steps, "graph_artifacts"):
            graph.warm_graph_artifacts(spark, self.sf_dir)

    def check_setup(self) -> bool:
        return self.store.triples.count() == self.n_triples

    def request(self, i: int) -> None:
        return None

    def op(self, _req, tr) -> bool:
        ok = True
        for e in self.ENTRIES:
            with tr.jobs(f"graph.{e}_"), tr.span(f"graph.{e}_s"):
                rows = graph.QUERIES[f"graph_{e}"](self.spark, self.sf_dir).collect()
            ok = Counter(map(tuple, rows)) == self.expected[e] and ok
        return ok


class NtIngest:
    """Streamed N-Triples batches into an uncached parquet store, each
    followed by a read-after-write decoded query on the reopened store."""

    name = "nt_ingest"
    #: the first drain after set-up still compiles and warms the JIT
    warmup_ops = 1
    #: the store grows with every op, so every run times the same ops on
    #: the same store sizes; three take about --seconds
    timed_ops = 3
    blocking_spans = ("ingest.drain_s", "ingest.read_s")

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        self.stream = gen.IngestStream(self.seed)
        self.boot = self.stream.next_batch()
        self.staging = os.path.join(self.work, "staging")
        root = os.path.join(self.work, "store")
        self.dirs = {k: os.path.join(root, k) for k in ("src", "triples", "dict", "ckpt")}
        os.makedirs(self.staging)
        os.makedirs(self.dirs["src"])
        self.nt_bytes = 0

    def _place(self, name: str, data: bytes) -> None:
        """Land a batch file atomically, as a producer would."""
        tmp = os.path.join(self.staging, name)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(self.dirs["src"], name))
        self.nt_bytes += len(data)

    def _drain(self):
        q = ingest_ntriples_stream(
            self.spark, self.dirs["src"], self.dirs["triples"], self.dirs["dict"], self.dirs["ckpt"],
            available_now=True,
        )
        q.awaitTermination()
        return q

    def setup(self, spark, steps: dict) -> None:
        """A fresh store holding the bootstrap batch."""
        self.spark = spark
        self._place("batch-boot.nt", self.boot[0])
        with _timed(steps, "bootstrap_drain"):
            self._drain()

    def check_setup(self) -> bool:
        return store(self.spark, self.dirs["triples"], self.dirs["dict"]).triples.count() == self.boot[1]

    def request(self, i: int):
        return i, self.stream.next_batch()

    def op(self, req, tr) -> bool:
        i, (data, n_triples, _probe, query, expected) = req
        self._place(f"batch-{i:05d}.nt", data)
        t0 = time.perf_counter()
        with tr.span("ingest.drain_s"):
            q = self._drain()
        if tr.on:
            tr.layers["ingest.triples_per_s"] = n_triples / (time.perf_counter() - t0)
            tr.count_group("ingest.drain_", str(q.runId))
        with tr.span("ingest.read_s"):
            with tr.span("ingest.reopen_s"):
                st = store(self.spark, self.dirs["triples"], self.dirs["dict"])
            rows = _run_query(tr, "ingest.", st, query, None)
        return Counter(map(tuple, rows)) == expected

    def finish(self) -> dict:
        """Parquet file count, and parquet bytes per N-Triples byte
        ingested, of the store the ops grew."""
        files = size = 0
        for k in ("triples", "dict"):
            for root, _dirs, names in os.walk(self.dirs[k]):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, n))
        return {"ingest.store_files": files, "ingest.stored_bytes_ratio": size / self.nt_bytes}


WORKLOADS = {w.name: w for w in (Lookup, GraphIterate, NtIngest)}
