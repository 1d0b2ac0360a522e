"""Seeded inputs for the benchmark.

Everything a workload feeds the engine comes from here and from the seed
alone: the TPC-H-shaped tables the triple store derives from, the lookup
constants, and the N-Triples batches the ingest workload streams.  The
engine never sees the seed.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dream_spark.sources.triples import PRIORITIES, RETURNFLAGS, SEGMENTS, STATUSES

#: table sizes of a TPC-H scale factor 0.01 store: ~0.37 M triples
CUSTOMERS = 1_500
SUPPLIERS = 100
PARTS = 2_000
ORDERS = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = 25

#: the seven tables TRIPLES_SQL / DICT_SQL read
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

LOOKUP_TEMPLATE = (
    "select ?O ?ST ?PR where {{ ?O type Order . ?O placedBy <customer:{k}> . "
    "?O status ?ST . ?O priority ?PR }}"
)

NT_NS = "http://dream.bench/"
#: persons the ingest batches draw their edges from
PERSONS = 200_000
#: `knows` edges per ingest batch
BATCH_EDGES = 5_000
_FIRST = ["Ada", "Bo", "Cy", "Di", "Ed", "Fa", "Gu", "Hu", "Io", "Jo", "Ka", "Li"]
_LAST = ["Abel", "Brun", "Chao", "Dahl", "Egan", "Fong", "Gray", "Hale", "Ito", "Juma"]


#: one independent generator per input stream, so adding draws to one
#: stream never shifts another
_STREAMS = {"tables": 1, "lookup": 2, "ingest": 3}


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream]])


def _pick(rng: np.random.Generator, vocab: dict[str, int], n: int) -> np.ndarray:
    """``n`` draws from the lexicals of one of the store's enum vocabularies."""
    return np.asarray(list(vocab), dtype=object)[rng.integers(0, len(vocab), n)]


def write_tables(seed: int, out_dir: str) -> None:
    """Write the seven TPC-H-shaped parquet tables into ``out_dir``.

    Like dbgen, a third of the customers (keys divisible by 3) place no
    orders, so lookups hit customers with 0 to ~30 orders."""
    rng = _rng(seed, "tables")
    os.makedirs(out_dir, exist_ok=True)
    nation_keys = np.arange(NATIONS)
    cust_keys = np.arange(1, CUSTOMERS + 1)
    buyers = cust_keys[cust_keys % 3 != 0]
    order_keys = np.arange(1, ORDERS + 1)
    lines_per_order = rng.integers(1, 8, ORDERS)
    l_order = np.repeat(order_keys, lines_per_order)
    l_line = np.concatenate([np.arange(1, n + 1) for n in lines_per_order])
    tables = {
        "region": {
            "r_regionkey": np.arange(len(REGIONS)),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": nation_keys,
            "n_regionkey": nation_keys % len(REGIONS),
            "n_name": [f"NATION{k:02d}" for k in nation_keys],
        },
        "customer": {
            "c_custkey": cust_keys,
            "c_nationkey": rng.integers(0, NATIONS, CUSTOMERS),
            "c_mktsegment": _pick(rng, SEGMENTS, CUSTOMERS),
            "c_name": [f"Customer#{k:09d}" for k in cust_keys],
        },
        "supplier": {
            "s_suppkey": np.arange(1, SUPPLIERS + 1),
            "s_nationkey": rng.integers(0, NATIONS, SUPPLIERS),
            "s_name": [f"Supplier#{k:09d}" for k in range(1, SUPPLIERS + 1)],
        },
        "part": {
            "p_partkey": np.arange(1, PARTS + 1),
            "p_size": rng.integers(1, 51, PARTS),
            "p_name": [f"part {k}" for k in range(1, PARTS + 1)],
        },
        "orders": {
            "o_orderkey": order_keys,
            "o_custkey": rng.choice(buyers, ORDERS),
            "o_orderstatus": _pick(rng, STATUSES, ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, ORDERS),
        },
        "lineitem": {
            "l_orderkey": l_order,
            "l_linenumber": l_line,
            "l_partkey": rng.integers(1, PARTS + 1, len(l_order)),
            "l_suppkey": rng.integers(1, SUPPLIERS + 1, len(l_order)),
            "l_returnflag": _pick(rng, RETURNFLAGS, len(l_order)),
        },
    }
    for name, cols in tables.items():
        table = pa.table({c: pa.array(v) for c, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def lookup_keys(seed: int, n: int) -> list[int]:
    """``n`` customer keys for the lookup workload, uniform over all
    customers (those that placed no order included)."""
    return [int(k) for k in _rng(seed, "lookup").integers(1, CUSTOMERS + 1, n)]


def _person(key: int) -> str:
    return f"<{NT_NS}person/{key}>"


class IngestStream:
    """Seeded N-Triples batches over a fixed person population.

    Each batch holds ``BATCH_EDGES`` `knows` edges plus a name literal for
    every person seen for the first time.  The stream remembers what it
    wrote, so it can state the exact answer of the read-after-write probe
    each batch carries."""

    KNOWS = f"<{NT_NS}knows>"
    NAME = f"<{NT_NS}name>"

    def __init__(self, seed: int):
        self._rng = _rng(seed, "ingest")
        self._names: dict[int, str] = {}
        self._out: dict[int, Counter] = {}

    def _name(self, person: int) -> str:
        first = _FIRST[person % len(_FIRST)]
        last = _LAST[(person // len(_FIRST)) % len(_LAST)]
        return f"{first} {last} {person}"

    def next_batch(self) -> tuple[bytes, int, int, str, Counter]:
        """(N-Triples bytes, triple count, probe subject, probe query,
        expected probe rows as a multiset of (friend IRI, name))."""
        src = self._rng.integers(0, PERSONS, BATCH_EDGES)
        dst = (src + self._rng.integers(1, PERSONS, BATCH_EDGES)) % PERSONS
        lines = []
        for s, d in zip(src.tolist(), dst.tolist()):
            for p in (s, d):
                if p not in self._names:
                    self._names[p] = self._name(p)
                    lines.append(f'{_person(p)} {self.NAME} "{self._names[p]}" .')
            lines.append(f"{_person(s)} {self.KNOWS} {_person(d)} .")
            self._out.setdefault(s, Counter())[d] += 1
        probe = int(src[self._rng.integers(0, BATCH_EDGES)])
        query = (
            f"select ?F ?N where {{ {_person(probe)} {self.KNOWS} ?F . "
            f"?F {self.NAME} ?N }}"
        )
        expected = Counter(
            {(f"{NT_NS}person/{d}", self._names[d]): m for d, m in self._out[probe].items()}
        )
        return ("\n".join(lines) + "\n").encode(), len(lines), probe, query, expected
