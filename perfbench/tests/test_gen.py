"""The benchmark's inputs are a pure function of the seed.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


def _table_bytes(seed: int, out_dir) -> dict[str, bytes]:
    gen.write_tables(seed, str(out_dir))
    return {t: (out_dir / f"{t}.parquet").read_bytes() for t in gen.TABLES}


def _batches(seed: int, n: int) -> list:
    stream = gen.IngestStream(seed)
    return [stream.next_batch() for _ in range(n)]


def test_tables_repeat_per_seed(tmp_path):
    a = _table_bytes(5, tmp_path / "a")
    b = _table_bytes(5, tmp_path / "b")
    c = _table_bytes(6, tmp_path / "c")
    assert a == b
    # region and nation are fixed vocabularies; every seeded table differs
    assert all(a[t] != c[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))


def test_lookup_keys_repeat_per_seed():
    assert gen.lookup_keys(5, 200) == gen.lookup_keys(5, 200)
    assert gen.lookup_keys(5, 200) != gen.lookup_keys(6, 200)
    assert gen.lookup_keys(5, 200)[:50] == gen.lookup_keys(5, 50)
    assert all(1 <= k <= gen.CUSTOMERS for k in gen.lookup_keys(5, 200))


def test_ntriples_repeat_per_seed():
    a, b, c = _batches(5, 2), _batches(5, 2), _batches(6, 2)
    assert [x[0] for x in a] == [x[0] for x in b]
    assert all(x[0] != y[0] for x, y in zip(a, c))


_LINE = re.compile(r'^<(\S+)> <(\S+)> (?:<(\S+)>|"([^"]*)") \.$')


@pytest.mark.parametrize("seed", [1, 2])
def test_probe_answer_matches_written_triples(seed):
    """The expected read-after-write rows equal a join evaluated over the
    bytes actually written so far."""
    knows, names = Counter(), {}
    for data, n_triples, probe, _query, expected in _batches(seed, 3):
        lines = data.decode().splitlines()
        assert len(lines) == n_triples
        for line in lines:
            s, p, o_iri, o_lit = _LINE.match(line).groups()
            if p.endswith("/knows"):
                knows[(s, o_iri)] += 1
            else:
                assert s not in names  # a name is written once per person
                names[s] = o_lit
        subject = f"{gen.NT_NS}person/{probe}"
        got = Counter({(f, names[f]): m for (s, f), m in knows.items() if s == subject})
        assert got == expected and expected


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "lookup",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
