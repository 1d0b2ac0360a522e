"""Per-predicate triple statistics — the planner's cardinality oracle.

Replaces the reference's stats cache (PlanCostEstimator.cpp:424-498, files
``LUBMResStats-N.txt``/``LUBMCostStats-N.txt``) and, crucially, its
execute-to-estimate fallback (getSubQResultSize PlanCostEstimator.cpp:585-655,
which literally runs candidate subqueries during planning).  Here statistics
come from ONE aggregation pass over the triples table — O(|T|) once, then
planning is pure driver-side arithmetic.

Why custom stats instead of Catalyst CBO alone: a BGP compiles to an n-way
*self*-join of one table, and table-level CBO stats cannot distinguish the
selectivity of ``p = type`` from ``p = ofOrder`` without histograms on the
predicate column.  Per-predicate (count, ndv_s, ndv_o) triplets are tiny
(#predicates rows) and give the translator exactly what DREAM's cost model
extracted by executing subqueries.
"""

from __future__ import annotations

import getpass
import hashlib
import json
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def default_stats_path(sf_dir: str) -> str:
    """Cache-file path for a TPC-H-derived store's stats — the analog of the
    reference's per-dataset stat files reloaded at startup (Main.c:146-161,
    QueryPlanner.c:13-18).  Keyed on the absolute data path AND the source
    parquet mtimes, so regenerated testdata never reuses stale statistics.
    Lives in tmp because the data directory itself is read-only."""
    root = os.path.abspath(sf_dir)
    sig = [root]
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        p = os.path.join(root, f"{name}.parquet")
        sig.append(f"{name}:{os.path.getmtime(p) if os.path.exists(p) else 0}")
    digest = hashlib.md5("|".join(sig).encode()).hexdigest()[:16]
    # per-user filename: the shared temp dir's sticky bit makes a
    # cross-user os.replace fail (silent in-memory degradation for the
    # second user), and a predictable shared path could be pre-planted
    user = getpass.getuser() if hasattr(getpass, "getuser") else str(os.getuid())
    return os.path.join(tempfile.gettempdir(), f"dream_spark_stats_{user}_{digest}.json")


@dataclass(frozen=True)
class PredStat:
    count: int
    ndv_s: int
    ndv_o: int
    # EXACT max rows per distinct subject / object value of the predicate's
    # edge set (r11) — the join-side multiplicity the broadcast gate needs
    # to bound a JOIN RESULT exactly: |A ⋈_v B| <= |A| * mult_B(v).  0 =
    # unknown (stats collected by an older code path): no bound claimed.
    mult_s: int = 0
    mult_o: int = 0


#: collect exact per-object counts only for predicates with at most this
#: many distinct objects (class/status/enum-shaped columns) — keeps the
#: obj_counts table bounded at ndv_o x #low-ndv-preds rows however large
#: the store grows
_OBJ_COUNT_MAX_NDV = 1024


class TripleStats:
    """count/ndv per predicate + totals, with optional JSON persistence
    (the analog of the reference's stat files, reference Main.c:139-140).

    ``obj_counts`` adds EXACT per-(predicate, object) counts for low-ndv_o
    predicates (r10): a bound-object pattern like ``?C type Customer``
    scans count(type=*, o=Customer) rows, not count(type) — without the
    exact figure the broadcast gate had to assume the full predicate count
    (786 K for ``type`` at sf0.1) and withhold the hint from a 15 K-row
    scan, demoting dimension-shaped joins to sort-merge."""

    def __init__(
        self,
        per_pred: dict[int, PredStat],
        total: int,
        obj_counts: dict[int, dict[int, int]] | None = None,
    ):
        self.per_pred = per_pred
        self.total = max(total, 1)
        self.obj_counts = obj_counts or {}

    @classmethod
    def collect(cls, triples: DataFrame) -> "TripleStats":
        rows = (
            triples.groupBy("p")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("s").alias("ndv_s"),
                F.approx_count_distinct("o").alias("ndv_o"),
            )
            .collect()
        )
        # EXACT per-predicate max multiplicities (r11): two partial-
        # aggregating passes, each collecting #predicates rows.  These are
        # what lets the broadcast gate bound a join RESULT exactly
        # (|A ⋈_v B| <= |A| * mult_B(v)) instead of only base scans.
        mult: dict[int, list[int]] = {}
        for slot, idx in (("s", 0), ("o", 1)):
            mrows = (
                triples.groupBy("p", slot)
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy("p")
                .agg(F.max("n").alias("m"))
                .collect()
            )
            for r in mrows:
                mult.setdefault(r["p"], [0, 0])[idx] = r["m"]
        per = {
            r["p"]: PredStat(
                r["n"],
                max(r["ndv_s"], 1),
                max(r["ndv_o"], 1),
                *mult.get(r["p"], [0, 0]),
            )
            for r in rows
        }
        # exact per-object counts for enum-shaped predicates: one more
        # bounded aggregate (approx ndv only SELECTS the predicates; the
        # counts themselves are exact).  The collect is <= _OBJ_COUNT_MAX_NDV
        # rows per selected predicate by construction.
        low = [p for p, s in per.items() if s.ndv_o <= _OBJ_COUNT_MAX_NDV]
        obj_counts: dict[int, dict[int, int]] = {}
        if low:
            rows2 = (
                triples.where(F.col("p").isin(low))
                .groupBy("p", "o")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            for r in rows2:
                obj_counts.setdefault(r["p"], {})[r["o"]] = r["n"]
        return cls(per, sum(s.count for s in per.values()), obj_counts)

    # -- persistence --------------------------------------------------------
    def save(self, path: str) -> None:
        payload = {
            "version": 3,  # v3 adds mult_s/mult_o; older caches recollect
            "total": self.total,
            "per_pred": {
                str(p): [s.count, s.ndv_s, s.ndv_o, s.mult_s, s.mult_o]
                for p, s in self.per_pred.items()
            },
            "obj_counts": {
                str(p): {str(o): n for o, n in oc.items()}
                for p, oc in self.obj_counts.items()
            },
        }
        # write-then-rename: concurrent engine constructions share the cache
        # path, and a reader must never see a half-written file
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, path)
        except BaseException:
            # never leave the half-written scratch file behind (the caller
            # may swallow the error; the litter would accumulate silently)
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    @classmethod
    def load(cls, path: str) -> "TripleStats | None":
        if not os.path.exists(path):
            return None
        try:
            with open(path) as f:
                payload = json.load(f)
            if payload.get("version") != 3:
                return None  # pre-mult cache: recollect once
            # validate values NOW (int() each field): a malformed entry
            # must degrade to recollection here, not crash cardinality
            # estimation at query-planning time
            per = {
                int(p): PredStat(int(v[0]), int(v[1]), int(v[2]), int(v[3]), int(v[4]))
                for p, v in payload["per_pred"].items()
            }
            obj_counts = {
                int(p): {int(o): int(n) for o, n in oc.items()}
                for p, oc in payload["obj_counts"].items()
            }
            return cls(per, int(payload["total"]), obj_counts)
        # ValueError covers json.JSONDecodeError (its subclass) AND bad
        # int() casts — the documented contract is unreadable == no cache
        except (ValueError, KeyError, TypeError, IndexError, OSError):
            return None  # unreadable cache == no cache: caller recollects

    # -- estimation ---------------------------------------------------------
    def pattern_cardinality(
        self, pred_id: int | None, s_const: bool, o_const: bool, o_id: int | None = None
    ) -> float:
        """Estimated matches for one triple pattern under independence.

        Same role as the reference's per-subquery resultSize lookups
        (PlanCostEstimator.cpp:434-437), without ever executing anything.
        ``o_id`` (the scan's bound object-slot id, when the caller knows it)
        upgrades the o-slot selectivity from the independence estimate
        count/ndv_o to the EXACT per-object count where obj_counts covers
        the predicate — skewed enum objects (type=Lineitem vs type=Region)
        stop being averaged together.
        """
        if pred_id is None:  # variable predicate: whole table minus nothing
            n = float(self.total)
            ndv_s = ndv_o = max(self.total ** 0.5, 1.0)
        else:
            st = self.per_pred.get(pred_id)
            if st is None:
                return 0.0  # predicate absent => provably empty pattern
            n, ndv_s, ndv_o = float(st.count), float(st.ndv_s), float(st.ndv_o)
            if o_const and o_id is not None:
                oc = self.obj_counts.get(pred_id)
                if oc is not None:
                    n = float(oc.get(o_id, 0))  # exact; absent obj => empty
                    if s_const:
                        n /= ndv_s
                    return max(n, 1e-3)
        if s_const:
            n /= ndv_s
        if o_const:
            n /= ndv_o
        return max(n, 1e-3)

    def exact_slot_mult(self, pred_id: int, slot: str) -> int | None:
        """EXACT max rows of predicate ``pred_id``'s edge set per distinct
        value of scan slot ``slot`` ("s" or "o"), or None when unknown.
        This is the join-fanout figure: joining any frame A to this
        pattern on a variable in ``slot`` yields at most |A| * mult rows."""
        st = self.per_pred.get(pred_id)
        if st is None:
            return 0  # absent predicate: empty edge set
        m = st.mult_s if slot == "s" else st.mult_o
        return m if m > 0 else None

    def exact_pattern_bound(self, pred_id: int, o_id: int | None = None) -> int:
        """EXACT upper bound on a pattern scan's row count: the
        per-(pred, obj) count when the scan's object slot is bound and
        obj_counts covers the predicate, else the predicate total (0 for a
        predicate absent from the stats).  This is what the translator's
        broadcast gate keys on — never an independence estimate."""
        st = self.per_pred.get(pred_id)
        if st is None:
            return 0
        if o_id is not None:
            oc = self.obj_counts.get(pred_id)
            if oc is not None:
                return oc.get(o_id, 0)
        return st.count
