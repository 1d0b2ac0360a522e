"""BGP → DataFrame translator with stats-driven greedy join ordering.

This is the Spark-first replacement for the reference's entire planning +
execution stack (SURVEY.md §2.2/§3): query-graph construction
(QueryPlanner.c:192-239), condition assignment (242-333), plan enumeration
and cost-based vertex merging (Optimizer.cpp:207-566), subquery dispatch and
the hand-rolled MPI hash-join pipeline (Worker.c, BasicHashJoin.cpp).

Design: each triple pattern becomes a filtered, variable-aliased scan of the
``triples`` DataFrame; patterns are then chained with inner equi-joins on
shared variables in a greedy smallest-cardinality-first order seeded by
per-predicate statistics (stats.py).  Catalyst handles the physical side the
reference hand-built: hash/sort-merge join choice, broadcast of small sides,
AQE empty-relation propagation (the reference's empty short-circuit,
Proxy.c:71-85), skew splitting, and whole-stage codegen.

Why translation-time ordering instead of a Catalyst rule: the join order for
an n-pattern BGP over ONE table is decided before Catalyst sees the plan, and
per-predicate stats (which CBO lacks for self-joins) make the greedy choice
well-informed; see SURVEY.md §7.2 M3.
"""

from __future__ import annotations

import dataclasses
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dream_spark.plans.sparql import Condition, ParsedQuery, Term, strslice_sql
from dream_spark.plans.stats import TripleStats
from dream_spark.session import release_local_checkpoint
from dream_spark.sources.triples import (
    UNKNOWN_ID,
    TripleStore,
    arith2_sql,
    arith_filter_sql,
    if_numeric_sql,
    numeric_value_sql,
)


_PATH_MAX_ITERS = 25

#: DESCRIBE ?v term sets at or under this size inline as a literal IN
#: predicate (single scan, zero shuffle); larger sets take the distributed
#: two-semi-join path.  1024 longs ≈ 8 KB in the task closure.
_DESCRIBE_INLINE_MAX = 1024


def _path_cache(store: TripleStore) -> dict:
    """Per-STORE cache of derived path artifacts (closures by pid, the
    node-identity frame).  Living on the store instance — not in a module
    dict keyed by ``id(store)`` — means entries die WITH the store: a
    module-level id key could be silently reused by a new store at the
    same address after GC and serve the wrong dataset's closure."""
    return store.__dict__.setdefault("_path_frame_cache", {})


def _closure_frame(store: TripleStore, pids: tuple[int, ...]) -> DataFrame:
    """Transitive closure of a predicate SET's union edge scan (SPARQL
    OneOrMorePath semantics: DISTINCT connected pairs, 1..n hops) — a
    1-tuple for plain ``p+``, several pids for an alternation-closure
    group ``(p1|p2)+`` (the closure of the UNION edge set, which is NOT
    the union of the per-predicate closures — a path may alternate
    predicates between hops).

    Semi-naive iteration: only the frontier (pairs new in the last round)
    joins the edge set each round, anti-joined against everything seen, so
    work per round is proportional to NEW pairs — the standard datalog
    evaluation, O(diameter) rounds.  ``localCheckpoint`` truncates lineage
    per round (the plan tree would otherwise double every iteration); this
    makes translation eager for path patterns, which is documented and
    bounded by the predicates' (pruned) edge set size."""
    cache = _path_cache(store)
    key = ("closure", pids)
    if key in cache:
        return cache[key]
    pred_filter = (
        F.col("p") == F.lit(pids[0])
        if len(pids) == 1
        else F.col("p").isin(list(pids))
    )
    e = (
        store.triples.where(pred_filter)
        .select("s", "o")
        .distinct()
        .localCheckpoint()
    )
    full, frontier = e, e
    for _ in range(_PATH_MAX_ITERS):
        nxt = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.o") == F.col("e.s"))
            .select(F.col("f.s").alias("s"), F.col("e.o").alias("o"))
            .distinct()
            .join(full, on=["s", "o"], how="left_anti")
            .localCheckpoint()
        )
        # the old frontier's pairs are already folded into `full`
        # (checkpoints copy rows, not lineage) — its blocks are
        # superseded the moment `nxt` materializes.  Never release `e`:
        # the edge set joins every round.  (r9: superseded checkpoint
        # blocks lingering until driver GC taxed the next same-session
        # iterative job 1.5-2x at the 100x decade.)
        if frontier is not e:
            release_local_checkpoint(frontier)
        if nxt.isEmpty():
            release_local_checkpoint(nxt)
            break
        new_full = full.unionByName(nxt).localCheckpoint()
        if full is not e:
            release_local_checkpoint(full)
        full = new_full
        frontier = nxt
    # the per-call edge frame is only read by the rounds above; once the
    # final closure is materialized (and cached), its blocks go too —
    # unless the closure IS the edge set (zero-iteration break)
    if full is not e:
        release_local_checkpoint(e)
    cache[key] = full
    return full


def _node_frame(store: TripleStore) -> DataFrame:
    """All graph nodes (distinct subjects ∪ objects) as identity pairs
    (n, n) — the zero-length-path relation of SPARQL ``p*`` / ``p?``.
    One distinct over id columns only (never payloads), materialized via
    localCheckpoint and cached on the store (:func:`_path_cache`) so
    repeated path queries reuse it; Catalyst prunes it to a point lookup
    when the pattern's constant ends bind the identity side."""
    cache = _path_cache(store)
    if "nodes" not in cache:
        t = store.triples
        nodes = (
            t.select(F.col("s").alias("n"))
            .unionByName(t.select(F.col("o").alias("n")))
            .distinct()
        )
        cache["nodes"] = nodes.select(
            F.col("n").alias("s"), F.col("n").alias("o")
        ).localCheckpoint()
    return cache["nodes"]


def _pattern_pids(store: TripleStore, cond: Condition) -> tuple[int, ...]:
    """The resolved predicate ids a constant-predicate pattern names: each
    alternative of an alternation (closure group included) or negated
    set, else the one predicate.  Query order, unsorted."""
    pred = cond.pred
    names = pred.alternatives if pred.is_alternation or pred.is_negated else (pred.lexical,)
    return tuple(store.resolve(x) for x in names)


def _path_frame(store: TripleStore, cond: Condition, identity_nodes: DataFrame | None = None) -> DataFrame:
    """The (s, o) pair frame of a hop-count property path:

    - ``p+`` → transitive closure (1..n hops, :func:`_closure_frame`);
    - ``p*`` → closure ∪ identity over graph nodes (0..n hops);
    - ``p?`` → distinct edge set ∪ identity (0..1 hops).

    The zero-length branch pairs every graph node with itself (SPARQL
    ZeroLengthPath over the graph's terms), independent of whether the
    node touches ``p`` — ``?n type Nation . ?n inRegion* ?r`` therefore
    yields (n, n) even for a nation with no region edge, like the spec.
    A CONSTANT endpoint self-pairs unconditionally — SPARQL 1.1 §18.4
    ZeroLengthPath(term, var) binds the variable to the term whether or
    not the term occurs in the graph, so ``<x> p* <x>`` holds even for a
    node-less ``x`` (:func:`_identity_domain` supplies the literal row;
    the DuckDB oracle's anchored pathstar_/pathopt_ CTEs mirror it).  The
    one remaining boundary is out-of-vocabulary terms (absent from the
    DICTIONARY, not merely from the graph): they share the UNKNOWN_ID
    sentinel, so self-pairing them would let two DIFFERENT unknown terms
    match each other — they stay empty, consistent with every other
    pattern position (``<oov> type ?x`` matches nothing too).

    ``identity_nodes`` (one column ``n``) restricts the identity side to a
    caller-proven domain — a sibling pattern's value set or a constant's
    presence probe (:func:`_identity_domain`).  Always sound: the caller
    guarantees the domain (a) comes from triple scans, hence ⊆ graph
    nodes, and (b) is a superset of the endpoint values that can survive
    the enclosing join — so restricting identity changes nothing after
    the join while skipping the corpus-wide node distinct.

    The union needs NO distinct: identity already contains every possible
    self-pair, so dropping the base's self-loops (``s != o``) makes the
    two sides disjoint by construction — a plain UNION ALL instead of a
    corpus-wide dedup shuffle."""
    pids = tuple(sorted(_pattern_pids(store, cond)))
    if cond.pred.is_transitive:
        return _closure_frame(store, pids)
    # grammar guarantees */? carry a single predicate (groups are +-only)
    (pid,) = pids
    if cond.pred.is_zero_or_more:
        base = _closure_frame(store, pids)
    else:  # p? — 0..1 hops: the raw (distinct) edge set
        base = store.triples.where(F.col("p") == F.lit(pid)).select("s", "o").distinct()
    if identity_nodes is not None:
        ident = identity_nodes.select(F.col("n").alias("s"), F.col("n").alias("o"))
    else:
        ident = _node_frame(store)
    return base.where(F.col("s") != F.col("o")).unionByName(ident)


def _identity_domain(
    store: TripleStore,
    conditions: list[Condition],
    est: dict[int, float],
    cond: Condition,
) -> DataFrame | None:
    """Domain restriction for a ``p*``/``p?`` pattern's zero-length side:
    a one-column (``n``) frame of the node ids the identity branch needs.

    - A CONSTANT endpoint shrinks identity to a single literal row — the
      spec's ZeroLengthPath binds a constant endpoint to itself whether
      or not the term occurs in the graph (SPARQL 1.1 §18.4), so no scan
      at all replaces the corpus-wide node frame.  OOV constants (no
      dictionary id) contribute nothing: the UNKNOWN_ID sentinel is
      shared, and a sentinel self-pair would match DIFFERENT unknown
      terms to each other (see :func:`_path_frame`).
    - A VARIABLE endpoint also bound by a sibling (non-path) pattern
      restricts identity to that sibling's value set: the enclosing
      equi-join drops every identity row outside it anyway
      (spec-equivalent, see :func:`_path_frame`), and the sibling scan is
      orders of magnitude smaller than all graph nodes.  The cheapest
      such sibling (by the stats estimate) supplies the domain.
    - Otherwise ``None`` → the cached corpus-wide node frame.
    """
    for term in (cond.subj, cond.obj):
        if not term.is_var:
            cid_ = store.resolve(term.lexical)
            n_rows = 0 if cid_ == UNKNOWN_ID else 1
            return store.spark.range(n_rows).select(
                F.lit(cid_).cast("long").alias("n")
            )
    end_vars = {t.var for t in (cond.subj, cond.obj) if t.is_var}
    best: tuple[Condition, str] | None = None
    for c2 in conditions:
        if c2.cid == cond.cid or c2.pred.is_path_closure:
            continue
        # only the sibling's SUBJECT/OBJECT slots qualify: their values are
        # graph nodes by construction, but a variable bound via the
        # sibling's PREDICATE slot ranges over predicate ids — which the
        # zero-length path (terms occurring as subject or object) excludes,
        # so a predicate-slot domain would invent identity rows the node
        # frame and the oracle's graph_nodes CTE both reject
        so_vars = {t.var for t in (c2.subj, c2.obj) if t.is_var}
        shared = sorted(end_vars & so_vars)
        if not shared:
            continue
        if best is None or est.get(c2.cid, 1.0) < est.get(best[0].cid, 1.0):
            best = (c2, shared[0])
    if best is None:
        return None
    c2, v = best
    return _condition_frame(store, c2).select(F.col(v).alias("n")).distinct()


def _dict_lex(store: TripleStore, id_alias: str, lex_alias: str) -> DataFrame:
    """The dictionary projected to ``(id_alias, lex_alias)`` with a
    size-gated broadcast hint — the build side of every decode, regex and
    string-function join.  The session's 4 MB autoBroadcastJoinThreshold
    (retuned r10 for the 600 K-row PATTERN sides, where a driver-serial
    broadcast build loses to a shuffle join) also demoted these dict joins
    to sort-merge, which re-shuffled the whole dictionary per decode —
    measured 2-3x slower on the decode-family entries (sparql_bind_concat
    0.86->2.11 s, count_decode, filter_regex/strends/substr).  Unlike a
    pattern side, the dict join's OTHER side is a result stream, so the
    shuffle moves the full dictionary every time; the broadcast is built
    once and reused across a plan's slots (BroadcastExchange reuse).  Gate
    on the store's memoized row count: past ``BROADCAST_MAX_ROWS_CONF``
    (a 100-TB dictionary) it stays a shuffle join."""
    from dream_spark.functions.joins import broadcast_if_small

    lex = store.dictionary.select(
        F.col("id").alias(id_alias), F.col("lexical").alias(lex_alias)
    )
    return broadcast_if_small(lex, known_count=store.dict_count())


def _decode_slots(plan: DataFrame, store: TripleStore, cols) -> DataFrame:
    """Decode each id column in ``cols`` to its lexical with one left dict
    join per column (an id without an entry decodes to NULL; the decoded
    column moves to the end of the frame)."""
    for v in cols:
        lex = _dict_lex(store, v, f"__dlex_{v}")
        plan = plan.join(lex, on=v, how="left").drop(v).withColumnRenamed(f"__dlex_{v}", v)
    return plan


_COMPARISONS = {
    "=": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


def _compare(lhs, op: str, rhs):
    """``lhs op rhs`` for one of the six SPARQL comparison operators."""
    return _COMPARISONS[op](lhs, rhs)


def _row_pred(f, store, numeric_cols: frozenset[str]):
    """One row-local FILTER form as a Column predicate:

    - ``cmp``: id-level comparison (exact — the dictionary is a bijection,
      and the arithmetic id scheme is order-preserving within a kind);
    - ``bound``: NULL test on the (optional-joined) column — !bound is the
      SPARQL negation-by-failure pattern (≡ anti-join);
    - ``arith``/``arith2``: the shared typed-numeric-value SQL fragments
      (identical strings in the DuckDB oracle, so semantics cannot drift);
      non-numeric ids value to NULL and the row drops, per the SPARQL
      type-error contract.  ``numeric_cols`` lists arithmetic BIND aliases
      that already hold plain numbers — wrapping those again would
      value-window-test the VALUE and NULL every row;
    - ``in``: an IN literal list on the encoded ids — Catalyst pushes it
      into the pattern scans (partition-prunable under the p-partitioned
      layout); op="!" negation stays row-local (pattern-bound ids are
      never NULL, so ~isin has no three-valued-logic surprise);
    - ``boolop``: the parts OR-ed / AND-ed into one predicate — SQL
      three-valued logic over an unbound operand matches SPARQL §17.2
      (NULL OR TRUE = TRUE ≡ error || true = true; non-TRUE drops).
    """
    if f.kind == "cmp":
        lhs = F.col(f.var)
        rhs = F.col(f.rhs_var) if f.rhs_var is not None else F.lit(store.resolve(f.rhs_const))
        return _compare(lhs, f.op, rhs)
    if f.kind == "bound":
        col = F.col(f.var)
        return col.isNull() if f.op == "!" else col.isNotNull()
    if f.kind == "isnum":
        # §17.4.2.4 isNumeric: the typed-value window test on the id (a
        # numeric BIND alias is a plain number, hence numeric by
        # construction — test the value itself, mirroring the oracle).
        # UNBOUND argument = type error, not false: isNumeric over an
        # OPTIONAL-null column yields NULL (the row drops, and negation /
        # connectives propagate it as error per §17.2), never a truth
        # value — (val IS NULL) alone would make !isNumeric(?v) KEEP
        # unbound rows
        base = F.col(f.var)
        val = base if f.var in numeric_cols else F.expr(numeric_value_sql(f.var))
        truth = val.isNull() if f.op == "!" else val.isNotNull()
        return F.when(base.isNull(), F.lit(None).cast("boolean")).otherwise(truth)
    if f.kind == "arith":
        return F.expr(
            arith_filter_sql(
                f.var, f.lhs_op, f.lhs_num, f.op, f.rhs_num,
                wrap=f.var not in numeric_cols,
            )
        )
    if f.kind == "arith2":
        expr = arith2_sql(
            f.var, f.lhs_op, f.rhs_var,
            wrap_a=f.var not in numeric_cols,
            wrap_b=f.rhs_var not in numeric_cols,
        )
        if f.abs_fn:  # abs(?a op ?b) — same fragment, magnitude-wrapped
            expr = f"abs({expr})"
        sqlop = "<>" if f.op == "!=" else f.op
        return F.expr(f"{expr} {sqlop} {f.rhs_num}")
    if f.kind == "in":
        member = F.col(f.var).isin([store.resolve(c) for c in f.consts])
        return ~member if f.op == "!" else member
    assert f.kind == "boolop", f.kind
    preds = [_row_pred(p, store, numeric_cols) for p in f.parts]
    if f.op == "!":  # §17.4.1.7 fn:not — NOT(NULL) stays NULL, like !(error)
        return ~preds[0]
    out = preds[0]
    for p in preds[1:]:
        out = (out | p) if f.op == "||" else (out & p)
    return out


def _apply_filters(
    plan: DataFrame,
    filters,
    store: TripleStore,
    tag: str = "",
    numeric_cols: frozenset[str] = frozenset(),
) -> DataFrame:
    """Lower a list of FILTER clauses onto ``plan``.  Id-level comparisons
    stay on the encoded longs (the dictionary is a bijection, so =/!= on
    ids ≡ on lexicals); regex filters decode just the one column via a
    dict equi-join, then drop it; arithmetic filters run the shared
    typed-numeric-value CASE fragment (identical string in the DuckDB
    oracle); bound tests are NULL checks.  Used for the top-level filter
    list AND for optional-group-local filters (``tag`` keeps the regex
    temp columns unique per group)."""
    for i, f in enumerate(filters):
        if f.kind in ("cmp", "bound", "isnum", "arith", "arith2", "in", "boolop"):
            # every row-local form lowers to a single Column predicate
            # (shared with the ||/&& connective combination) — pure
            # whole-stage-codegen expressions, pushdown-eligible, no join
            plan = plan.where(_row_pred(f, store, numeric_cols))
        elif f.kind == "in_rows":
            # multi-variable VALUES: a row-IN predicate on the encoded id
            # tuple — Catalyst folds the struct-literal list to a local
            # filter; no join, no shuffle (bindings lists are tiny by
            # construction).  A row with an UNDEF (None) slot can't ride
            # the struct-IN (it would demand equality on the wildcard), so
            # any UNDEF switches to the equivalent OR of per-row
            # conjunctions that simply omit the unconstrained slots —
            # still a single row-local predicate.
            #
            # Defense-in-depth + scan pruning: before the exact row
            # predicate, push a per-variable membership filter for every
            # variable that is never UNDEF across the rows (sound: the row
            # predicate implies each such domain).  These single-column IN
            # filters reach the pattern scans via Catalyst pushdown, so at
            # scale the VALUES constraint shrinks the inputs instead of
            # riding the final join as a residual only.
            for vi, v in enumerate(f.vars_):
                col_vals = [row[vi] for row in f.rows]
                if all(c is not None for c in col_vals):
                    plan = plan.where(
                        F.col(v).isin([store.resolve(c) for c in set(col_vals)])
                    )
            if any(c is None for row in f.rows for c in row):
                disj = []
                for row in f.rows:
                    conj = [
                        f"({v} = CAST({store.resolve(c)} AS BIGINT))"
                        for v, c in zip(f.vars_, row)
                        if c is not None
                    ]
                    disj.append("(" + " AND ".join(conj) + ")" if conj else "TRUE")
                plan = plan.where(F.expr(" OR ".join(disj)))
            else:
                cols = ", ".join(f.vars_)
                lits = ", ".join(
                    "named_struct("
                    + ", ".join(
                        f"'{v}', CAST({store.resolve(c)} AS BIGINT)"
                        for v, c in zip(f.vars_, row)
                    )
                    + ")"
                    for row in f.rows
                )
                plan = plan.where(F.expr(f"struct({cols}) IN ({lits})"))
        elif f.kind == "regex":
            lex = _dict_lex(store, f.var, f"__flex_{tag}{i}")
            plan = plan.join(lex, on=f.var).where(
                F.col(f"__flex_{tag}{i}").rlike(f.pattern)
            ).drop(f"__flex_{tag}{i}")
        elif f.kind in ("str", "strlen"):
            # SPARQL 1.1 string functions (CONTAINS/STRSTARTS/STRENDS/
            # STRLEN) over simple literals: decode just the one column via
            # a dict equi-join (broadcast-able — the dict is the bounded
            # side), apply the LITERAL string predicate, drop the temp
            # column.  Like regex, the inner join drops unbound (NULL)
            # variables — a string function on an unbound term is a SPARQL
            # type error, so the row drops on both engines.
            lex = _dict_lex(store, f.var, f"__fstr_{tag}{i}")
            c = F.col(f"__fstr_{tag}{i}")
            if f.kind == "strlen":
                pred = _compare(F.length(c), f.op, f.rhs_num)
            elif f.op in ("ucase", "lcase"):
                # UCASE/LCASE(?v) =/!= "lit" — case-mapped equality on the
                # decoded lexical (ASCII data; both engines apply Unicode
                # simple case mapping identically)
                folded = F.upper(c) if f.op == "ucase" else F.lower(c)
                pred = _compare(folded, f.lhs_op, f.pattern)
            elif f.op == "replace":
                # REPLACE(?v, pat, rep) — regex-based, GLOBAL (Spark
                # regexp_replace replaces every match; the oracle passes
                # DuckDB's 'g' flag for the same semantics)
                repl = F.regexp_replace(c, f.pattern, f.rhs_var)
                pred = _compare(repl, f.lhs_op, f.rhs_const)
            elif f.op in ("strbefore", "strafter"):
                # separator extraction via the SHARED SQL fragment (the
                # oracle renders the identical string — plans/sparql.py
                # strslice_sql), compared against the target literal
                sliced = F.expr(strslice_sql(f.op, f"__fstr_{tag}{i}", f.pattern))
                pred = _compare(sliced, f.lhs_op, f.rhs_const)
            elif f.op == "substr":
                # SUBSTR(?v, start[, len]) =/!= "lit" — 1-based, same
                # out-of-range → "" behavior as DuckDB substr
                sub = (
                    F.substring(c, f.lhs_num, f.rhs_num)
                    if f.rhs_num is not None
                    else F.expr(f"substring(__fstr_{tag}{i}, {f.lhs_num})")
                )
                pred = _compare(sub, f.lhs_op, f.pattern)
            else:
                pred = {
                    "contains": c.contains(f.pattern),
                    "strstarts": c.startswith(f.pattern),
                    "strends": c.endswith(f.pattern),
                }[f.op]
            plan = plan.join(lex, on=f.var).where(pred).drop(f"__fstr_{tag}{i}")
        else:  # pragma: no cover
            raise ValueError(f"unknown filter kind {f.kind!r}")
    return plan


def _condition_frame(
    store: TripleStore, cond: Condition, identity_nodes: DataFrame | None = None
) -> DataFrame:
    """One triple pattern → filtered/aliased scan.

    Constants become pushdown-able filters (reference O3,
    QueryPlanner.c:780-821); variables become column aliases.  A variable
    repeated inside one pattern (e.g. ``?x p ?x``) becomes a same-row equality
    filter.  A ``pred+``/``pred*``/``pred?`` pattern scans the predicate's
    derived pair frame (:func:`_path_frame`) instead of the raw triples.  An inverse predicate
    ``^p`` swaps the subject/object slot bindings (``?x ^p ?y`` ≡ ``?y p
    ?x`` — still one filtered scan, no join).  A ``p1|p2`` alternation
    becomes an IN filter on the predicate ids — one scan, and the IN list
    prunes partitions/row groups exactly like an equality under the
    p-partitioned layout.
    """
    s_term, o_term = _scan_terms(cond)
    if cond.pred.is_path_closure:
        df = _path_frame(store, cond, identity_nodes=identity_nodes)
        slots = {"s": s_term, "o": o_term}
    else:
        df = store.triples
        slots = {"s": s_term, "p": cond.pred, "o": o_term}
    seen: dict[str, str] = {}  # var -> first slot bound to it
    cols = []
    for slot, term in slots.items():
        if term.is_var:
            if term.var in seen:
                df = df.where(F.col(slot) == F.col(seen[term.var]))
            else:
                seen[term.var] = slot
                cols.append(F.col(slot).alias(term.var))
        elif slot == "p" and (term.is_negated or term.is_alternation):
            # an IN filter; a NegatedPropertySet (any predicate in the
            # graph EXCEPT these) is still one scan, with a NOT-IN residual
            member = F.col(slot).isin(list(_pattern_pids(store, cond)))
            df = df.where(~member if term.is_negated else member)
        else:
            df = df.where(F.col(slot) == F.lit(store.resolve(term.lexical)))
    if not cols:
        # Fully-ground pattern: contributes one empty mapping iff present.
        return df.select(F.lit(1).alias(f"__ground_{cond.cid}")).limit(1)
    return df.select(*cols)


def _scan_terms(cond: Condition) -> tuple[Term, Term]:
    """The terms bound to the scan's s and o slots: (subj, obj), swapped
    for an inverse predicate (``?x ^p ?y`` scans as ``?y p ?x``; the
    grammar has no inverse path closures)."""
    return (cond.obj, cond.subj) if cond.pred.is_inverse else (cond.subj, cond.obj)


def _scan_o_id(store: TripleStore, cond: Condition) -> int | None:
    """The dictionary id bound to the SCAN's o slot, when there is one.
    Feeds the exact per-object stats (obj_counts) into estimation and the
    broadcast gate."""
    term = _scan_terms(cond)[1]
    if term.is_var:
        return None
    return store.resolve(term.lexical)


def _estimate(stats: TripleStats | None, store: TripleStore, cond: Condition) -> float:
    if stats is None:
        return 1.0
    s_term, o_term = _scan_terms(cond)
    s_bound, o_bound = not s_term.is_var, not o_term.is_var
    if cond.pred.is_negated:
        # complement of the excluded predicates' edge sets
        total = stats.pattern_cardinality(None, s_bound, o_bound)
        excl = sum(
            stats.pattern_cardinality(pid, s_bound, o_bound)
            for pid in _pattern_pids(store, cond)
        )
        return max(total - excl, 1.0)
    if cond.pred.is_var:
        return stats.pattern_cardinality(None, s_bound, o_bound)
    o_id = None if cond.pred.is_path_closure else _scan_o_id(store, cond)
    # an alternation scans the union of the predicates' edge sets
    return sum(
        stats.pattern_cardinality(pid, s_bound, o_bound, o_id)
        for pid in _pattern_pids(store, cond)
    )


def _var_ndvs(stats: TripleStats | None, store: TripleStore, cond: Condition, card: float) -> dict[str, float]:
    """Estimated distinct values per variable of one pattern."""
    out: dict[str, float] = {}
    if cond.pred.is_var:
        nds = ndo = max(card, 1.0) ** 0.5
        out[cond.pred.var] = max(len(stats.per_pred) if stats else 10, 1)
    elif cond.pred.is_negated:
        # heterogeneous complement set: no per-pred ndv applies
        nds = ndo = max(card, 1.0) ** 0.5
    elif stats is not None:
        # an alternation's edge sets union: ndvs add (upper bound; card
        # caps them below)
        sts = [stats.per_pred.get(pid) for pid in _pattern_pids(store, cond)]
        nds = float(sum(st.ndv_s for st in sts if st)) or 1.0
        ndo = float(sum(st.ndv_o for st in sts if st)) or 1.0
    else:
        nds = ndo = max(card, 1.0)
    if cond.pred.is_inverse:
        # subj binds the scan's o slot and vice versa
        nds, ndo = ndo, nds
    if cond.subj.is_var:
        out[cond.subj.var] = min(nds, card) if card else nds
    if cond.obj.is_var:
        out.setdefault(cond.obj.var, min(ndo, card) if card else ndo)
    return {v: max(n, 1.0) for v, n in out.items()}


def dp_order(
    conditions: list[Condition],
    cards: dict[int, float],
    ndvs: dict[int, dict[str, float]],
) -> list[Condition]:
    """Selinger-style DP join ordering over connected subsets.

    The Spark-side analog of the reference's exhaustive plan search
    (Optimizer.cpp:207-333) done with estimates instead of
    execute-to-measure: minimize the cumulative size of intermediate
    results under the standard independence model

        |A ⋈ B| = |A|·|B| / Π_{v shared} max(ndv_A(v), ndv_B(v)).

    Left-deep orders only (each step adds one pattern), which matches the
    chained `join` the translator emits.  Greedy smallest-first (the v1
    heuristic) can route a cycle query through a low-ndv hub variable and
    blow up the intermediate by orders of magnitude — the DP sees the
    whole order space and avoids it.  Driver-side cost: O(2^n · n) for n
    patterns; falls back to greedy above _DP_MAX_CONDITIONS.
    """
    n = len(conditions)
    idx = {c.cid: i for i, c in enumerate(conditions)}
    cvars = [set(c.variables()) for c in conditions]

    # state: bitmask -> (total_cost, card, {var: ndv}, order tuple)
    best: dict[int, tuple[float, float, dict[str, float], tuple[int, ...]]] = {}
    for i, c in enumerate(conditions):
        m = 1 << i
        best[m] = (cards[c.cid], cards[c.cid], dict(ndvs[c.cid]), (i,))

    full = (1 << n) - 1
    # iterate masks in increasing popcount order
    masks = sorted(range(1, full + 1), key=lambda m: bin(m).count("1"))
    for m in masks:
        if m not in best:
            continue
        cost, card, nv, order = best[m]
        for j in range(n):
            if m & (1 << j):
                continue
            shared = cvars[j] & set(nv)
            jc = cards[conditions[j].cid]
            jnv = ndvs[conditions[j].cid]
            new_card = card * jc
            for v in shared:
                new_card /= max(nv[v], jnv.get(v, 1.0))
            if not shared:
                # cross join: heavily penalized but allowed (disconnected BGP)
                new_card = card * jc
            new_card = max(new_card, 1e-3)
            new_cost = cost + new_card
            nm = m | (1 << j)
            prev = best.get(nm)
            if prev is None or (new_cost, new_card) < (prev[0], prev[1]):
                merged = dict(nv)
                for v, d in jnv.items():
                    merged[v] = min(merged.get(v, d), d, new_card)
                best[nm] = (new_cost, new_card, merged, order + (j,))
    _, _, _, order = best[full]
    return [conditions[i] for i in order]


_DP_MAX_CONDITIONS = 13

#: broadcast a disconnected component into its cross product when its
#: estimated cardinality is under this many rows (≤ 3 longs/row → ≤ 24 MB)
_BCAST_CARTESIAN_MAX_ROWS = 1_000_000

#: broadcast-hint a pattern scan into its equi-join when its predicate edge
#: set's EXACT count stays under this (≤ 2 longs/row → ≤ ~5 MB build side,
#: aligned with the session's 4 MB autoBroadcastJoinThreshold).  Lowered from
#: 1M in r10: a broadcast build is driver-serial, and the measured crossover
#: on the open store is in the low-hundreds-of-thousands of rows — 600k-row
#: sides joined 3-4x faster as shuffle joins (OPTIMIZATION_r10.md).
_BCAST_JOIN_MAX_ROWS = 300_000


def _bcast_pattern_ok(stats: "TripleStats | None", store: TripleStore, cond: Condition) -> bool:
    """Whether a pattern scan is SAFE to broadcast-hint into its equi-join.

    Catalyst size-estimates every predicate-filtered scan of the open
    triples relation at the WHOLE file (no column stats), so a 20 k-row
    ``size`` pattern sort-merges — five shuffles in the pair queries —
    unless the translator, which holds exact per-predicate counts (P7/P8
    stats), hints the broadcast itself.  The gate is the predicate edge
    set's EXACT count: an upper bound on the scan result under any
    additional slot constant, so the hint is safe regardless of the
    independence model's errors — and at growing data scale the count
    crosses the threshold and the gate turns itself off.  Path-closure
    patterns are excluded (the derived closure pair frame can exceed the
    edge count); var/negated predicates have no small exact bound."""
    if stats is None or cond.pred.is_var or cond.pred.is_negated or cond.pred.is_path_closure:
        return False
    return _exact_scan_bound(stats, store, cond) <= _BCAST_JOIN_MAX_ROWS


def _exact_scan_bound(stats: "TripleStats", store: TripleStore, cond: Condition) -> int | None:
    """EXACT upper bound on one pattern scan's rows, or None.  Unlike
    ``_bcast_pattern_ok`` this also bounds var/negated-predicate scans (by
    the store total — exact, if loose); path-closure frames can exceed any
    stored count and stay unbounded.  A bound object slot takes the exact
    per-(pred, obj) count where obj_counts covers the predicate (``?C type
    Customer`` is a 15 K-row scan, not a 786 K-row one — without it the
    broadcast gate demoted every dimension-shaped join to sort-merge)."""
    if cond.pred.is_path_closure:
        return None
    if cond.pred.is_var or cond.pred.is_negated:
        return stats.total
    o_id = _scan_o_id(store, cond)
    return sum(stats.exact_pattern_bound(pid, o_id) for pid in _pattern_pids(store, cond))


def _cond_var_mult(
    stats: "TripleStats", store: TripleStore, cond: Condition, v: str
) -> int | None:
    """EXACT max rows of ``cond``'s scan per value of variable ``v`` (the
    join fanout when joining any frame to this pattern on ``v``), or None
    when no exact figure exists."""
    if cond.pred.is_var or cond.pred.is_negated or cond.pred.is_path_closure:
        return None
    slots = [
        slot
        for slot, term in zip(("s", "o"), _scan_terms(cond))
        if term.is_var and term.var == v
    ]
    if not slots:
        return None
    pids = _pattern_pids(store, cond)
    best: int | None = None
    for slot in slots:  # ?X p ?X: either slot's mult bounds the fanout
        mults = [stats.exact_slot_mult(pid, slot) for pid in pids]
        if None not in mults:
            # union of edge sets: fanouts add (safe upper bound)
            best = sum(mults) if best is None else min(best, sum(mults))
    return best


#: give up on a group bound past this (it cannot gate anything anyway and
#: keeps the arithmetic overflow-free)
_GROUP_BOUND_CAP = 10**15


def _exact_group_bound(
    stats: "TripleStats | None", store: TripleStore, conds: list[Condition]
) -> int | None:
    """EXACT upper bound on the rows of the inner equi-join of a pattern
    group, or None when no exact figure exists.

    For each connected component, anchor at a root scan and multiply by
    each remaining pattern's exact join fanout on a shared variable
    (|A ⋈_v B| <= |A| * mult_B(v)); take the best root.  Components
    multiply (the chain composes them as cross products).  Every factor
    is an exact maximum from the stats pass, so the figure is a hard
    bound under ANY additional constants or filters — the same safety
    argument as ``_bcast_pattern_ok``, lifted from scans to join results
    (the (placedBy ⋈ inNation) side of the samenation query is 150 K rows
    by this bound; the scan-only gate saw two patterns and proved
    nothing)."""
    if stats is None or not conds:
        return None
    cvars = {c.cid: set(c.variables()) for c in conds}
    # connected components on shared variables (cross products multiply)
    remaining = {c.cid: c for c in conds}
    total = 1
    while remaining:
        seed = next(iter(remaining.values()))
        comp = [seed]
        comp_vars = set(cvars[seed.cid])
        del remaining[seed.cid]
        grew = True
        while grew:
            grew = False
            for cid, c in list(remaining.items()):
                if cvars[cid] & comp_vars:
                    comp.append(c)
                    comp_vars |= cvars[cid]
                    del remaining[cid]
                    grew = True
        best: int | None = None
        for root in comp:
            bound = _exact_scan_bound(stats, store, root)
            if bound is None:
                continue
            done = {root.cid}
            bound_vars = set(cvars[root.cid])
            ok = True
            while len(done) < len(comp) and ok:
                # greedy: attach the connected pattern with the smallest
                # exact fanout first (tighter; any order stays a bound)
                pick: tuple[int, Condition] | None = None
                for c in comp:
                    if c.cid in done:
                        continue
                    shared = cvars[c.cid] & bound_vars
                    if not shared:
                        continue
                    mults = [_cond_var_mult(stats, store, c, v) for v in sorted(shared)]
                    mults = [m for m in mults if m is not None]
                    if not mults:
                        continue
                    m = min(mults)
                    if pick is None or m < pick[0]:
                        pick = (m, c)
                if pick is None:
                    ok = False  # a member has no exact fanout: root fails
                    break
                bound *= pick[0]
                if bound > _GROUP_BOUND_CAP:
                    ok = False
                    break
                done.add(pick[1].cid)
                bound_vars |= cvars[pick[1].cid]
            if ok:
                best = bound if best is None else min(best, bound)
        if best is None:
            return None
        total *= best
        if total > _GROUP_BOUND_CAP:
            return None
    return total


def _group_bcast_ok(stats: "TripleStats | None", store: TripleStore, conds: list[Condition]) -> bool:
    """Whether a pattern group's join result is provably small enough to
    broadcast-hint: its exact bound is under ``_BCAST_JOIN_MAX_ROWS``."""
    bound = _exact_group_bound(stats, store, conds)
    return bound is not None and bound <= _BCAST_JOIN_MAX_ROWS


def greedy_order(conditions: list[Condition], est: dict[int, float]) -> list[Condition]:
    """Smallest-first greedy: start at the cheapest pattern, then repeatedly
    take the cheapest pattern *connected* to the bound variables; fall back to
    the globally cheapest (cartesian) only when the query graph is
    disconnected.  This replaces the reference's exhaustive plan enumeration +
    vertex merging (Optimizer.cpp:270-333, 464-566) with the standard greedy
    heuristic; AQE corrects mis-estimates at runtime."""
    remaining = list(conditions)
    remaining.sort(key=lambda c: (est[c.cid], c.cid))
    order = [remaining.pop(0)]
    bound = set(order[0].variables())
    while remaining:
        connected = [c for c in remaining if set(c.variables()) & bound]
        pick = min(connected or remaining, key=lambda c: (est[c.cid], c.cid))
        remaining.remove(pick)
        order.append(pick)
        bound |= set(pick.variables())
    return order


def _articulation_split(conditions: list[Condition]) -> tuple[list[list[Condition]], str] | None:
    """Split a CONNECTED pattern group at an articulation VARIABLE: a
    variable v whose edges are the only thing holding the condition graph
    together, so removing them leaves ≥2 components of which ≥2 have ≥2
    conditions each.  Every resulting component then shares EXACTLY {v}
    with the others (a second shared variable would be a non-v edge,
    contradiction), so the components compose with plain equi-joins on v.

    This is what turns the self-join pair queries bushy (r10, guide
    §2.4): ``?L1 ofOrder ?O . ?L2 ofOrder ?O . ?L1 ofPart ?P1 …`` splits
    at O into two ISOMORPHIC branches — Catalyst's exchange reuse then
    computes the branch's shuffles once (ReusedExchange on the second
    side; canonicalized plans ignore the alias names), and the C(k,2)
    pair stream on top is never exchanged at all.  The left-deep chain
    shuffled the pair stream itself to attach the second branch's
    patterns.  Cycles (no articulation variable) and star/dimension
    shapes (components of size 1) are left exactly as before."""
    if len(conditions) < 4:
        return None
    cvars = {c.cid: set(c.variables()) for c in conditions}
    all_vars = sorted(set().union(*cvars.values())) if conditions else []

    def _components(excl: str | None) -> list[list[Condition]]:
        parent = {c.cid: c.cid for c in conditions}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        n = len(conditions)
        for i in range(n):
            for j in range(i + 1, n):
                ci, cj = conditions[i], conditions[j]
                if (cvars[ci.cid] & cvars[cj.cid]) - ({excl} if excl else set()):
                    parent[find(ci.cid)] = find(cj.cid)
        groups: dict[int, list[Condition]] = {}
        for c in conditions:
            groups.setdefault(find(c.cid), []).append(c)
        return list(groups.values())

    if len(_components(None)) != 1:
        return None  # already disconnected: the chain's crossJoin handles it
    best: tuple | None = None
    for v in all_vars:
        comps = _components(v)
        if len(comps) >= 2 and sum(1 for g in comps if len(g) >= 2) >= 2:
            # prefer the most BALANCED cut (max component smallest): the
            # symmetric split is the one whose branches canonicalize
            # identically and share their exchanges
            key = (max(len(g) for g in comps), v)
            if best is None or key < best[0]:
                best = (key, comps, v)
    if best is None:
        return None
    return best[1], best[2]


def _join_group(
    store: TripleStore,
    conditions: list[Condition],
    stats: TripleStats | None,
    use_dp: bool = False,
) -> tuple[DataFrame, set[str]]:
    """Join one pattern group (inner equi-joins on shared variables) in a
    stats-seeded order; returns (plan, bound variables)."""
    est = {c.cid: _estimate(stats, store, c) for c in conditions}
    if use_dp and stats is not None:
        split = _articulation_split(conditions)
        if split is not None:
            comps, _v = split
            # build every component independently (recursively splittable),
            # largest first so single-pattern components keep their
            # broadcast hint on the probe side of the join
            def _comp_key(g: list[Condition]) -> tuple:
                return (-len(g), -max(est[c.cid] for c in g), min(c.cid for c in g))

            comps = sorted(comps, key=_comp_key)
            plan: DataFrame | None = None
            bound: set[str] = set()
            joined: list[Condition] = []  # conditions already in `plan`
            for g in comps:
                sub, sub_bound = _join_group(store, g, stats, use_dp)
                # exact GROUP bound (r11): a multi-pattern component whose
                # join result is provably small broadcasts the same way a
                # small scan does (singletons reduce to the old scan gate)
                if _group_bcast_ok(stats, store, g):
                    sub = F.broadcast(sub)
                elif plan is not None and _group_bcast_ok(stats, store, joined):
                    plan = F.broadcast(plan)
                if plan is None:
                    plan, bound = sub, sub_bound
                else:
                    plan = plan.join(sub, on=sorted(bound & sub_bound))
                    bound |= sub_bound
                joined.extend(g)
            assert plan is not None
            return plan, bound
    if use_dp and stats is not None and len(conditions) <= _DP_MAX_CONDITIONS:
        ndvs = {c.cid: _var_ndvs(stats, store, c, est[c.cid]) for c in conditions}
        order = dp_order(conditions, est, ndvs)
    else:
        order = greedy_order(conditions, est)
    plan: DataFrame | None = None
    bound: set[str] = set()
    plan_conds: list[Condition] = []  # conditions accumulated into `plan`
    for cond in order:
        ident = None
        if cond.pred.is_zero_or_more or cond.pred.is_zero_or_one:
            ident = _identity_domain(store, conditions, est, cond)
        cdf = _condition_frame(store, cond, identity_nodes=ident)
        if plan is None:
            plan = cdf
        else:
            shared = sorted(bound & set(cond.variables()))
            if shared:
                if _bcast_pattern_ok(stats, store, cond):
                    cdf = F.broadcast(cdf)
                else:
                    # a small base joining a large side must hint ITSELF
                    # (BuildLeft).  r11: the gate is the EXACT bound of the
                    # whole accumulated join group, not just a single-
                    # pattern base — (placedBy ⋈ inNation) is provably
                    # <= |placedBy| rows (inNation is functional per
                    # subject), so it broadcasts into the 4x-larger
                    # ofOrder side instead of sort-merging both through
                    # two exchanges (samenation, VERDICT r10 item 4)
                    if _group_bcast_ok(stats, store, plan_conds):
                        plan = F.broadcast(plan)
                plan = plan.join(cdf, on=shared)
            else:
                # Disconnected component (reference O7: bag-union cross
                # product).  Broadcast the new side when its estimate is
                # small so the cartesian runs as a BroadcastNestedLoopJoin
                # (p tasks) instead of a partition-pair CartesianProduct
                # (p² tasks over the open store); a huge-both-sides
                # cartesian is output-bound either way, so the hint is
                # never the bottleneck.
                small = est[cond.cid] <= _BCAST_CARTESIAN_MAX_ROWS
                plan = plan.crossJoin(F.broadcast(cdf) if small else cdf)
        plan_conds.append(cond)
        bound |= set(cond.variables())
    assert plan is not None
    return plan, bound


def translate(
    store: TripleStore,
    query: ParsedQuery,
    stats: TripleStats | None = None,
    decode: bool = False,
) -> DataFrame:
    """Compile a parsed BGP to a DataFrame plan (bag semantics, like the
    reference — SURVEY.md §2.3; ``distinct`` only when the query asks)."""
    if query.describe_term is not None or query.describe_var is not None:
        if query.describe_term is not None:
            # DESCRIBE <const> → every triple with the term as subject or
            # object: one filtered scan of the open store (an OR predicate
            # — both branches prune via parquet min-max).
            tid = store.resolve(query.describe_term)
            plan = store.triples.where((F.col("s") == tid) | (F.col("o") == tid)).select(
                "s", "p", "o"
            )
        else:
            # DESCRIBE ?v WHERE { … } → the DISTINCT matched terms, then
            # every triple touching any of them.
            body = dataclasses.replace(
                query, describe_var=None, text=query.text
            )
            # localCheckpoint: every consumer below reads this frame ≥2
            # times (inline probe + scan, or two semi joins) and Spark has
            # no automatic subtree reuse across join branches — without
            # materialization the arbitrarily expensive body runs per use
            terms = (
                translate(store, body, stats, decode=False)
                .select(F.col(query.describe_var).alias("__dterm"))
                .distinct()
                .localCheckpoint()
            )
            t = store.triples
            # Small term sets (the common DESCRIBE shape: a handful of
            # matched entities) inline as literal IN lists → ONE scan of
            # the open store with a pushdown-able OR-of-INs predicate, no
            # join, no shuffle.  The probe is bounded (collects at most
            # _DESCRIBE_INLINE_MAX+1 ids from the already-materialized
            # term frame; ≤ 8 KB of longs rides the task closure).  Past
            # the gate: TWO equi semi joins unioned, NOT one OR-predicate
            # join — an OR join condition defeats hash joins (nested-loop
            # at scale), while each semi join hash/broadcasts the
            # (distinct) term set.  Both paths end in a distinct: the
            # derived triple union has bag duplicates (DICT_SQL note on
            # lineitem entity-id collisions), and a triple matched through
            # both slots would otherwise double under the union path.
            probe = terms.limit(_DESCRIBE_INLINE_MAX + 1).collect()
            if len(probe) <= _DESCRIBE_INLINE_MAX:
                ids = [r["__dterm"] for r in probe]
                plan = (
                    t.where(F.col("s").isin(ids) | F.col("o").isin(ids))
                    .select("s", "p", "o")
                    .distinct()
                )
            else:
                sem_s = t.join(terms, F.col("s") == F.col("__dterm"), "left_semi")
                sem_o = t.join(terms, F.col("o") == F.col("__dterm"), "left_semi")
                plan = sem_s.unionByName(sem_o).select("s", "p", "o").distinct()
        if decode:
            plan = _decode_slots(plan, store, ("s", "p", "o")).select("s", "p", "o")
        return plan
    if query.ask:
        # ASK → does any binding exist: compile the body as usual, keep one
        # row at most (limit(1) lets Spark stop at the first match), count.
        inner = translate(store, dataclasses.replace(query, ask=False), stats, decode=False)
        return (
            inner.select(F.lit(1).alias("__one"))
            .limit(1)
            .agg((F.count("__one") > 0).alias("ask_result"))
        )
    if query.construct_template:
        # CONSTRUCT → one (s,p,o) row per template pattern per body
        # binding: compile the body once, project each template triple from
        # it, bag-union.  Constants resolve to dictionary ids like pattern
        # constants do; decode=True renders lexicals via the dict join.
        inner = translate(
            store, dataclasses.replace(query, construct_template=[]), stats, decode=False
        )

        def term_col(t):
            return F.col(t.var) if t.is_var else F.lit(store.resolve(t.lexical))

        # ONE body execution for the whole template: a per-row array of
        # (s,p,o) structs exploded map-side.  A union of k per-template
        # projections would execute the (arbitrarily expensive) body k
        # times — Spark has no automatic subtree reuse across union
        # branches; the explode makes template fan-out a free generator.
        # SPARQL spec: a template triple containing an UNBOUND variable
        # (possible when the body has OPTIONAL groups) is omitted from the
        # constructed graph, not emitted with NULLs.
        structs = F.array(
            *[
                F.struct(
                    term_col(c.subj).cast("long").alias("s"),
                    term_col(c.pred).cast("long").alias("p"),
                    term_col(c.obj).cast("long").alias("o"),
                )
                for c in query.construct_template
            ]
        )
        plan = (
            inner.select(F.explode(structs).alias("__t"))
            .select("__t.s", "__t.p", "__t.o")
            .where(F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull())
        )
        if decode:
            plan = _decode_slots(plan, store, ("s", "p", "o")).select("s", "p", "o")
        return plan
    if query.union_branches:
        # { BGP } union { BGP }: translate each branch independently, pad
        # unbound projection variables with NULL (SPARQL union semantics),
        # and bag-union — the reference's O7 union generalized to
        # heterogeneous branches.
        branches = []
        for grp in query.union_branches:
            bplan, bvars = _join_group(store, grp, stats)
            branches.append(
                bplan.select(
                    *[
                        F.col(v) if v in bvars else F.lit(None).cast("long").alias(v)
                        for v in query.projection
                    ]
                )
            )
        plan = branches[0]
        for b in branches[1:]:
            plan = plan.unionByName(b)
        bound = set(query.projection)
    else:
        plan, bound = _join_group(store, query.conditions, stats, use_dp=True)

    # SPARQL 1.1 subquery: compile the inner SELECT independently (its own
    # join order, aggregation, limits) and inner-join it on the shared
    # projected variables.  Inner aggregate aliases surface as plain
    # columns.  The inner result is #groups-sized after its aggregation,
    # so Catalyst/AQE typically broadcasts it into this join.
    if query.subquery is not None:
        if decode and query.subquery.aggregates:
            raise ValueError(
                "decode=True over an aggregating subquery is not supported "
                "(aggregate counts are not dictionary ids)"
            )
        sub = translate(store, query.subquery, stats, decode=False)
        shared = sorted(bound & set(query.subquery.projection))
        # the common analytic shape joins the #groups-sized aggregate with
        # ONE dimension-like outer pattern: that pattern's exact edge count
        # bounds the outer side, so hint the broadcast the same way
        # _join_group does (a multi-pattern outer group has no cheap exact
        # bound — joins can multiply — so it takes the keyed join)
        if (
            not query.union_branches
            and len(query.conditions) == 1
            and _bcast_pattern_ok(stats, store, query.conditions[0])
        ):
            plan = F.broadcast(plan)
        plan = plan.join(sub, on=shared)
        bound |= set(query.subquery.projection)

    # OPTIONAL groups: each is a mini-BGP joined internally, then LEFT
    # OUTER joined onto the required part on the shared variables — the
    # standard SPARQL-OPTIONAL → left-join lowering.  Nested groups
    # (optional_parent[i] >= 0) left-join INSIDE their parent first —
    # LeftJoin(A, LeftJoin(B, …)) — and the assembled parent then joins
    # the required part; the parser's scoping guard ensures every
    # child/base shared variable also occurs in the parent chain, so the
    # inner equi-join keys are never NULL.
    parents = (
        query.optional_parent
        if len(query.optional_parent) == len(query.optionals)
        else [-1] * len(query.optionals)
    )
    child_idx: dict[int, list[int]] = {}
    for ci, pi in enumerate(parents):
        child_idx.setdefault(pi, []).append(ci)

    def _build_optional(gi: int):
        """(plan, bound vars, cross filters) of group gi with all its
        descendants already left-joined in."""
        gplan, gbound = _join_group(store, query.optionals[gi], stats)
        gflts = (
            query.optional_filters[gi] if gi < len(query.optional_filters) else []
        )
        local = [f for f in gflts if all(v in gbound for v in f.refs())]
        cross = [f for f in gflts if f not in local]
        gplan = _apply_filters(gplan, local, store, tag=f"o{gi}_")
        for ci in child_idx.get(gi, []):
            cplan, cbound, ccross = _build_optional(ci)
            if ccross:
                raise ValueError(
                    "filters referencing variables outside a nested optional "
                    "group are not supported"
                )
            shared_c = sorted(gbound & cbound)
            gplan = (
                gplan.join(cplan, on=shared_c, how="left")
                if shared_c
                else gplan.crossJoin(cplan)
            )
            gbound = gbound | cbound
        return gplan, gbound, cross

    for gi in child_idx.get(-1, []):
        # group FILTERs — the SPARQL LeftJoin(P1, P2, E) condition:
        # - E over group-local vars applies INSIDE the group BEFORE the
        #   left join (shared vars agree under the equi-join, so
        #   pre-filtering is exact and cheaper);
        # - E referencing OUTER vars becomes part of the JOIN CONDITION
        #   itself — a left row where E fails for every compatible group
        #   row keeps NULL group columns (a post-join filter would drop it)
        gplan, gbound, cross = _build_optional(gi)
        shared = sorted(bound & gbound)
        if not cross:
            plan = plan.join(gplan, on=shared, how="left") if shared else plan.crossJoin(gplan)
        else:
            # rename the shared columns on the group side so the join
            # condition (and the cross filter exprs) reference each side
            # unambiguously; the originals keep the outer value, which
            # equals the group value whenever the join matched
            ren = {v: f"__og{gi}_{v}" for v in shared}
            g2 = gplan
            for v, rv in ren.items():
                g2 = g2.withColumnRenamed(v, rv)
            cond = F.lit(True)
            for v, rv in ren.items():
                cond = cond & (F.col(v) == F.col(rv))
            for f in cross:
                # parser guarantees cmp/arith only, and no BIND alias exists
                # yet at join time; a shared group var reference resolves
                # to the OUTER column (equal under the equi-conjunct
                # whenever the row matches)
                cond = cond & _row_pred(f, store, frozenset())
            plan = plan.join(g2, cond, "left")
            for rv in ren.values():
                plan = plan.drop(rv)
        bound |= gbound

    # MINUS groups: anti join on the shared variables — rows with a
    # compatible binding in the minus pattern are removed (parser
    # guarantees ≥1 shared variable, so this matches SPARQL MINUS).
    # FILTER [NOT] EXISTS groups: semi/anti join on the shared variables.
    # Left bag multiplicity is preserved (semi joins never duplicate), group
    # variables never bind into the solution — exactly SPARQL's EXISTS
    # filter over our correlated subset (parser guarantees ≥1 shared var).
    filter_groups = [("left_anti", grp) for grp in query.minuses] + [
        ("left_semi" if positive else "left_anti", grp) for positive, grp in query.exists_groups
    ]
    for how, grp in filter_groups:
        gplan, gbound = _join_group(store, grp, stats)
        shared = sorted(bound & gbound)
        plan = plan.join(gplan.select(*shared), on=shared, how=how)

    # BIND clauses: pure projections — a column alias, a resolved constant
    # literal, or a typed-numeric-value arithmetic expression (the alias
    # then carries a plain number; id arithmetic remains out of scope).
    # Applied BEFORE filters so a filter may reference a bind alias.
    for kind, src, alias in query.binds:
        if kind == "arith":
            var, op, num = src
            col = F.expr(f"({numeric_value_sql(var)} {op} {num})")
        elif kind == "if":
            # numeric conditional over the typed value — shared fragment,
            # identical string in the oracle (triples.if_numeric_sql)
            col = F.expr(if_numeric_sql(*src))
        elif kind == "arith2":
            # two-variable arithmetic: (num(a) op num(b)), plain number out
            va, op2, vb = src
            col = F.expr(arith2_sql(va, op2, vb))
        elif kind == "coalesce":
            # first non-NULL id column (SPARQL COALESCE over bound vars) —
            # row-local, codegen-able, no join
            col = F.coalesce(*[F.col(v) for v in src])
        elif kind == "concat":
            # CONCAT/STR: decode each variable argument via ONE left dict
            # join (BIND never drops rows), concatenate lexicals and
            # literals.  An unbound argument leaves its lexical NULL and
            # Spark concat() NULL-propagates — exactly SPARQL's CONCAT
            # type-error contract (alias unbound for that row).  The
            # alias carries a STRING (ParsedQuery.string_bind_aliases).
            parts, tmp_cols, seen = [], [], {}
            for t, v in src:
                if t == "l":
                    parts.append(F.lit(v))
                    continue
                if v not in seen:
                    tmpc = f"__bs_{alias}_{v}"
                    lex = _dict_lex(store, v, tmpc)
                    plan = plan.join(lex, on=v, how="left")
                    seen[v] = tmpc
                    tmp_cols.append(tmpc)
                parts.append(F.col(seen[v]))
            plan = plan.withColumn(alias, F.concat(*parts)).drop(*tmp_cols)
            bound.add(alias)
            continue
        else:
            col = F.col(src) if kind == "var" else F.lit(store.resolve(src)).cast("long")
        plan = plan.withColumn(alias, col)
        bound.add(alias)

    # FILTER clauses: id-level comparisons stay on the encoded longs (the
    # dictionary is a bijection, so =/!= on ids ≡ on lexicals); regex
    # filters decode just the one column via a dict equi-join, then drop it.
    arith_bind_aliases = query.numeric_bind_aliases()
    plan = _apply_filters(plan, query.filters, store, numeric_cols=arith_bind_aliases)

    # Aggregate projection: groupBy + count/count-distinct — Catalyst plans
    # partial aggregation, so only #groups rows shuffle.
    if query.aggregates:
        # group_concat emits DECODED lexicals: join the dict onto each
        # concatenated variable BEFORE grouping (one broadcast-able join per
        # distinct gc var; the dictionary is the small side by construction)
        gc_vars = sorted({a.var for a in query.aggregates if a.fn == "group_concat"})
        for v in gc_vars:
            lex = _dict_lex(store, v, f"__gc_{v}")
            plan = plan.join(lex, on=v, how="left")

        def _agg_col(a):
            if a.fn == "min":
                return F.min(a.var).alias(a.alias)
            if a.fn == "max":
                return F.max(a.var).alias(a.alias)
            if a.fn in ("sum", "avg"):
                # typed numeric aggregation: the term's NUMERIC VALUE
                # (non-numeric → NULL, skipped by both engines).  avg is
                # pinned to exact-int sum ÷ exact-int count in DOUBLE so
                # Spark and DuckDB divide identical operands (a native AVG
                # could accumulate differently in the last ulp).  An
                # arithmetic BIND alias ALREADY holds the plain number —
                # wrapping it again would window-test the value and NULL
                # every row (identically on both engines, oracle-blind)
                if a.var in arith_bind_aliases:
                    val = F.col(a.var)
                else:
                    val = F.expr(numeric_value_sql(a.var))
                if a.fn == "sum":
                    return F.sum(val).alias(a.alias)
                return (
                    F.when(
                        F.count(val) > 0,
                        F.sum(val).cast("double") / F.count(val).cast("double"),
                    ).alias(a.alias)
                )
            if a.fn == "sample":
                # deterministic SAMPLE: MIN over the ids (see plans/sparql.py)
                return F.min(a.var).alias(a.alias)
            if a.fn == "group_concat":
                # sorted-ascending join with "," — the engine's determinism
                # contract; NULL (not "") for all-unbound groups, matching
                # SQL string_agg over zero non-null inputs
                arr = F.array_sort(F.collect_list(f"__gc_{a.var}"))
                return (
                    F.when(F.size(arr) > 0, F.array_join(arr, a.sep))
                    .otherwise(F.lit(None))
                    .alias(a.alias)
                )
            return (
                F.countDistinct(a.var)
                if a.distinct and a.var is not None
                else F.count(F.col(a.var) if a.var is not None else F.lit(1))
            ).alias(a.alias)

        aggs = [_agg_col(a) for a in query.aggregates]
        # HAVING: filter on an existing aggregate column when the having
        # expression matches one, else compute it as a hidden extra column
        # (Catalyst still plans ONE partial aggregation for all of them)
        having_col = None
        if query.having is not None:
            ha, hop, hval = query.having
            same = next(
                (
                    a
                    for a in query.aggregates
                    if (a.fn, a.var, a.distinct) == (ha.fn, ha.var, ha.distinct)
                ),
                None,
            )
            having_col = same.alias if same is not None else ha.alias
            if same is None:
                aggs.append(_agg_col(ha))
        plan = plan.groupBy(*query.group_by).agg(*aggs)
        if having_col is not None:
            plan = plan.where(_compare(F.col(having_col), hop, hval))
        if decode:
            # decode the (id-valued) group columns only — counts pass through
            plan = _decode_slots(plan, store, query.group_by)
        return _finish(plan.select(*query.projection), query)

    if decode:
        arith_aliases = query.numeric_bind_aliases()
        if arith_aliases & set(query.projection):
            raise ValueError(
                "decode=True over arithmetic BIND aliases is not supported: "
                f"{sorted(arith_aliases & set(query.projection))} carry plain "
                "numbers with no dictionary entry"
            )
        str_aliases = query.string_bind_aliases()
        if str_aliases & set(query.projection):
            raise ValueError(
                "decode=True over string BIND aliases is not supported: "
                f"{sorted(str_aliases & set(query.projection))} are already "
                "decoded strings with no dictionary entry"
            )
        # Final dictionary decode — the id2name step (reference Proxy.c:211-224).
        # Melt the k projected id columns into (row, slot, id), decode with
        # ONE dict join, and pivot back.  The dictionary side is the one
        # _dict_lex size-gates into a broadcast.  One join per column
        # (_decode_slots) measured worse on the benchmark's decoded lookup
        # star (one traced pair, seed 11, 4 cores): 7 jobs and 28 tasks
        # instead of 6 and 21, translate 0.74 s instead of 0.40 s and
        # execution 0.72 s instead of 0.62 s.
        proj = query.projection
        # rid must be assigned BEFORE the explode (a generator re-evaluates
        # sibling expressions per output row)
        plan = plan.select(F.monotonically_increasing_id().alias("__rid"), *proj)
        plan = plan.select(
            "__rid",
            F.posexplode(F.array(*[F.col(v) for v in proj])).alias("__slot", "__id"),
        )
        dec = plan.join(
            _dict_lex(store, "__id", "lexical"),
            on="__id",
            how="left",
        )
        plan = dec.groupBy("__rid").agg(
            *[
                F.max(F.when(F.col("__slot") == i, F.col("lexical"))).alias(v)
                for i, v in enumerate(proj)
            ]
        ).select(*proj)
    else:
        plan = plan.select(*query.projection)
    if query.distinct:
        plan = plan.distinct()
    return _finish(plan, query)


def _finish(plan: DataFrame, query: ParsedQuery) -> DataFrame:
    """The solution-modifier tail: ORDER BY, then OFFSET, then LIMIT."""
    if query.order:
        plan = plan.orderBy(
            *[F.col(v).desc() if desc else F.col(v).asc() for v, desc in query.order]
        )
    if query.offset is not None:
        plan = plan.offset(query.offset)
    if query.limit is not None:
        plan = plan.limit(query.limit)
    return plan
