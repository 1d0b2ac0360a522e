"""Generate DuckDB oracle SQL for a BGP query.

The correctness driver runs the engine's DataFrame plan AND an independent
ANSI-SQL formulation side-by-side (see __spark_entry__.py).  This module
renders a parsed BGP as a plain self-join SQL statement over a ``triples``
CTE (the shared TRIPLES_SQL derivation), executed by DuckDB's own optimizer —
a genuinely independent evaluation path from the Spark translator.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from dream_spark.plans.sparql import ParsedQuery, strslice_sql
from dream_spark.sources.triples import (
    DICT_SQL,
    TRIPLES_SQL,
    arith2_sql,
    UNKNOWN_ID,
    arith_filter_sql,
    if_numeric_sql,
    numeric_value_sql,
    resolve_lexical,
)


def _default_resolver(lexical: str) -> int:
    rid = resolve_lexical(lexical)
    if rid is None:
        # mirror the store: an unknown term resolves to the shared
        # sentinel (matches nothing, unequal to every bound id) so both
        # engines answer identically instead of raising
        return UNKNOWN_ID
    return rid


def _render_block(conditions, resolve, alias_start: int) -> tuple[list[str], list[str], dict[str, str]]:
    """Flat comma-join block for one pattern group: (table aliases, where
    predicates, var -> first binding slot).  ``pred+`` patterns scan the
    predicate's recursive-closure CTE (two columns, no p slot)."""
    first_slot: dict[str, str] = {}
    where: list[str] = []
    aliases: list[str] = []
    for i, cond in enumerate(conditions, start=alias_start):
        t = f"t{i}"
        if cond.pred.is_path_closure:
            pids = _pred_pids(cond.pred, resolve)
            ptag = "_".join(str(x) for x in pids)
            if cond.pred.is_transitive:
                cte = f"closure_{ptag}"
            else:
                # a constant endpoint takes the ANCHORED variant: its
                # identity side is the constants' self-pairs (ZeroLengthPath
                # binds a constant whether or not it occurs in the graph,
                # SPARQL 1.1 §18.4), not the graph_nodes frame — mirrors
                # translator._identity_domain's literal-row domain
                anch = "" if cond.subj.is_var and cond.obj.is_var else "_anch"
                base = "pathstar" if cond.pred.is_zero_or_more else "pathopt"
                cte = f"{base}_{ptag}{anch}"
            aliases.append(f"{cte} {t}")
            slot_terms = (("s", cond.subj), ("o", cond.obj))
        elif cond.pred.is_inverse:
            # ?x ^p ?y ≡ ?y p ?x: swap the slot bindings, keep one scan
            aliases.append(f"triples {t}")
            slot_terms = (("s", cond.obj), ("p", cond.pred), ("o", cond.subj))
        else:
            aliases.append(f"triples {t}")
            slot_terms = (("s", cond.subj), ("p", cond.pred), ("o", cond.obj))
        for slot, term in slot_terms:
            ref = f"{t}.{slot}"
            if term.is_var:
                if term.var in first_slot:
                    where.append(f"{ref} = {first_slot[term.var]}")
                else:
                    first_slot[term.var] = ref
            elif slot == "p" and term.is_negated:
                ids = ", ".join(str(resolve(x)) for x in term.alternatives)
                where.append(f"{ref} NOT IN ({ids})")
            elif slot == "p" and term.is_alternation:
                ids = ", ".join(str(resolve(x)) for x in term.alternatives)
                where.append(f"{ref} IN ({ids})")
            else:
                where.append(f"{ref} = {resolve(term.lexical)}")
    return aliases, where, first_slot


def _pred_pids(pred, resolve) -> tuple[int, ...]:
    """The sorted pid tuple of a (possibly alternation-group) predicate —
    a 1-tuple for plain ``p``, the union set for ``(p1|p2)+``."""
    if pred.is_alternation:
        return tuple(sorted(resolve(x) for x in pred.alternatives))
    return (resolve(pred.lexical),)


def _path_pids(
    query: ParsedQuery, resolve
) -> tuple[
    list[tuple[int, ...]],
    list[tuple[int, ...]],
    list[tuple[int, ...]],
    dict[tuple[int, ...], list[int]],
    dict[tuple[int, ...], list[int]],
]:
    """(closure pid-tuples for + and *, var-var ZeroOrMore tuples, var-var
    ZeroOrOne tuples, anchored-star consts by pids, anchored-opt consts by
    pids) across every pattern group of the query.  Tuples, not ints: an
    alternation-closure group ``(p1|p2)+`` closes over the UNION edge set,
    one CTE per distinct predicate set.  A */? pattern with a CONSTANT
    endpoint is "anchored": its zero-length identity side is the
    constants' self-pairs rather than graph_nodes (ZeroLengthPath binds a
    constant endpoint unconditionally, SPARQL 1.1 §18.4), so anchored and
    var-var uses of the same predicate need SEPARATE CTEs.  OOV constants
    (UNKNOWN_ID) are excluded from the self-pair injection — the sentinel
    is shared across unknown terms (see translator._identity_domain)."""
    plus: set[tuple[int, ...]] = set()
    star: set[tuple[int, ...]] = set()
    opt: set[tuple[int, ...]] = set()
    star_anch: dict[tuple[int, ...], set[int]] = {}
    opt_anch: dict[tuple[int, ...], set[int]] = {}
    groups = list(query.union_branches or [query.conditions])
    exists = [grp for _, grp in query.exists_groups]
    for grp in groups + list(query.optionals) + list(query.minuses) + exists:
        for c in grp:
            if not c.pred.is_path_closure:
                continue
            pids = _pred_pids(c.pred, resolve)
            if c.pred.is_transitive:
                plus.add(pids)
                continue
            consts = {
                resolve(t.lexical)
                for t in (c.subj, c.obj)
                if not t.is_var
            } - {UNKNOWN_ID}
            anch = star_anch if c.pred.is_zero_or_more else opt_anch
            plain = star if c.pred.is_zero_or_more else opt
            if c.subj.is_var and c.obj.is_var:
                plain.add(pids)
            else:
                anch.setdefault(pids, set()).update(consts)
    return (
        sorted(plus | star | set(star_anch)),
        sorted(star),
        sorted(opt),
        {k: sorted(v) for k, v in star_anch.items()},
        {k: sorted(v) for k, v in opt_anch.items()},
    )


def _ctes(query: ParsedQuery, resolve, needs_dict: bool) -> str:
    """The WITH clause: triples, one recursive closure CTE per +/* path
    predicate (SPARQL OneOrMorePath = UNION-distinct reachability), the
    graph-node identity CTE plus a pathstar_/pathopt_ union CTE per */?
    path predicate (ZeroOrMorePath / ZeroOrOnePath — zero-length paths
    match every graph node to itself), and the dict when decoding."""
    closure_pids, star_pids, opt_pids, star_anch, opt_anch = _path_pids(query, resolve)
    parts = [f"triples AS (\n{TRIPLES_SQL}\n)"]
    for pids in closure_pids:
        ptag = "_".join(str(x) for x in pids)
        pcond = f"= {pids[0]}" if len(pids) == 1 else f"IN ({', '.join(map(str, pids))})"
        parts.append(
            f"closure_{ptag}(s, o) AS (\n"
            f"  SELECT s, o FROM triples WHERE p {pcond}\n"
            f"  UNION\n"
            f"  SELECT c.s, t.o FROM closure_{ptag} c JOIN triples t ON t.p {pcond} AND t.s = c.o\n"
            f")"
        )
    # DISTINCT-over-UNION-ALL, not bare UNION: DuckDB 1.0 evaluates the
    # set-UNION of a NON-recursive CTE inside a WITH RECURSIVE clause as
    # UNION ALL (dedup silently skipped), so the identity rows would
    # duplicate once per graph occurrence
    if star_pids or opt_pids:
        parts.append(
            "graph_nodes(n) AS (\n"
            "  SELECT DISTINCT n FROM (SELECT s AS n FROM triples UNION ALL SELECT o FROM triples)\n"
            ")"
        )
    # disjoint UNION ALL (no outer dedup): identity holds every self-pair,
    # so the closure/edge side drops its self-loops — mirrors the Spark plan
    for pids in star_pids:
        ptag = "_".join(str(x) for x in pids)
        parts.append(
            f"pathstar_{ptag}(s, o) AS (\n"
            f"  SELECT s, o FROM closure_{ptag} WHERE s <> o\n"
            f"  UNION ALL SELECT n, n FROM graph_nodes\n"
            f")"
        )
    for pids in opt_pids:
        # grammar: */? carry a single predicate (groups are +-only; the
        # parser rejects `(p1|p2)?`) — but enforce it HERE too so an
        # unsupported shape that ever slips through dies diagnosably
        # instead of as a bare unpack ValueError (r6 ADVICE)
        if len(pids) != 1:
            raise NotImplementedError(
                f"alternation with '?' is not supported (predicates {pids})"
            )
        (pid,) = pids
        parts.append(
            f"pathopt_{pid}(s, o) AS (\n"
            f"  SELECT DISTINCT s, o FROM triples WHERE p = {pid} AND s <> o\n"
            f"  UNION ALL SELECT n, n FROM graph_nodes\n"
            f")"
        )
    # anchored variants: the identity side is the anchoring constants'
    # self-pairs only — the pattern's own constant filter drops every
    # other identity row anyway, and a constant binds whether or not it
    # is a graph node (mirrors translator._identity_domain)
    for pids, consts in sorted(star_anch.items()):
        ptag = "_".join(str(x) for x in pids)
        ident = "".join(f"  UNION ALL SELECT {c}, {c}\n" for c in consts)
        parts.append(
            f"pathstar_{ptag}_anch(s, o) AS (\n"
            f"  SELECT s, o FROM closure_{ptag} WHERE s <> o\n"
            f"{ident})"
        )
    for pids, consts in sorted(opt_anch.items()):
        if len(pids) != 1:
            raise NotImplementedError(
                f"alternation with '?' is not supported (predicates {pids})"
            )
        (pid,) = pids
        ident = "".join(f"  UNION ALL SELECT {c}, {c}\n" for c in consts)
        parts.append(
            f"pathopt_{pid}_anch(s, o) AS (\n"
            f"  SELECT DISTINCT s, o FROM triples WHERE p = {pid} AND s <> o\n"
            f"{ident})"
        )
    if needs_dict:
        parts.append(f"dict AS (\n{DICT_SQL}\n)")
    kw = "WITH RECURSIVE" if closure_pids else "WITH"
    return f"{kw} " + ",\n".join(parts)


def _str_filter_sql(f, lex_ref: str) -> str:
    """One str/strlen filter as a DuckDB predicate over an already-joined
    lexical column — independent rendering of the SPARQL string functions
    (contains/starts_with/ends_with are DuckDB's literal string tests, not
    regex, matching the Spark Column.contains/startswith/endswith)."""
    if f.kind == "strlen":
        return f"LENGTH({lex_ref}) {'<>' if f.op == '!=' else f.op} {f.rhs_num}"
    lit = f.pattern.replace("'", "''")
    if f.op in ("ucase", "lcase"):
        fn = "upper" if f.op == "ucase" else "lower"
        cmp = "<>" if f.lhs_op == "!=" else "="
        return f"{fn}({lex_ref}) {cmp} '{lit}'"
    if f.op == "substr":
        args = f"{lex_ref}, {f.lhs_num}" + (
            f", {f.rhs_num}" if f.rhs_num is not None else ""
        )
        cmp = "<>" if f.lhs_op == "!=" else "="
        return f"substr({args}) {cmp} '{lit}'"
    if f.op == "replace":
        # DuckDB regexp_replace is first-match-only by default; the 'g'
        # flag restores SPARQL/Spark's replace-every-match semantics
        pat = f.pattern.replace("'", "''")
        rep = f.rhs_var.replace("'", "''")
        tgt = f.rhs_const.replace("'", "''")
        cmp = "<>" if f.lhs_op == "!=" else "="
        return f"regexp_replace({lex_ref}, '{pat}', '{rep}', 'g') {cmp} '{tgt}'"
    if f.op in ("strbefore", "strafter"):
        # the separator rides in f.pattern; the comparison target in
        # f.rhs_const — the extraction is the SHARED fragment the Spark
        # plan applies via F.expr (plans/sparql.strslice_sql)
        cmp = "<>" if f.lhs_op == "!=" else "="
        tgt = f.rhs_const.replace("'", "''")
        return f"{strslice_sql(f.op, lex_ref, f.pattern)} {cmp} '{tgt}'"
    fn = {"contains": "contains", "strstarts": "starts_with", "strends": "ends_with"}[f.op]
    return f"{fn}({lex_ref}, '{lit}')"


def _simple_filter_sql(f, ref, resolve, numeric_aliases=frozenset()) -> str:
    """One cmp / arith / bound / in / boolop filter as one SQL predicate; ``ref``
    maps a variable name to its column reference (regex is rendered by the
    callers, which own the dict join).  ``numeric_aliases`` lists columns
    that ALREADY hold plain numbers (arithmetic BIND aliases) — arith
    filters over them skip the id→value wrap, like the Spark side."""
    if f.kind == "bound":
        return f"{ref(f.var)} IS {'NULL' if f.op == '!' else 'NOT NULL'}"
    if f.kind == "isnum":
        # unbound argument = type error (NULL), mirroring the Spark side —
        # see translator._row_pred's isnum branch
        val = (
            ref(f.var)
            if f.var in numeric_aliases
            else numeric_value_sql(ref(f.var))
        )
        return (
            f"(CASE WHEN {ref(f.var)} IS NULL THEN NULL "
            f"ELSE {val} IS {'NULL' if f.op == '!' else 'NOT NULL'} END)"
        )
    if f.kind == "arith":
        # identical shared fragment the Spark plan applies via F.expr
        return arith_filter_sql(
            ref(f.var), f.lhs_op, f.lhs_num, f.op, f.rhs_num,
            wrap=f.var not in numeric_aliases,
        )
    if f.kind == "arith2":
        expr = arith2_sql(
            ref(f.var), f.lhs_op, ref(f.rhs_var),
            wrap_a=f.var not in numeric_aliases,
            wrap_b=f.rhs_var not in numeric_aliases,
        )
        if f.abs_fn:  # abs(?a op ?b) — same fragment as the Spark plan
            expr = f"abs({expr})"
        return f"{expr} {'<>' if f.op == '!=' else f.op} {f.rhs_num}"
    if f.kind == "in":
        ids = ", ".join(str(resolve(c)) for c in f.consts)
        return f"{ref(f.var)} {'NOT ' if f.op == '!' else ''}IN ({ids})"
    if f.kind == "boolop":
        # ||/&&/! over row-local parts: SQL OR/AND/NOT three-valued logic
        # over an unbound (NULL) operand matches SPARQL §17.2 error
        # handling (NOT NULL-the-value stays NULL → the row drops)
        if f.op == "!":
            return (
                "(NOT "
                + _simple_filter_sql(f.parts[0], ref, resolve, numeric_aliases=numeric_aliases)
                + ")"
            )
        conn = " OR " if f.op == "||" else " AND "
        return (
            "("
            + conn.join(
                _simple_filter_sql(p, ref, resolve, numeric_aliases=numeric_aliases)
                for p in f.parts
            )
            + ")"
        )
    assert f.kind == "cmp", f.kind
    rhs = ref(f.rhs_var) if f.rhs_var is not None else str(resolve(f.rhs_const))
    op = {"=": "=", "!=": "<>"}.get(f.op, f.op)
    return f"{ref(f.var)} {op} {rhs}"


def _extended_sql(query: ParsedQuery, decode: bool, resolve) -> str:
    """Rendering path for FILTER/OPTIONAL queries: the required BGP and each
    optional group become flat subqueries composed with explicit LEFT JOINs,
    filters apply in the outer WHERE — mirroring the translator's left-join
    lowering and post-join filter placement."""
    aliases, where, first_slot = _render_block(query.conditions, resolve, 1)
    base_vars = list(first_slot)
    base_sel = ", ".join(f"{first_slot[v]} AS {v}" for v in base_vars)
    base_where = " AND ".join(where) if where else "TRUE"
    base = f"SELECT {base_sel} FROM {', '.join(aliases)} WHERE {base_where}"

    src: dict[str, str] = {v: "b" for v in base_vars}
    joins: list[str] = []
    astart = len(query.conditions) + 1
    if query.subquery is not None:
        # the inner SELECT renders through the same entry point (its own
        # WITH block is legal inside a join subquery) — a genuinely
        # independent evaluation of the nested query
        inner_sub = bgp_to_sql(query.subquery, decode=False, resolver=resolve)
        shared = [v for v in query.subquery.projection if v in src]
        on = " AND ".join(f"{src[v]}.{v} = sub.{v}" for v in shared) or "TRUE"
        joins.append(f"JOIN (\n{inner_sub}\n) sub ON {on}")
        for v in query.subquery.projection:
            src.setdefault(v, "sub")
    # nested OPTIONAL: children render INSIDE their parent's subquery as a
    # LEFT JOIN on the group-shared variables (LeftJoin(A, LeftJoin(B, …)))
    # — mirrors the translator's recursive assembly
    opt_parents = (
        query.optional_parent
        if len(query.optional_parent) == len(query.optionals)
        else [-1] * len(query.optionals)
    )
    opt_children: dict[int, list[int]] = {}
    for ci, pi in enumerate(opt_parents):
        opt_children.setdefault(pi, []).append(ci)
    g_starts: list[int] = []
    for grp in query.optionals:
        g_starts.append(astart)
        astart += len(grp)

    def _render_group(gi: int) -> tuple[str, list[str], list]:
        """(subquery SQL, exported variables, cross filters) of optional
        group gi with all descendants left-joined in."""
        k = gi + 1
        g_aliases, g_where, g_slot = _render_block(query.optionals[gi], resolve, g_starts[gi])
        # group FILTERs — LeftJoin(P1, P2, E): group-local forms render
        # INSIDE the subquery (before the left join); forms referencing
        # outer variables render into the ON clause itself — mirrors the
        # translator's two-way lowering
        gflts = query.optional_filters[gi] if gi < len(query.optional_filters) else []
        local = [f for f in gflts if all(v in g_slot for v in f.refs())]
        cross = [f for f in gflts if f not in local]
        for j, f in enumerate(local):
            if f.kind == "regex":
                g_aliases.append(f"dict gfr{k}_{j}")
                g_where.append(f"gfr{k}_{j}.id = {g_slot[f.var]}")
                g_where.append(f"regexp_matches(gfr{k}_{j}.lexical, '{f.pattern}')")
            elif f.kind in ("str", "strlen"):
                g_aliases.append(f"dict gfs{k}_{j}")
                g_where.append(f"gfs{k}_{j}.id = {g_slot[f.var]}")
                g_where.append(_str_filter_sql(f, f"gfs{k}_{j}.lexical"))
            else:
                g_where.append(_simple_filter_sql(f, lambda v: g_slot[v], resolve))
        g_vars = list(g_slot)
        g_sel = ", ".join(f"{g_slot[v]} AS {v}" for v in g_vars)
        g_where_sql = " AND ".join(g_where) if g_where else "TRUE"
        sql_g = f"SELECT {g_sel} FROM {', '.join(g_aliases)} WHERE {g_where_sql}"
        for ci in opt_children.get(gi, []):
            c_sql, c_vars, c_cross = _render_group(ci)
            if c_cross:
                raise ValueError(
                    "filters referencing variables outside a nested optional "
                    "group are not supported"
                )
            shared_c = [v for v in c_vars if v in g_vars]
            on_c = " AND ".join(f"gp{gi}.{v} = gc{ci}.{v}" for v in shared_c) or "TRUE"
            new_vars = [v for v in c_vars if v not in g_vars]
            sel = ", ".join(
                [f"gp{gi}.{v} AS {v}" for v in g_vars]
                + [f"gc{ci}.{v} AS {v}" for v in new_vars]
            )
            sql_g = (
                f"SELECT {sel} FROM (\n{sql_g}\n) gp{gi} "
                f"LEFT JOIN (\n{c_sql}\n) gc{ci} ON {on_c}"
            )
            g_vars = g_vars + new_vars
        return sql_g, g_vars, cross

    for gi in opt_children.get(-1, []):
        k = gi + 1
        sql_g, g_vars, cross = _render_group(gi)
        shared = [v for v in g_vars if v in src]
        on_parts = [f"{src[v]}.{v} = g{k}.{v}" for v in shared]
        for f in cross:
            # group vars reference the subquery alias, outer vars their
            # original binder (parser guarantees cmp/arith only here)
            on_parts.append(
                _simple_filter_sql(
                    f,
                    lambda v: f"g{k}.{v}" if v in g_vars and v not in src else f"{src[v]}.{v}",
                    resolve,
                )
            )
        on = " AND ".join(on_parts) or "TRUE"
        joins.append(f"LEFT JOIN (\n{sql_g}\n) g{k} ON {on}")
        for v in g_vars:
            src.setdefault(v, f"g{k}")

    filt_where: list[str] = []
    for grp in query.minuses:
        g_aliases, g_where, g_slot = _render_block(grp, resolve, astart)
        astart += len(grp)
        shared = [v for v in g_slot if v in src]
        corr = " AND ".join(f"{g_slot[v]} = {src[v]}.{v}" for v in shared)
        g_where_sql = " AND ".join(g_where + [corr]) if g_where else corr
        filt_where.append(
            f"NOT EXISTS (SELECT 1 FROM {', '.join(g_aliases)} WHERE {g_where_sql})"
        )
    for positive, grp in query.exists_groups:
        g_aliases, g_where, g_slot = _render_block(grp, resolve, astart)
        astart += len(grp)
        shared = [v for v in g_slot if v in src]
        corr = " AND ".join(f"{g_slot[v]} = {src[v]}.{v}" for v in shared)
        g_where_sql = " AND ".join(g_where + [corr]) if g_where else corr
        kw = "EXISTS" if positive else "NOT EXISTS"
        filt_where.append(f"{kw} (SELECT 1 FROM {', '.join(g_aliases)} WHERE {g_where_sql})")
    # BIND aliases project the source column / resolved constant — computed
    # BEFORE the filter loop so a filter may reference a bind alias (the
    # translator applies binds before filters, same ordering)
    bind_expr = {}
    for kind, s, alias in query.binds:
        if kind == "var":
            bind_expr[alias] = f"{src[s]}.{s}"
        elif kind == "arith":
            v, op, num = s
            bind_expr[alias] = f"({numeric_value_sql(f'{src[v]}.{v}')} {op} {num})"
        elif kind == "if":
            # identical shared fragment the Spark plan applies via F.expr
            v, op, num, then_n, else_n = s
            bind_expr[alias] = if_numeric_sql(f"{src[v]}.{v}", op, num, then_n, else_n)
        elif kind == "arith2":
            va, op2, vb = s
            bind_expr[alias] = arith2_sql(f"{src[va]}.{va}", op2, f"{src[vb]}.{vb}")
        elif kind == "concat":
            # CONCAT/STR: one LEFT dict join per distinct variable arg;
            # || NULL-propagates in DuckDB (an unbound arg leaves the
            # alias NULL, like Spark concat()) — DuckDB's concat() would
            # SKIP NULLs and silently diverge, so it is never used here
            parts, seen = [], {}
            for t, v in s:
                if t == "l":
                    parts.append("'" + v.replace("'", "''") + "'")
                    continue
                if v not in seen:
                    ja = f"bs{len(joins)}_{v}"
                    joins.append(f"LEFT JOIN dict {ja} ON {ja}.id = {src[v]}.{v}")
                    seen[v] = ja
                parts.append(f"{seen[v]}.lexical")
            bind_expr[alias] = "(" + " || ".join(parts) + ")"
        elif kind == "coalesce":
            bind_expr[alias] = "COALESCE(" + ", ".join(f"{src[v]}.{v}" for v in s) + ")"
        else:
            bind_expr[alias] = f"CAST({resolve(s)} AS BIGINT)"

    def _ref(v: str) -> str:
        return bind_expr[v] if v in bind_expr else f"{src[v]}.{v}"

    arith_bind_aliases = query.numeric_bind_aliases()
    for i, f in enumerate(query.filters):
        lhs = _ref(f.var) if f.var else None
        if f.kind in ("cmp", "bound", "isnum", "arith", "arith2", "in", "boolop"):
            filt_where.append(
                _simple_filter_sql(f, _ref, resolve, numeric_aliases=arith_bind_aliases)
            )
        elif f.kind == "in_rows":
            if any(c is None for row in f.rows for c in row):
                # UNDEF rows: OR of per-row conjunctions omitting the
                # unconstrained slots (mirrors the translator's lowering)
                disj = []
                for row in f.rows:
                    conj = [
                        f"({_ref(v)} = {resolve(c)})"
                        for v, c in zip(f.vars_, row)
                        if c is not None
                    ]
                    disj.append("(" + " AND ".join(conj) + ")" if conj else "TRUE")
                filt_where.append("(" + " OR ".join(disj) + ")")
            else:
                cols = ", ".join(_ref(v) for v in f.vars_)
                rows = ", ".join(
                    "(" + ", ".join(str(resolve(c)) for c in row) + ")" for row in f.rows
                )
                filt_where.append(f"({cols}) IN ({rows})")
        elif f.kind in ("str", "strlen"):
            # string functions decode one column via an inner dict join
            # (drops NULLs like the engine's plan) and test the lexical
            joins.append(f"JOIN dict fs{i} ON fs{i}.id = {lhs}")
            filt_where.append(_str_filter_sql(f, f"fs{i}.lexical"))
        else:  # regex — inner dict join, drops NULLs like the engine's plan
            joins.append(f"JOIN dict fr{i} ON fr{i}.id = {lhs}")
            filt_where.append(f"regexp_matches(fr{i}.lexical, '{f.pattern}')")

    proj_sel = ", ".join(
        f"{bind_expr[v]} AS {v}" if v in bind_expr else f"{src[v]}.{v} AS {v}"
        for v in query.projection
    )
    inner = f"SELECT {proj_sel}\nFROM ({base}) b\n" + "\n".join(joins)
    if filt_where:
        inner += "\nWHERE " + " AND ".join(filt_where)

    needs_dict = (
        decode
        or any(f.kind in ("regex", "str", "strlen") for f in query.filters)
        or any(
            f.kind in ("regex", "str", "strlen")
            for fl in query.optional_filters
            for f in fl
        )
        or any(k == "concat" for k, _, _ in query.binds)
    )
    distinct = "DISTINCT " if query.distinct else ""
    if decode:
        # LEFT JOIN (not inner): optional-group variables may be NULL
        dsel = ", ".join(f"d{j}.lexical AS {v}" for j, v in enumerate(query.projection, start=1))
        djoins = "\n".join(
            f"LEFT JOIN dict d{j} ON d{j}.id = q.{v}"
            for j, v in enumerate(query.projection, start=1)
        )
        sql = f"SELECT {distinct}{dsel}\nFROM (\n{inner}\n) q\n{djoins}"
    elif query.distinct:
        sql = f"SELECT DISTINCT * FROM (\n{inner}\n)"
    else:
        sql = inner
    sql = f"{_ctes(query, resolve, needs_dict)}\n{sql}"
    if query.order or query.limit is not None or query.offset is not None:
        sql = f"SELECT * FROM (\n{sql}\n)"
        if query.order:
            sql += "\nORDER BY " + ", ".join(
                f"{v} DESC" if desc else f"{v}" for v, desc in query.order
            )
        if query.limit is not None:
            sql += f"\nLIMIT {query.limit}"
        if query.offset is not None:
            sql += f"\nOFFSET {query.offset}"
    return sql


def _union_sql(query: ParsedQuery, decode: bool, resolve) -> str:
    """UNION ALL over independently-rendered branches; variables a branch
    does not bind come back as typed NULLs (SPARQL union semantics)."""
    parts: list[str] = []
    astart = 1
    for grp in query.union_branches:
        aliases, where, first_slot = _render_block(grp, resolve, astart)
        astart += len(grp)
        sel = ", ".join(
            f"{first_slot[v]} AS {v}" if v in first_slot else f"CAST(NULL AS BIGINT) AS {v}"
            for v in query.projection
        )
        where_sql = " AND ".join(where) if where else "TRUE"
        parts.append(f"SELECT {sel} FROM {', '.join(aliases)} WHERE {where_sql}")
    inner = "\nUNION ALL\n".join(parts)

    distinct = "DISTINCT " if query.distinct else ""
    if decode:
        dsel = ", ".join(f"d{j}.lexical AS {v}" for j, v in enumerate(query.projection, start=1))
        djoins = "\n".join(
            f"LEFT JOIN dict d{j} ON d{j}.id = q.{v}"
            for j, v in enumerate(query.projection, start=1)
        )
        sql = f"SELECT {distinct}{dsel}\nFROM (\n{inner}\n) q\n{djoins}"
        sql = f"{_ctes(query, resolve, True)}\n{sql}"
    else:
        sql = f"SELECT DISTINCT * FROM (\n{inner}\n)" if query.distinct else inner
        sql = f"{_ctes(query, resolve, False)}\n{sql}"
    if query.order or query.limit is not None or query.offset is not None:
        sql = f"SELECT * FROM (\n{sql}\n)"
        if query.order:
            sql += "\nORDER BY " + ", ".join(
                f"{v} DESC" if desc else f"{v}" for v, desc in query.order
            )
        if query.limit is not None:
            sql += f"\nLIMIT {query.limit}"
        if query.offset is not None:
            sql += f"\nOFFSET {query.offset}"
    return sql


def _aggregate_sql(query: ParsedQuery, decode: bool, resolver) -> str:
    """GROUP BY wrap: render the query without aggregates projecting every
    needed variable, then aggregate outside (and decode group columns via
    inline dict joins — counts pass through undecoded)."""
    needed: list[str] = list(query.group_by)
    hv = query.having[0].var if query.having is not None else None
    if hv is not None and hv not in needed:
        # a hidden having aggregate still needs its source column inside q
        needed.append(hv)
    for a in query.aggregates:
        if a.var is not None and a.var not in needed:
            needed.append(a.var)
    if not needed:  # global count(*): any bound variable carries the rows
        needed = query.all_variables()[:1]
    inner_q = dataclasses.replace(
        query,
        projection=needed,
        aggregates=[],
        group_by=[],
        order=[],
        limit=None,
        offset=None,
        having=None,
        distinct=False,
    )
    inner = bgp_to_sql(inner_q, decode=False, resolver=resolver)

    # group_concat aggregates lexicals, not ids: ONE dict CTE shared by all
    # concatenated variables, LEFT JOINed per variable (1:1 — the dict is a
    # bijection, no row fan-out).  Every q-column reference is QUALIFIED:
    # the gcd aliases expose id/lexical columns, so an unqualified group-by
    # variable named ?id or ?lexical would be a binder ambiguity.
    gc_vars = sorted({a.var for a in query.aggregates if a.fn == "group_concat"})
    gc_join = "\n".join(
        f"LEFT JOIN gdict gcd{j} ON gcd{j}.id = q.{v}"
        for j, v in enumerate(gc_vars, start=1)
    )
    gc_ref = {v: f"gcd{j}.lexical" for j, v in enumerate(gc_vars, start=1)}

    agg_sel = []
    for a in query.aggregates:
        if a.fn in ("min", "max"):
            agg_sel.append(f"{a.fn.upper()}(q.{a.var}) AS {a.alias}")
        elif a.fn in ("sum", "avg"):
            # an arithmetic BIND alias already holds the plain number —
            # skip the id→value wrap, mirroring the translator
            arith_aliases = query.numeric_bind_aliases()
            if a.var in arith_aliases:
                val = f"q.{a.var}"
            else:
                val = numeric_value_sql(f"q.{a.var}")
            if a.fn == "sum":
                # CAST: DuckDB SUM(BIGINT) widens to HUGEINT; Spark stays long
                agg_sel.append(f"CAST(SUM({val}) AS BIGINT) AS {a.alias}")
            else:
                agg_sel.append(
                    f"(CASE WHEN COUNT({val}) > 0 THEN"
                    f" CAST(SUM({val}) AS DOUBLE) / COUNT({val}) END) AS {a.alias}"
                )
        elif a.fn == "sample":
            # deterministic SAMPLE = MIN (plans/sparql.py contract)
            agg_sel.append(f"MIN(q.{a.var}) AS {a.alias}")
        elif a.fn == "group_concat":
            lex = gc_ref[a.var]
            sep = a.sep.replace("'", "''")
            agg_sel.append(f"STRING_AGG({lex}, '{sep}' ORDER BY {lex}) AS {a.alias}")
        elif a.var is None:
            agg_sel.append(f"COUNT(*) AS {a.alias}")
        elif a.distinct:
            agg_sel.append(f"COUNT(DISTINCT q.{a.var}) AS {a.alias}")
        else:
            agg_sel.append(f"COUNT(q.{a.var}) AS {a.alias}")
    grp_sel = [f"q.{v} AS {v}" for v in query.group_by]
    sel = ", ".join(grp_sel + agg_sel)
    prefix = f"WITH gdict AS (\n{DICT_SQL}\n)\n" if gc_vars else ""
    sql = f"{prefix}SELECT {sel}\nFROM (\n{inner}\n) q"
    if gc_join:
        sql += f"\n{gc_join}"
    if query.group_by:
        sql += "\nGROUP BY " + ", ".join(f"q.{v}" for v in query.group_by)
    if query.having is not None:
        ha, hop, hval = query.having
        if ha.fn == "sum":
            # typed-value SUM, mirroring the projection aggregate: skip
            # the id→value wrap for numeric BIND aliases
            if ha.var in query.numeric_bind_aliases():
                hexpr = f"SUM(q.{ha.var})"
            else:
                hexpr = f"SUM({numeric_value_sql(f'q.{ha.var}')})"
        elif ha.var is None:
            hexpr = "COUNT(*)"
        elif ha.distinct:
            hexpr = f"COUNT(DISTINCT q.{ha.var})"
        else:
            hexpr = f"COUNT(q.{ha.var})"
        sql += f"\nHAVING {hexpr} {'<>' if hop == '!=' else hop} {hval}"

    if decode and query.group_by:
        dsel = ", ".join(
            [f"d{j}.lexical AS {v}" for j, v in enumerate(query.group_by, start=1)]
            + [a.alias for a in query.aggregates]
        )
        djoins = "\n".join(
            f"LEFT JOIN (\n{DICT_SQL}\n) d{j} ON d{j}.id = g.{v}"
            for j, v in enumerate(query.group_by, start=1)
        )
        sql = f"SELECT {dsel}\nFROM (\n{sql}\n) g\n{djoins}"
    # restore select order (query.projection)
    sql = f"SELECT {', '.join(query.projection)} FROM (\n{sql}\n)"
    if query.order:
        sql += "\nORDER BY " + ", ".join(
            f"{v} DESC" if desc else f"{v}" for v, desc in query.order
        )
    if query.limit is not None:
        sql += f"\nLIMIT {query.limit}"
    if query.offset is not None:
        sql += f"\nOFFSET {query.offset}"
    return sql


def bgp_to_sql(
    query: ParsedQuery, decode: bool = False, resolver: Callable[[str], int] | None = None
) -> str:
    """Render the BGP as ``WITH triples AS (…) SELECT … FROM triples t1, …``.

    Variables become equality chains across pattern aliases; constants become
    literal ID predicates; projection picks each variable's first binding
    slot.  Bag semantics (no DISTINCT) unless the query says otherwise.
    FILTER/OPTIONAL queries take the nested LEFT-JOIN rendering path;
    UNION queries render as UNION ALL over branch blocks.
    """
    resolve = resolver or _default_resolver
    if decode:
        # mirror the translator's guard: an arithmetic BIND alias carries a
        # plain number; decoding would join the dict on that number, which
        # can silently collide with a genuine small dictionary id
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
    if query.describe_term is not None:
        tid = resolve(query.describe_term)
        return (
            f"WITH triples AS ({TRIPLES_SQL})\n"
            f"SELECT s, p, o FROM triples WHERE s = {tid} OR o = {tid}"
        )
    if query.describe_var is not None:
        # DESCRIBE ?v WHERE { … }: semi-filter the triples by the body's
        # DISTINCT matched term set through either slot (mirrors the
        # translator's two-semi-join union + distinct)
        body = bgp_to_sql(
            dataclasses.replace(query, describe_var=None),
            decode=False,
            resolver=resolver,
        )
        v = query.describe_var
        return (
            f"WITH triples AS ({TRIPLES_SQL}),\n"
            f"__dterms AS (SELECT DISTINCT {v} AS term FROM ({body}) __db)\n"
            f"SELECT DISTINCT s, p, o FROM triples\n"
            f"WHERE s IN (SELECT term FROM __dterms) OR o IN (SELECT term FROM __dterms)"
        )
    if query.ask:
        inner = bgp_to_sql(
            dataclasses.replace(query, ask=False), decode=False, resolver=resolver
        )
        return f"SELECT EXISTS (SELECT 1 FROM ({inner}) __ask) AS ask_result"
    if query.construct_template:
        inner = bgp_to_sql(
            dataclasses.replace(query, construct_template=[]),
            decode=False,
            resolver=resolver,
        )

        def term_sql(t) -> str:
            return t.var if t.is_var else str(resolve(t.lexical))

        # spec: template triples with an unbound (NULL) slot are omitted
        branches = " UNION ALL ".join(
            f"SELECT s, p, o FROM ("
            f"SELECT CAST({term_sql(c.subj)} AS BIGINT) AS s,"
            f" CAST({term_sql(c.pred)} AS BIGINT) AS p,"
            f" CAST({term_sql(c.obj)} AS BIGINT) AS o FROM (\n{inner}\n) __b{i}"
            f") WHERE s IS NOT NULL AND p IS NOT NULL AND o IS NOT NULL"
            for i, c in enumerate(query.construct_template)
        )
        return branches
    if query.aggregates:
        return _aggregate_sql(query, decode, resolve)
    if query.union_branches:
        return _union_sql(query, decode, resolve)
    if (
        query.filters
        or query.optionals
        or query.minuses
        or query.exists_groups
        or query.subquery is not None
        or query.binds
    ):
        return _extended_sql(query, decode, resolve)
    aliases, where, first_slot = _render_block(query.conditions, resolve, 1)

    if decode:
        sel = []
        for j, v in enumerate(query.projection, start=1):
            aliases.append(f"dict d{j}")
            where.append(f"d{j}.id = {first_slot[v]}")
            sel.append(f"d{j}.lexical AS {v}")
        select_list = ", ".join(sel)
    else:
        select_list = ", ".join(f"{first_slot[v]} AS {v}" for v in query.projection)
    if not select_list:
        # fully-ground pattern (every slot a constant — an ASK body has no
        # projectable variable): emit a match marker so the SELECT parses
        select_list = "1 AS matched"
    ctes = _ctes(query, resolve, decode)

    distinct = "DISTINCT " if query.distinct else ""
    where_sql = " AND ".join(where) if where else "TRUE"
    sql = f"{ctes}\nSELECT {distinct}{select_list}\nFROM {', '.join(aliases)}\nWHERE {where_sql}"
    if query.order or query.limit is not None or query.offset is not None:
        # wrap so ORDER BY/LIMIT apply to the projected (possibly decoded)
        # output columns, same as the DataFrame plan
        sql = f"SELECT * FROM (\n{sql}\n)"
        if query.order:
            sql += "\nORDER BY " + ", ".join(
                f"{v} DESC" if desc else f"{v}" for v, desc in query.order
            )
        if query.limit is not None:
            sql += f"\nLIMIT {query.limit}"
        if query.offset is not None:
            sql += f"\nOFFSET {query.offset}"
    return sql
