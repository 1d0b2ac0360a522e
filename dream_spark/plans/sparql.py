"""SPARQL front end: one tokenizer and a recursive-descent parser.

The reference grammar (QueryPlanner.c:933-1015) is conjunctive only:
``select ?v … where { s p o . s p o . … }``; a term starting with ``?`` is
a variable (QueryPlanner.c:299-315), anything else a constant, and
variable predicates are allowed (QueryPlanner.c:305-309).  This module
accepts that grammar plus the documented supersets below and emits the
:class:`ParsedQuery` IR the translator and the DuckDB oracle consume.
Keywords are case-insensitive; ``[x]`` is optional, ``{x}`` repeats.

    query     = select | ask | construct | describe ;
    select    = "select" ["distinct"] {"*" | var | "(" aggregate ")"}
                "where" group modifiers ;
    ask       = "ask" ["where"] group modifiers ;
    construct = "construct" block "where" group ;
    describe  = "describe" (constant | var "where" group) ;
    aggregate = ("count" | "min" | "max" | "sample" | "group_concat" | "sum"
                | "avg") "(" ["distinct"] (var | "*")
                [";" "separator" "=" string] ")" "as" var ;
    modifiers = ["group" "by" var {var}] ["having" "(" having ")"]
                ["order" "by" order {order}] ["limit" int] ["offset" int] ;
    having    = "count" "(" ["distinct"] (var | "*") ")" cmp int
              | "sum" "(" var ")" cmp sint ;
    order     = ("asc" | "desc") "(" var ")" | var ["asc" | "desc"] ;
    group     = "{" (block "union" block {"union" block} | {element}) "}" ;
    element   = term | "." | "filter" filter | "filter" ["not"] "exists" block
              | "optional" optional | "minus" block | "values" values
              | "bind" bind | "{" select "}" ;
    optional  = "{" {term | "." | "filter" filter | "optional" optional} "}" ;
    block     = "{" {term | "."} "}" ;
    filter    = ("regex" | "contains" | "strstarts" | "strends")
                "(" var "," string ")" | "(" expr ")" ;
    expr      = unary {"||" unary} | unary {"&&" unary} ;
    unary     = "!" "(" expr ")" | "(" expr ")" | atom ;
    atom      = ["!"] ("bound" | "isNumeric") "(" var ")"
              | ["!"] "sameTerm" "(" var "," (var | constant) ")"
              | "abs" "(" var arith var ")" cmp sint
              | var arith var cmp sint | var [arith sint] cmp sint
              | var ["not"] "in" "(" constant {"," constant} ")"
              | var cmp (var | constant)
              | ("contains" | "strstarts" | "strends") "(" var "," string ")"
              | "strlen" "(" var ")" cmp int
              | ("ucase" | "lcase") "(" var ")" eq string
              | ("strbefore" | "strafter") "(" var "," string ")" eq string
              | "replace" "(" var "," string "," string ")" eq string
              | "substr" "(" var "," int ["," int] ")" eq string ;
    values    = var "{" {constant} "}"
              | "(" var {var} ")" "{" {"(" {constant | "UNDEF"} ")"} "}" ;
    bind      = "(" ( "coalesce" "(" var "," var {"," var} ")"
                    | "concat" "(" (var | string) {"," (var | string)} ")"
                    | "str" "(" var ")"
                    | "if" "(" var cmp sint "," sint "," sint ")"
                    | var arith (var | sint) | var | constant ) "as" var ")" ;
    path      = var | "!" alts | "!" "(" alts ")" | step {"/" step} ;
    step      = "^" iri-or-name | iri-or-name ["+" | "*" | "?"] | alts
              | "(" iri-or-name "|" alts ")" "+" | "!" alts | "!" "(" alts ")" ;
    alts      = iri-or-name {"|" iri-or-name} ;
    constant  = iri | name | string | sint ;
    sint      = ["-"] int ;   arith = "+" | "-" | "*" ;   eq = "=" | "!=" ;
    cmp       = "=" | "!=" | "<" | ">" | "<=" | ">=" ;

Lexical rules.  ``<…>`` is an IRI only when closed with no whitespace
inside, otherwise ``<`` is less-than (so ``?a < 5`` compares).  Strings
are ``"…"`` without escapes; a string constant stands for its unquoted
lexical, as an IRI for the text inside ``<…>``, since the dictionary
stores both bare.  Triple terms are whitespace-separated words;
the tokens of one word, such as the path ``^placedBy/status``, are written
without whitespace.  The terms between ``.`` separators form one triple
(trailing dots are allowed); a clause (filter, optional, minus, values,
bind, subquery) is skipped together with one ``.`` right after it.  In a
WHERE group ``filter optional minus values bind union`` are keywords, not
constants; an empty projection means every variable, like ``*``.

Lowering.  A filter atom becomes the first matching ``Filter`` kind, so
``?v = 5`` is ``arith`` (typed numeric value), not ``cmp``.  A filter with
a top-level ``||``/``&&`` or a leading ``!( … )`` becomes ``boolop`` over
row-local atoms only (no string functions).  A query's filters are listed
grouped by form in ``_RANK`` order, then by position; binds likewise (see
``_Parser.bind``).  Optional groups are numbered innermost first (by
nesting height, then position), and ``cid`` runs over required patterns,
optional groups, minus groups and exists groups in that order.  ``p1/p2``
sequence paths expand into chained patterns through internal ``?__seqN``
variables, a name no query may use.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from typing import NamedTuple


def strslice_sql(fn: str, ref: str, sep: str) -> str:
    """SPARQL STRBEFORE/STRAFTER as ONE SQL fragment applied verbatim on
    both engines (Spark ``F.expr`` and the DuckDB oracle — ``instr``,
    ``substr``, ``length`` and ``CASE`` are identical in both dialects, so
    the semantics cannot drift): the substring strictly before/after the
    FIRST occurrence of ``sep``, and ``''`` when ``sep`` does not occur
    (§17.4.3.4/.5).  ``sep`` must be non-empty — the grammar rejects the
    empty separator whose spec result ("" / the whole string) differs
    between the two functions and is never what a query means."""
    lit = sep.replace("'", "''")
    if fn == "strbefore":
        return (
            f"(CASE WHEN instr({ref}, '{lit}') > 0"
            f" THEN substr({ref}, 1, instr({ref}, '{lit}') - 1) ELSE '' END)"
        )
    assert fn == "strafter", fn
    return (
        f"(CASE WHEN instr({ref}, '{lit}') > 0"
        f" THEN substr({ref}, instr({ref}, '{lit}') + {len(sep)}) ELSE '' END)"
    )


def _mask_brackets(t: str) -> str:
    """Blank everything inside ``<…>`` (position-preserving): path-operator
    detection must only see characters OUTSIDE bracketed constants — an IRI
    like ``<http://a|b+c>`` contains every marker character legally."""
    out, depth = [], 0
    for ch in t:
        if ch == "<":
            depth += 1
            out.append("_")
        elif ch == ">":
            depth = max(0, depth - 1)
            out.append("_")
        else:
            out.append(ch if depth == 0 else "_")
    return "".join(out)


def _split_outside_brackets(t: str, sep: str) -> list[str]:
    """Split on ``sep`` occurrences outside ``<…>`` only."""
    parts, cur, depth = [], [], 0
    for ch in t:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth = max(0, depth - 1)
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


@dataclass(frozen=True)
class Term:
    """One s/p/o slot: either a variable (?X) or a lexical constant.

    A constant PREDICATE may additionally carry (SPARQL 1.1 property-path
    subset; mutually exclusive, parser-enforced):

    - a trailing ``+`` (OneOrMorePath): ``?x inRegion+ ?y`` matches pairs
      connected by 1..n hops — ``is_transitive``;
    - a trailing ``*`` (ZeroOrMorePath): 0..n hops — ``is_zero_or_more``;
      the zero-length path matches every node of the graph to itself
      (nodes = distinct subjects ∪ objects, the usual engine reading of
      the spec's "terms in the graph");
    - a trailing ``?`` (ZeroOrOnePath): 0..1 hops — ``is_zero_or_one``;
    - a leading ``^`` (InversePath): ``?x ^placedBy ?o`` ≡ ``?o placedBy
      ?x`` — ``is_inverse``;
    - ``|`` alternation (PathAlternative): ``?s madeBy|placedBy ?e``
      matches via either predicate — ``is_alternation`` /
      ``alternatives``;
    - a parenthesized alternation-closure group ``(p1|p2)+``
      (OneOrMorePath over the UNION edge set): ``is_transitive`` AND
      ``is_alternation`` both hold — the only combined form accepted
      (``(…)*`` / ``(…)?`` are rejected loudly).

    ``lexical`` strips the path markers, IRI brackets and string quotes."""

    text: str

    @property
    def is_var(self) -> bool:
        return self.text.startswith("?")

    @property
    def var(self) -> str:
        return self.text[1:]

    @property
    def is_transitive(self) -> bool:
        return (not self.is_var) and _mask_brackets(self.text).endswith("+")

    @property
    def is_zero_or_more(self) -> bool:
        return (not self.is_var) and _mask_brackets(self.text).endswith("*")

    @property
    def is_zero_or_one(self) -> bool:
        return (not self.is_var) and _mask_brackets(self.text).endswith("?")

    @property
    def is_path_closure(self) -> bool:
        """Any of the hop-count path forms (+ / * / ?): the pattern scans a
        derived pair frame instead of the raw triples."""
        return self.is_transitive or self.is_zero_or_more or self.is_zero_or_one

    @property
    def is_inverse(self) -> bool:
        return self.text.startswith("^")

    @property
    def is_alternation(self) -> bool:
        return (not self.is_var) and "|" in _mask_brackets(self._alt_body)

    @property
    def is_negated(self) -> bool:
        """SPARQL 1.1 NegatedPropertySet: ``!p`` / ``!(p1|p2)`` — match any
        predicate EXCEPT the listed ones."""
        return self.text.startswith("!")

    @property
    def _negation_body(self) -> str:
        t = self.text
        if t.startswith("!"):
            t = t[1:]
            if t.startswith("(") and t.endswith(")"):
                t = t[1:-1]
        return t

    @property
    def _alt_body(self) -> str:
        """The alternation list with any wrapping stripped: ``!``/parens
        for a negated set, a trailing hop marker + parens for a closure
        group ``(p1|p2)+``."""
        if self.text.startswith("!"):
            return self._negation_body
        t = self.text
        m = _mask_brackets(t)
        if m.endswith(("+", "*")) or (not t.startswith("?") and m.endswith("?")):
            t = t[:-1]
        if t.startswith("(") and t.endswith(")"):
            t = t[1:-1]
        return t

    @property
    def alternatives(self) -> tuple[str, ...]:
        """The lexical of each ``|`` alternative (a 1-tuple when the term
        is a plain constant; the excluded set for a negated term; the
        union set for an alternation-closure group ``(p1|p2)+``)."""
        return tuple(
            Term(t).lexical for t in _split_outside_brackets(self._alt_body, "|")
        )

    @property
    def lexical(self) -> str:
        t = self.text
        if t.startswith("^"):
            t = t[1:]
        if t.endswith(("+", "*")) and not t.startswith("?"):
            t = t[:-1]
        elif t.endswith("?") and not t.startswith("?"):
            t = t[:-1]
        quoted = t[:1] + t[-1:] in ("<>", '""') and len(t) > 1
        return t[1:-1] if quoted else t


@dataclass(frozen=True)
class Condition:
    """A triple pattern — the analog of reference ``Condition`` (Structs.h:41-48)."""

    cid: int
    subj: Term
    pred: Term
    obj: Term

    def variables(self) -> list[str]:
        out: list[str] = []
        for t in (self.subj, self.pred, self.obj):
            if t.is_var and t.var not in out:
                out.append(t.var)
        return out


@dataclass(frozen=True)
class Filter:
    """A FILTER clause.  ``kind`` is ``cmp`` (``var op var-or-const`` with op
    in =/!=, evaluated on dictionary IDs — exact because the dictionary is a
    bijection), ``regex`` (``regex(?v, "pat")``, evaluated on the decoded
    lexical), ``str`` (``contains/strstarts/strends(?v, "lit")`` — literal
    substring/prefix/suffix tests on the decoded lexical, ``op`` holds the
    function name and ``pattern`` the literal; also ``ucase``/``lcase``
    — case-mapped =/!= against the literal, comparison operator in
    ``lhs_op`` — and ``substr`` — 1-based ``substr(?v, lhs_num[,
    rhs_num]) =/!= "lit"``), ``strlen``
    (``strlen(?v) op <int>`` — character-length comparison on the decoded
    lexical), ``arith`` (``?v [±·n] op <integer>``: comparison/arithmetic
    on the term's TYPED NUMERIC VALUE — sources/triples.numeric_value_sql —
    NULL for non-numeric terms, which drops the row like SPARQL's
    type-error contract), or ``arith2`` (``?a [+−×] ?b op <integer>``:
    two-variable arithmetic over the typed values — ``lhs_op`` holds the
    arithmetic operator, ``rhs_var`` the second operand,
    sources/triples.arith2_sql).

    ``boolop`` combines row-local sub-filters with one SPARQL logical
    connective (§17.4.1.5/.6): ``op`` is ``||`` or ``&&`` and ``parts``
    the operand filters (kinds cmp / arith / arith2 / in / bound only —
    forms that lower to a single row-local predicate; the join-backed
    string/regex forms are rejected by the grammar).  Mixed connectives
    require explicit grouping and are rejected rather than guessed.
    Three-valued logic matches across engines: an unbound operand's
    sub-predicate is SQL NULL, and SQL's NULL OR TRUE = TRUE / otherwise
    non-TRUE mirrors SPARQL's error || true = true / error-drops
    (§17.2), so WHERE keeps exactly the SPARQL solutions."""

    kind: str
    var: str
    op: str | None = None
    rhs_var: str | None = None
    rhs_const: str | None = None
    pattern: str | None = None
    consts: tuple[str, ...] | None = None  # kind="in": VALUES constants
    # kind="in_rows": multi-variable VALUES — variables + constant rows
    # (a None slot is UNDEF: that variable is unconstrained in the row)
    vars_: tuple[str, ...] | None = None
    rows: tuple[tuple[str | None, ...], ...] | None = None
    # kind="arith": optional lhs arithmetic (?v lhs_op lhs_num) and the
    # integer rhs literal
    lhs_op: str | None = None
    lhs_num: int | None = None
    rhs_num: int | None = None
    # kind="arith2": True wraps the two-variable expression in ABS() —
    # ``filter (abs(?a − ?b) cmp n)``, the magnitude-difference idiom
    abs_fn: bool = False
    # kind="boolop": the operand sub-filters (op holds "||" or "&&")
    parts: tuple["Filter", ...] | None = None

    def refs(self) -> tuple[str, ...]:
        """Every variable this filter references (str-kind REPLACE stores
        its replacement LITERAL in rhs_var, so that slot is skipped;
        boolop unions over its parts)."""
        if self.kind == "boolop":
            return tuple(v for p in self.parts for v in p.refs())
        rhs = None if self.kind == "str" else self.rhs_var
        return tuple(
            v for v in (self.var, rhs, *(self.vars_ or ())) if v is not None
        )


@dataclass(frozen=True)
class Aggregate:
    """One aggregate projection item: ``(count([distinct] ?v|*) as ?a)``,
    ``(min(?v) as ?a)``, ``(max(?v) as ?a)``, ``(sample(?v) as ?a)``,
    ``(group_concat(?v) as ?a)``.

    min/max/sample operate on the dictionary ids — meaningful because the
    arithmetic id scheme is order-preserving within an entity kind
    (sources/triples.py); sample is deterministically MIN (SPARQL leaves
    the choice open; a distributed engine must pin it or two runs
    disagree).  group_concat emits the DECODED lexicals sorted ascending
    joined with ``sep`` (SPARQL 1.1 ``SEPARATOR=`` scalar argument,
    default ``,``) — same determinism reasoning (SPARQL leaves the
    order open).  sum/avg operate on the TYPED NUMERIC VALUE
    (sources/triples.numeric_value_sql): non-numeric terms contribute NULL
    (skipped, the SPARQL error-term contract); avg is pinned to
    CAST(sum AS DOUBLE)/count so both engines divide the same exact
    integers."""

    fn: str  # "count" | "min" | "max" | "sample" | "group_concat" | "sum" | "avg"
    var: str | None  # None => count(*)
    alias: str
    distinct: bool = False
    sep: str = ","  # group_concat separator (SPARQL SEPARATOR= argument)


@dataclass
class ParsedQuery:
    """Projection list + conditions — reference ``Result``+``Condition`` lists
    (QueryPlanner.c:24-28).  ``order``/``limit``/``filters``/``optionals``
    extend the reference grammar (which has none of them, SURVEY.md §2.3) as
    documented supersets."""

    projection: list[str]
    conditions: list[Condition]
    distinct: bool = False
    order: list[tuple[str, bool]] = field(default_factory=list)  # (var, desc)
    limit: int | None = None
    offset: int | None = None
    # HAVING superset: (Aggregate, op, int) filter applied after grouping
    having: tuple[Aggregate, str, int] | None = None
    filters: list[Filter] = field(default_factory=list)
    optionals: list[list[Condition]] = field(default_factory=list)
    # per-optional-group filters (same index as ``optionals``): evaluated
    # INSIDE the group before its left join — LeftJoin(P1, P2, E) for E
    # over group-local variables (incl. shared ones, whose merged value
    # equals the group value under the equi-join)
    optional_filters: list[list[Filter]] = field(default_factory=list)
    # nested OPTIONAL: optional_parent[i] is the index of the group that
    # lexically encloses group i, or -1 for a top-level group — group i
    # then left-joins INSIDE its parent (LeftJoin(A, LeftJoin(B, …)))
    # before the parent's own left join onto the required part
    optional_parent: list[int] = field(default_factory=list)
    minuses: list[list[Condition]] = field(default_factory=list)
    # FILTER [NOT] EXISTS { … } groups: (positive?, patterns).  Semi-join
    # (EXISTS) / anti-join (NOT EXISTS) on the shared variables; group
    # variables do NOT bind into the solution (unlike OPTIONAL).
    exists_groups: list[tuple[bool, list[Condition]]] = field(default_factory=list)
    # aggregate projection: group_by vars + Aggregate items; ``projection``
    # then lists the group_by vars and aggregate aliases in select order
    aggregates: list[Aggregate] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    # non-empty => the where clause is { branch } union { branch } …;
    # ``conditions`` then holds the FIRST branch (so single-branch helpers
    # keep working) and filters/optionals are disallowed by the parser
    union_branches: list[list[Condition]] = field(default_factory=list)
    # SPARQL 1.1 subquery: one nested ``{ select … }`` group in the WHERE
    # clause, inner-joined to the outer patterns on the shared projected
    # variables; inner aggregate aliases become plain outer columns
    subquery: "ParsedQuery | None" = None
    # BIND clauses: (kind, source, alias) with kind "var" (source = bound
    # variable name), "const" (source = constant lexical), "coalesce"
    # (source = tuple of bound variable names; alias = first non-NULL,
    # the SPARQL fallback-after-OPTIONAL idiom), "arith"
    # (source = (var, op, int) over the typed numeric value layer; the
    # alias carries a plain number, not a dictionary id), or "if"
    # (source = (var, op, rhs, then, else): numeric conditional whose
    # alias ALSO carries a plain number — see numeric_bind_aliases)
    binds: list[tuple[str, object, str]] = field(default_factory=list)
    # ASK form (SPARQL 1.1; superset of the reference grammar): the result
    # is a single boolean row — does any binding exist?
    ask: bool = False
    # CONSTRUCT form: non-empty => emit (s,p,o) rows from these template
    # patterns, one set per WHERE binding (bag semantics)
    construct_template: list[Condition] = field(default_factory=list)
    # DESCRIBE form: a constant term — emit every triple with it as
    # subject or object
    describe_term: str | None = None
    # DESCRIBE ?v WHERE { … } form: the body is this query's own
    # conditions/filters with ``projection == [describe_var]``; the result
    # is every triple touching any DISTINCT matched term
    describe_var: str | None = None
    text: str = field(default="", repr=False)

    def all_variables(self) -> list[str]:
        out: list[str] = []
        groups = self.union_branches if self.union_branches else [self.conditions]
        for grp in list(groups) + list(self.optionals):
            for c in grp:
                for v in c.variables():
                    # internal sequence-path hop variables join patterns
                    # but never surface (not projectable, not `select *`)
                    if v not in out and not v.startswith("__seq"):
                        out.append(v)
        if self.subquery is not None:
            for v in self.subquery.projection:
                if v not in out:
                    out.append(v)
        for _, _, alias in self.binds:
            if alias not in out:
                out.append(alias)
        return out

    def numeric_bind_aliases(self) -> frozenset[str]:
        """Aliases of BINDs whose column holds a PLAIN NUMBER rather than
        a dictionary id ("arith" and "if" kinds).  Single source of truth
        for the translator and the DuckDB oracle, which both must (a) skip
        the id→value wrap when filtering/aggregating over these columns
        and (b) refuse to dictionary-decode them."""
        return frozenset(
            a for k, _, a in self.binds if k in ("arith", "if", "arith2")
        )

    def string_bind_aliases(self) -> frozenset[str]:
        """Aliases of BINDs whose column holds a DECODED STRING ("concat"
        kind, which also backs str()) — a third value space next to ids
        and plain numbers.  Id-level filters, aggregates, grouping, and
        dictionary decode are all meaningless over these columns and are
        rejected loudly by the validator on BOTH engines."""
        return frozenset(a for k, _, a in self.binds if k == "concat")


class SparqlSyntaxError(ValueError):
    """Malformed or unsupported query text.  An error found while reading
    the text carries the 1-based ``line``/``col`` of the offending token
    (also stated in the message); a check on the finished IR carries
    ``None``."""

    def __init__(self, msg: str, line: int | None = None, col: int | None = None):
        if line is not None:
            msg = f"{msg} (line {line}, column {col})"
        super().__init__(msg)
        self.line, self.col = line, col


_TOKEN = re.compile(
    r'(?P<ws>\s+)|(?P<iri><[^<>\s]*>)|(?P<str>"[^"]*")|(?P<var>\?\w+)'
    r"|(?P<name>[\w#@:](?:[\w#@:-]|\.(?=[\w#@:-]))*)"
    r"|(?P<punct>\|\||&&|!=|<=|>=|[(){}.,;=<>+*/^|!?-])"
)
_CMP = ("=", "!=", "<", ">", "<=", ">=")
_ARITH = ("+", "-", "*")
_EQ = ("=", "!=")
_INT_LIMIT = 2**31  # Spark's limit/offset/substring take a 32-bit int
_KEYWORDS = ("filter", "optional", "minus", "values", "bind", "union")
_AGGREGATES = ("count", "min", "max", "sample", "group_concat", "sum", "avg")
# filter forms in listing order (a query's filters are grouped by form);
# the string functions come first, up to "substr"
_RANK = {
    k: i
    for i, k in enumerate(
        "boolop strfn contains strlen case slice replace substr bound isnum"
        " abs arith2 arith in regex sameterm cmp values_rows values".split()
    )
}
_FILTER_FNS = ("bound", "isnumeric", "sameterm", "abs", "contains", "strstarts", "strends",
               "strlen", "ucase", "lcase", "strbefore", "strafter", "replace", "substr")


class _Tok(NamedTuple):
    kind: str  # iri | str | var | name | punct | eof
    text: str
    pos: int
    end: int
    line: int
    col: int


def _tokenize(text: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos, line, bol = 0, 1, 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        col = pos - bol + 1
        if m is None:
            what = "unterminated string" if text[pos] == '"' else "unexpected character"
            raise SparqlSyntaxError(f"{what} {text[pos]!r}", line, col)
        kind, end = m.lastgroup, m.end()
        if kind == "var" and m.group().startswith("?__seq"):
            raise SparqlSyntaxError(
                "variable names starting with '__seq' are reserved for "
                "sequence-path rewriting", line, col,
            )
        if kind != "ws":
            toks.append(_Tok(kind, m.group(), pos, end, line, col))
        if "\n" in m.group():
            line += m.group().count("\n")
            bol = text.rfind("\n", pos, end) + 1
        pos = end
    toks.append(_Tok("eof", "", pos, pos, line, pos - bol + 1))
    return toks


@dataclass
class _Group:
    """A WHERE group (or an OPTIONAL body) as read, before cids exist.  A
    triple is ``(subject text, [hop texts], object text)``."""

    triples: list = field(default_factory=list)
    filters: list = field(default_factory=list)  # (rank, Filter)
    binds: list = field(default_factory=list)  # (rank, bind tuple)
    optionals: list = field(default_factory=list)  # every OPTIONAL body, in text order
    minuses: list = field(default_factory=list)
    exists: list = field(default_factory=list)  # (positive, triples)
    union: list = field(default_factory=list)
    subquery: "ParsedQuery | None" = None
    parent: "_Group | None" = None  # enclosing group of an OPTIONAL body
    height: int = 1  # OPTIONAL nesting height; a body with no nested OPTIONAL is 1


def _expand(triples: list, start: int) -> list[Condition]:
    """Number the triples from ``start``; a sequence path becomes chained
    patterns through ``?__seq<cid>`` variables."""
    out: list[Condition] = []
    for subj, hops, obj in triples:
        for j, hop in enumerate(hops):
            nxt = obj if j == len(hops) - 1 else f"?__seq{start + len(out)}"
            out.append(Condition(start + len(out), Term(subj), Term(hop), Term(nxt)))
            subj = nxt
    return out


def _alternatives(toks: list[_Tok], least: int) -> bool:
    """``c {"|" c}`` with at least ``least`` constants."""
    return (
        len(toks) % 2 == 1
        and len(toks) >= 2 * least - 1
        and all(t.kind in ("iri", "name", "str") for t in toks[::2])
        and all(t.text == "|" for t in toks[1::2])
    )


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0

    # ---- token cursor -----------------------------------------------------
    def peek(self, k: int = 0) -> _Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def at(self, *words: str, k: int = 0) -> bool:
        t = self.peek(k)
        return t.kind in ("name", "punct") and t.text.lower() in words

    def call(self, k: int = 0) -> str | None:
        """The lowercased name at ``k`` when a ``(`` follows it."""
        t = self.peek(k)
        return t.text.lower() if t.kind == "name" and self.at("(", k=k + 1) else None

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += t.kind != "eof"
        return t

    def accept(self, *words: str) -> _Tok | None:
        return self.next() if self.at(*words) else None

    def error(self, msg: str, tok: _Tok | None = None) -> SparqlSyntaxError:
        tok = tok or self.peek()
        near = "at end of query" if tok.kind == "eof" else f"near {tok.text!r}"
        return SparqlSyntaxError(f"{msg} {near}", tok.line, tok.col)

    def expect(self, word: str) -> _Tok:
        if not self.at(word):
            raise self.error(f"expected {word!r}")
        return self.next()

    def op(self, ops: tuple[str, ...]) -> str:
        if not self.at(*ops):
            raise self.error(f"expected one of {' '.join(ops)}")
        return self.next().text

    def take(self, *items) -> list:
        """Read a fixed sequence: a str item is a keyword or punctuation
        that must come next, a tuple a choice of operators, a callable
        reads a value.  Returns the values read."""
        out = []
        for item in items:
            if callable(item):
                out.append(item())
            elif isinstance(item, tuple):
                out.append(self.op(item))
            else:
                self.expect(item)
        return out

    def var(self) -> str:
        if self.peek().kind != "var":
            raise self.error("expected a variable")
        return self.next().text[1:]

    def string(self) -> str:
        if self.peek().kind != "str":
            raise self.error('expected a "string"')
        return self.next().text[1:-1]

    def is_int(self, k: int = 0) -> bool:
        t = self.peek(k)
        return t.kind == "name" and t.text.isascii() and t.text.isdigit()

    def is_sint(self) -> bool:
        return self.is_int() or (
            self.at("-") and self.is_int(1) and self.peek(1).pos == self.peek().end
        )

    def uint(self, limit: int | None = None) -> int:
        if not self.is_int():
            raise self.error("expected an integer")
        t = self.next()
        if limit is not None and int(t.text) >= limit:
            raise self.error(f"integer must be below {limit}", t)
        return int(t.text)

    def uint31(self) -> int:
        return self.uint(_INT_LIMIT)

    def sint(self) -> int:
        if not self.is_sint():
            raise self.error("expected an integer")
        return -self.uint() if self.accept("-") else self.uint()

    def const(self) -> str:
        """A constant operand as its lexical (an IRI loses its brackets, a
        string its quotes)."""
        t = self.peek()
        if t.kind in ("iri", "name", "str"):
            self.next()
            return t.text[1:-1] if t.kind in ("iri", "str") else t.text
        if self.is_sint():
            return self.next().text + self.next().text
        raise self.error("expected a constant")

    # ---- query forms ------------------------------------------------------
    def query(self) -> ParsedQuery:
        t = self.next()
        form = t.text.lower() if t.kind == "name" else ""
        star = (False, [], True)
        if form == "select":
            q = self.select()
        elif form == "ask":
            self.accept("where")
            q = replace(self.body(star, modifiers=True), ask=True)
        elif form == "construct":
            brace = self.peek()
            tpl = _expand(self.block("construct template", ("filter", "union")), 1)
            if any(c.pred.is_path_closure for c in tpl):
                raise self.error("path '+'/'*'/'?' is not valid in a construct template", brace)
            self.expect("where")
            q = self.body(star, modifiers=False)
            bound = set(q.all_variables())
            unbound = sorted({v for c in tpl for v in c.variables() if v not in bound})
            if unbound:
                raise SparqlSyntaxError(
                    f"construct template variables not bound in where clause: {unbound}"
                )
            q = replace(q, construct_template=tpl)
        elif form == "describe" and self.peek().kind == "var":
            var = self.take(self.var, "where")[0]
            q = replace(self.body((False, [var], False), modifiers=False), describe_var=var)
        elif form == "describe":
            q = ParsedQuery(projection=["s", "p", "o"], conditions=[], describe_term=self.const())
        else:
            raise self.error("expected select, ask, construct or describe", t)
        if self.peek().kind != "eof":
            raise self.error("unexpected text after the query")
        q.text = self.text.strip()
        return q

    def select(self) -> ParsedQuery:
        """After ``select``; an empty projection means every variable."""
        distinct = self.accept("distinct") is not None
        items: list[str | Aggregate] = []  # variables and aggregates, in select order
        star = False
        while not self.accept("where"):
            if self.accept("*"):
                star = True
            elif self.accept("("):
                items.append(self.aggregate())
            elif self.peek().kind == "var":
                v = self.var()
                items += [v] if v not in items else []
            else:
                raise self.error("projection terms must be variables, '*' or (aggregate as ?alias)")
        return self.body((distinct, items, star), modifiers=True)

    def body(self, head: tuple, modifiers: bool) -> ParsedQuery:
        g = _Group()
        self.group(g, g.optionals)
        mods = self.modifiers() if modifiers else ([], None, [], None, None)
        return _assemble(head, g, mods)

    def aggregate(self) -> Aggregate:
        t = self.peek()
        fn = t.text.lower()
        if self.call() not in _AGGREGATES:
            raise self.error(f"expected an aggregate ({', '.join(_AGGREGATES)})")
        self.take(fn, "(")
        distinct = self.accept("distinct") is not None
        var = None if self.accept("*") else self.var()
        sep = self.take("separator", "=", self.string)[0] if self.accept(";") else None
        alias = self.take(")", "as", self.var, ")")[0]
        if var is None and (fn != "count" or distinct):
            raise self.error(f"{fn}({'distinct ' if distinct else ''}*) is not supported", t)
        if distinct and fn != "count":
            raise self.error(f"{fn}(distinct …) is not supported", t)
        if sep is not None and fn != "group_concat":
            raise self.error(f"separator= is only valid on group_concat, not {fn}", t)
        sep = "," if sep is None else sep
        return Aggregate(fn=fn, var=var, alias=alias, distinct=distinct, sep=sep)

    def modifiers(self) -> tuple:
        group_by: list[str] = []
        having = limit = offset = None
        order: list[tuple[str, bool]] = []
        if self.accept("group"):
            group_by = self.take("by", self.var)
            while self.peek().kind == "var":
                group_by.append(self.var())
        if self.accept("having"):
            self.expect("(")
            fn = self.call()
            if fn not in ("count", "sum"):
                raise self.error("having must be 'count([distinct] ?v|*) op N' or 'sum(?v) op N'")
            self.take(fn, "(")
            distinct = fn == "count" and self.accept("distinct") is not None
            var = None if fn == "count" and self.accept("*") else self.var()
            cmp, n = self.take(")", _CMP, self.uint if fn == "count" else self.sint, ")")
            having = (Aggregate(fn=fn, var=var, alias="__having", distinct=distinct), cmp, n)
        if self.accept("order"):
            self.expect("by")
            while self.peek().kind == "var" or self.call() in ("asc", "desc") or not order:
                if self.call() in ("asc", "desc"):
                    desc, v = self.next().text.lower() == "desc", self.take("(", self.var, ")")[0]
                else:
                    v = self.var()
                    suffix = self.accept("asc", "desc") if self.call() is None else None
                    desc = suffix is not None and suffix.text.lower() == "desc"
                order.append((v, desc))
        if self.accept("limit"):
            limit = self.uint31()
        if self.accept("offset"):
            offset = self.uint31()
        return group_by, having, order, limit, offset

    # ---- groups -----------------------------------------------------------
    def group(self, g: _Group, opts: list[_Group]) -> None:
        """``{ … }`` of a WHERE clause (``g.parent is None``, every clause)
        or of an OPTIONAL body (patterns, filters, nested optionals)."""
        brace = self.expect("{")
        top = g.parent is None
        if top and self.at("{") and not self.at("select", k=1):
            g.union = [self.block("union branch", _KEYWORDS)]
            while self.accept("union"):
                g.union.append(self.block("union branch", _KEYWORDS))
            if len(g.union) < 2:
                raise self.error("expected 'union'")
            self.expect("}")
            return
        stream: list = []
        while not self.at("}"):
            t = self.peek()
            kw = t.text.lower()
            if kw == "filter":
                self.next()
                if self.at("exists") or (self.at("not") and self.at("exists", k=1)):
                    if not top:
                        raise self.error("filter [not] exists inside an optional group")
                    positive = self.accept("not") is None
                    self.next()
                    g.exists.append((positive, self.block("exists group", ("filter", "union"))))
                else:
                    self.filter(g.filters)
            elif kw == "optional" and (top or self.at("{", k=1)):
                self.next()
                child = _Group(parent=g)
                opts.append(child)
                self.group(child, opts)
                if not child.triples:
                    raise self.error("empty optional group", t)
                g.height = max(g.height, child.height + 1)
            elif top and kw == "minus":
                self.next()
                g.minuses.append(self.block("minus group", ("filter", "union")))
            elif top and kw == "values":
                self.next()
                self.values(g.filters)
            elif top and kw == "bind":
                self.next()
                self.bind(g.binds)
            elif top and kw == "{" and self.at("select", k=1):
                if g.subquery is not None:
                    raise self.error("at most one subquery group is supported")
                self.take("{", "select")
                g.subquery = self.select()
                g.subquery.text = self.text[t.end : self.expect("}").pos].strip()
            else:
                self.word(stream, ("union",))
                continue
            self.accept(".")
        self.next()
        g.triples = self.triples(stream)
        if top and not g.triples and g.subquery is None:
            raise self.error("empty where clause", brace)

    def block(self, what: str, reserved: tuple[str, ...]) -> list:
        """``{ triples }`` with no clauses (union branch, minus, exists,
        construct template)."""
        brace = self.expect("{")
        stream: list = []
        while not self.at("}"):
            self.word(stream, reserved)
        self.next()
        triples = self.triples(stream)
        if not triples:
            raise self.error(f"empty {what}", brace)
        return triples

    def word(self, stream: list, reserved: tuple[str, ...]) -> None:
        """Append a ``.`` or one whitespace-delimited term to ``stream``."""
        t = self.peek()
        if t.text == ".":
            stream.append(self.next())
            return
        if t.kind == "eof":
            raise self.error("expected '}'")
        if t.text == "{" or (t.kind == "name" and t.text.lower() in reserved):
            raise self.error("unexpected")
        word = [self.next()]
        while self.peek().pos == word[-1].end and self.peek().text not in ("", ".", "{", "}"):
            word.append(self.next())
        stream.append(word)

    def triples(self, stream: list) -> list:
        """Split a term stream on ``.`` into (subject, hops, object) triples;
        trailing dots are allowed, an empty pattern elsewhere is not."""
        last_term = max((k for k, x in enumerate(stream) if isinstance(x, list)), default=-1)
        out, piece = [], []
        for k, item in enumerate(stream + [None]):
            if isinstance(item, list):
                piece.append(item)
            elif not piece and k < last_term:
                raise self.error("expected a triple pattern before '.'", item)
            elif piece:
                if len(piece) != 3:
                    raise self.error("a triple pattern needs exactly 3 terms", piece[0][0])
                out.append((self.node(piece[0]), self.path(piece[1]), self.node(piece[2])))
                piece = []
        return out

    def node(self, word: list[_Tok]) -> str:
        t = word[0]
        if len(word) == 1 and t.kind in ("var", "iri", "name", "str"):
            return t.text
        if len(word) == 2 and t.text == "-" and word[1].text.isdigit():
            return "-" + word[1].text
        if t.text == "<":
            raise self.error("unterminated IRI ('<' needs a '>' with no whitespace inside)", t)
        if any(x.text in ("^", "|", "/", "+", "*", "?") for x in word):
            raise self.error("path markers are only valid on a predicate", t)
        raise self.error("malformed term", t)

    def path(self, word: list[_Tok]) -> list[str]:
        """A predicate word: a variable or a constant path, as hop texts."""
        if len(word) == 1 and word[0].kind == "var":
            return [word[0].text]
        hops: list[str] = []
        hop: list[_Tok] = []
        for t in word + [None]:
            if t is not None and t.text != "/":
                hop.append(t)
                continue
            self.step(hop, t or word[-1])
            hops.append("".join(x.text for x in hop))
            hop = []
        if len(hops) > 1 and word[0].text == "!":
            raise self.error("a negated property set cannot start a sequence path", word[0])
        return hops

    def step(self, hop: list[_Tok], at: _Tok) -> None:
        """Validate one path step (one hop of a sequence path)."""
        if not hop:
            raise self.error("empty property-path step", at)
        first, n = hop[0].text, len(hop)
        if first == "!":
            negated = hop[2:-1] if n > 2 and hop[1].text == "(" and hop[-1].text == ")" else hop[1:]
            ok = _alternatives(negated, 1)
        elif first == "^":
            ok = n == 2 and _alternatives(hop[1:], 1)
        elif first == "(":
            ok = n > 3 and hop[-2].text == ")" and hop[-1].text == "+" and _alternatives(hop[1:-2], 2)
        elif n == 2 and hop[1].text in ("+", "*", "?"):
            ok = _alternatives(hop[:1], 1)
        else:
            ok = _alternatives(hop, 1)
        if not ok:
            raise self.error(
                "malformed property path (one of p+ p* p? ^p p|q (p|q)+ !p !(p|q) per step,"
                " constant predicates only)", hop[0],
            )

    # ---- clauses ----------------------------------------------------------
    def filter(self, out: list) -> None:
        fn = self.call()
        if fn in ("regex", "contains", "strstarts", "strends"):
            var, pat = self.take(fn, "(", self.var, ",", self.string, ")")
            if fn == "regex":
                out.append((_RANK["regex"], Filter(kind="regex", var=var, pattern=pat)))
            else:
                out.append((_RANK["strfn"], Filter(kind="str", var=var, op=fn, pattern=pat)))
            return
        self.expect("(")
        tree = self.expr()
        self.expect(")")
        out.append(self.lower(tree, top=True))

    def expr(self) -> tuple:
        """``unary {op unary}`` with one connective per level, as a tree of
        ("bool", op, parts) / ("not", tree) / ("atom", rank, Filter, tok)."""
        parts = [self.unary()]
        op = None
        while self.at("||", "&&"):
            t = self.next()
            if op not in (None, t.text):
                raise self.error("mixed || and && in one filter require explicit grouping", t)
            op = t.text
            parts.append(self.unary())
        return parts[0] if op is None else ("bool", op, parts)

    def unary(self) -> tuple:
        if self.at("!") and self.at("(", k=1):
            return ("not", self.take("!", "(", self.expr, ")")[0])
        if self.at("("):
            return self.take("(", self.expr, ")")[0]
        tok = self.peek()
        return ("atom", *self.atom(), tok)

    def lower(self, tree: tuple, top: bool) -> tuple[int, Filter]:
        """A filter tree as (rank, Filter).  Under a connective or ``!`` only
        row-local atoms are allowed: a string function needs its own
        dictionary join, which cannot sit inside a disjunction."""
        if tree[0] == "atom":
            _, rank, f, tok = tree
            if not top and rank <= _RANK["substr"]:
                raise self.error("string functions cannot be combined with || / && / !", tok)
            return rank, f
        op, parts = ("!", [tree[1]]) if tree[0] == "not" else tree[1:]
        parts = tuple(self.lower(p, False)[1] for p in parts)
        return _RANK["boolop"], Filter(kind="boolop", var="", op=op, parts=parts)

    def atom(self) -> tuple[int, Filter]:
        neg = self.accept("!") is not None
        fn = self.call()
        if neg and fn not in ("bound", "isnumeric", "sameterm"):
            raise self.error("'!' must be followed by '(', bound, isNumeric or sameTerm")
        if fn is None:
            return self.var_atom()
        if fn not in _FILTER_FNS:
            raise self.error("unsupported filter function")
        var = self.take(fn, "(", self.var)[0]
        if fn in ("bound", "isnumeric"):
            self.expect(")")
            kind = "bound" if fn == "bound" else "isnum"
            return _RANK[kind], Filter(kind=kind, var=var, op="!" if neg else "")
        if fn == "sameterm":
            f = self.take(",", lambda: self.cmp_rhs(var, "!=" if neg else "="), ")")[0]
            return _RANK["sameterm"], f
        if fn == "abs":
            arith, rhs, cmp, n = self.take(_ARITH, self.var, ")", _CMP, self.sint)
            return _RANK["abs"], Filter(
                kind="arith2", var=var, lhs_op=arith, rhs_var=rhs, op=cmp, rhs_num=n, abs_fn=True
            )
        if fn == "strlen":
            cmp, n = self.take(")", _CMP, self.uint)
            return _RANK["strlen"], Filter(kind="strlen", var=var, op=cmp, rhs_num=n)
        if fn in ("ucase", "lcase"):
            cmp, lit = self.take(")", _EQ, self.string)
            return _RANK["case"], Filter(kind="str", var=var, op=fn, lhs_op=cmp, pattern=lit)
        arg_tok = self.peek(1)
        if fn == "substr":
            start = self.take(",", self.uint31)[0]
            if start < 1:
                raise self.error("substr start position must be >= 1", arg_tok)
            length = self.uint31() if self.accept(",") else None
            cmp, lit = self.take(")", _EQ, self.string)
            return _RANK["substr"], Filter(
                kind="str", var=var, op="substr", lhs_num=start, rhs_num=length, lhs_op=cmp,
                pattern=lit,
            )
        pat = self.take(",", self.string)[0]
        if fn in ("contains", "strstarts", "strends"):
            self.expect(")")
            return _RANK["contains"], Filter(kind="str", var=var, op=fn, pattern=pat)
        rep = self.take(",", self.string)[0] if fn == "replace" else None
        if fn != "replace" and not pat:
            raise self.error(f"{fn} separator must be non-empty", arg_tok)
        cmp, lit = self.take(")", _EQ, self.string)
        return _RANK["replace" if rep is not None else "slice"], Filter(
            kind="str", var=var, op=fn, pattern=pat, rhs_var=rep, lhs_op=cmp, rhs_const=lit
        )

    def var_atom(self) -> tuple[int, Filter]:
        var = self.var()
        if self.at("in") or (self.at("not") and self.at("in", k=1)):
            negated = self.accept("not") is not None
            self.take("in", "(")
            items = [self.in_item()]
            while self.accept(","):
                items.append(self.in_item())
            self.expect(")")
            if len(set(items)) != len(items):
                raise self.error("duplicate constants in IN list")
            return _RANK["in"], Filter(
                kind="in", var=var, op="!" if negated else "", consts=tuple(items)
            )
        if self.at(*_ARITH):
            arith = self.next().text
            if self.peek().kind == "var":
                rhs, cmp, n = self.take(self.var, _CMP, self.sint)
                return _RANK["arith2"], Filter(
                    kind="arith2", var=var, lhs_op=arith, rhs_var=rhs, op=cmp, rhs_num=n
                )
            num, cmp, n = self.take(self.sint, _CMP, self.sint)
            return _RANK["arith"], Filter(
                kind="arith", var=var, lhs_op=arith, lhs_num=num, op=cmp, rhs_num=n
            )
        cmp = self.op(_CMP)
        if self.is_sint():
            return _RANK["arith"], Filter(kind="arith", var=var, op=cmp, rhs_num=self.sint())
        return _RANK["cmp"], self.cmp_rhs(var, cmp)

    def in_item(self) -> str:
        if self.peek().kind == "var" or self.at(",", ")"):
            raise self.error("IN list items must be constants, one between each pair of commas")
        return self.const()

    def cmp_rhs(self, var: str, op: str) -> Filter:
        if self.peek().kind == "var":
            return Filter(kind="cmp", var=var, op=op, rhs_var=self.var())
        return Filter(kind="cmp", var=var, op=op, rhs_const=self.const())

    def values(self, out: list) -> None:
        """VALUES lowered to an IN filter (one variable) or a row-IN filter
        (a None slot is UNDEF).  Duplicates are rejected: the predicate
        lowering cannot reproduce bag multiplicity."""
        t = self.peek()
        if not self.accept("("):
            var = self.take(self.var, "{")[0]
            items = []
            while not self.accept("}"):
                if self.peek().kind == "var":
                    raise self.error("values items must be constants")
                items.append(self.const())
            if not items or len(set(items)) != len(items):
                raise self.error("values needs distinct constants", t)
            out.append((_RANK["values"], Filter(kind="in", var=var, consts=tuple(items))))
            return
        vars_ = [self.var()]
        while not self.accept(")"):
            vars_.append(self.var())
        if len(set(vars_)) != len(vars_):
            raise self.error("duplicate variables in values clause", t)
        self.expect("{")
        rows: list[tuple[str | None, ...]] = []
        while not self.accept("}"):
            row_tok = self.expect("(")
            row: list[str | None] = []
            while not self.accept(")"):
                if self.peek().kind == "var":
                    raise self.error("values rows must be constants or UNDEF")
                row.append(None if self.accept("undef") else self.const())
            if len(row) != len(vars_):
                raise self.error(f"values row arity {len(row)} != {len(vars_)} variables", row_tok)
            rows.append(tuple(row))
        if not rows or len(set(rows)) != len(rows):
            raise self.error("values needs distinct rows", t)
        out.append((_RANK["values_rows"], Filter(
            kind="in_rows", var=vars_[0], vars_=tuple(vars_), rows=tuple(rows)
        )))

    def bind(self, out: list) -> None:
        """BIND forms, each appended with its listing rank: a query's binds
        are listed by form (coalesce, concat, str, if, arith2, arith, plain),
        then by position."""
        fn_tok = self.take("(", self.peek)[0]
        fn = self.call()
        if fn in ("coalesce", "concat"):
            def arg() -> tuple[str, str]:
                if fn == "concat" and self.peek().kind == "str":
                    return ("l", self.string())
                return ("v", self.var())

            args = self.take(fn, "(", arg)
            while self.accept(","):
                args.append(arg())
            self.expect(")")
            if fn == "coalesce" and len(args) < 2:
                raise self.error("coalesce needs at least two variables", fn_tok)
            if fn == "concat" and all(k == "l" for k, _ in args):
                raise self.error("concat() must reference at least one variable", fn_tok)
            src = tuple(v for _, v in args) if fn == "coalesce" else tuple(args)
            rank, kind = (0 if fn == "coalesce" else 1), fn
        elif fn == "str":
            rank, kind, src = 2, "concat", (("v", self.take(fn, "(", self.var, ")")[0]),)
        elif fn == "if":
            src = self.take(fn, "(", self.var, _CMP, self.sint, ",", self.sint, ",", self.sint, ")")
            rank, kind, src = 3, "if", tuple(src)
        elif fn is not None:
            raise self.error("unsupported bind function")
        elif self.peek().kind == "var" and self.at(*_ARITH, k=1):
            var, arith = self.take(self.var, _ARITH)
            if self.peek().kind == "var":
                rank, kind, src = 4, "arith2", (var, arith, self.var())
            else:
                rank, kind, src = 5, "arith", (var, arith, self.sint())
        elif self.peek().kind == "var":
            rank, kind, src = 6, "var", self.var()
        else:
            rank, kind, src = 6, "const", self.const()
        out.append((rank, (kind, src, self.take("as", self.var, ")")[0])))


def parse_sparql(text: str) -> ParsedQuery:
    """Parse one query of the supported subset (see the module docstring)."""
    return _Parser(text).query()


def _assemble(head: tuple, g: _Group, mods: tuple) -> ParsedQuery:
    """Number the patterns and run the checks that need the whole query."""
    distinct, items, star = head
    group_by, having, order, limit, offset = mods
    plain = [x for x in items if isinstance(x, str)]
    aggregates = [x for x in items if isinstance(x, Aggregate)]
    projection = [] if star else plain
    if aggregates:
        aliases = [a.alias for a in aggregates]
        # case-INSENSITIVE collision check: Spark resolves column names
        # case-insensitively by default, so ?c vs ?C is ambiguous there
        dup = {a.lower() for a in aliases} & {v.lower() for v in plain}
        not_grouped = [v for v in plain if v not in group_by]
        for bad, msg in (
            (star, "select * cannot be combined with aggregates"),
            (distinct, "select distinct with aggregates is not supported"),
            (dup, f"aggregate alias collides with projected variable: {sorted(dup)}"),
            (len(set(aliases)) != len(aliases), "duplicate aggregate aliases"),
            (not_grouped, f"projected variables not in group by: {not_grouped}"),
            (g.union, "aggregates combined with union are not supported"),
        ):
            if bad:
                raise SparqlSyntaxError(msg)
        projection = [x if isinstance(x, str) else x.alias for x in items]
    elif group_by:
        raise SparqlSyntaxError("group by requires at least one aggregate projection")
    elif having is not None:
        raise SparqlSyntaxError(
            "having requires an aggregate projection (the translator's "
            "grouped path carries the having filter)"
        )
    common = dict(projection=projection, distinct=distinct, order=order, limit=limit, offset=offset)
    if g.union:
        branches: list[list[Condition]] = []
        for raw in g.union:
            branches.append(_expand(raw, 1 + sum(map(len, branches))))
        return _validate(ParsedQuery(conditions=branches[0], union_branches=branches, **common))
    conditions = _expand(g.triples, 1)
    if not conditions:
        raise SparqlSyntaxError("a subquery must be joined to at least one triple pattern")
    required_vars = {v for c in conditions for v in c.variables()}
    if g.subquery is not None:
        _check_subquery(g.subquery, required_vars)
    # optional groups innermost first: by nesting height, then position
    nodes = sorted(g.optionals, key=lambda n: n.height)
    index = {id(n): i for i, n in enumerate(nodes)}
    parents = [-1 if n.parent is g else index[id(n.parent)] for n in nodes]
    cid = len(conditions) + 1
    groups: list[list[Condition]] = []
    for raw in [n.triples for n in nodes] + g.minuses + [raw for _, raw in g.exists]:
        groups.append(_expand(raw, cid))
        cid += len(groups[-1])
    optionals, minuses = groups[: len(nodes)], groups[len(nodes) : len(nodes) + len(g.minuses)]
    exists_grps = groups[len(nodes) + len(minuses) :]
    exists = [(positive, grp) for (positive, _), grp in zip(g.exists, exists_grps)]
    # MINUS with disjoint domains removes nothing and a variable-disjoint
    # EXISTS is a global gate, not a per-row filter: the anti-/semi-join
    # lowerings need a shared variable
    for grp, what in [(m, "minus") for m in minuses] + [(e, "filter exists") for _, e in exists]:
        if not {v for c in grp for v in c.variables()} & required_vars:
            raise SparqlSyntaxError(f"{what} group shares no variable with the required patterns")
    _check_optionals(required_vars, optionals, parents)
    return _validate(ParsedQuery(
        conditions=conditions,
        having=having,
        filters=[f for _, f in sorted(g.filters, key=lambda rf: rf[0])],
        optionals=optionals,
        optional_filters=[[f for _, f in sorted(n.filters, key=lambda rf: rf[0])] for n in nodes],
        optional_parent=parents,
        minuses=minuses,
        exists_groups=exists,
        aggregates=aggregates,
        group_by=group_by,
        subquery=g.subquery,
        binds=[b for _, b in sorted(g.binds, key=lambda rb: rb[0])],
        **common,
    ))


def _check_subquery(sub: ParsedQuery, outer_vars: set[str]) -> None:
    if not (set(sub.projection) & outer_vars):
        raise SparqlSyntaxError("subquery shares no projected variable with the outer patterns")
    # case-insensitive: Spark column resolution would see ?cnt vs ?CNT
    # as the same name and fail with AMBIGUOUS_REFERENCE
    clash = {a.alias.lower() for a in sub.aggregates} & {v.lower() for v in outer_vars}
    if clash:
        raise SparqlSyntaxError(
            f"subquery aggregate alias collides with an outer pattern variable: {sorted(clash)}"
        )
    # same hazard for PLAIN projected variables: an exact-name match is
    # the intended join key, but a case-only difference (?c vs ?C)
    # joins under Spark's case-insensitive resolution while remaining
    # two distinct columns — reject it
    for v in sub.projection:
        twins = {w for w in outer_vars if w.lower() == v.lower() and w != v}
        if twins:
            raise SparqlSyntaxError(
                f"subquery variable ?{v} differs only in case from outer "
                f"variable(s) {sorted(twins)} — Spark resolves column names "
                "case-insensitively; use the identical spelling to join"
            )


def _check_optionals(
    required_vars: set[str], optionals: list[list[Condition]], parents: list[int]
) -> None:
    """Variable-sharing rules the left-join lowering of OPTIONAL needs."""

    def _ancestors(i: int) -> set[int]:
        out: set[int] = set()
        while parents[i] != -1:
            i = parents[i]
            out.add(i)
        return out

    # a variable introduced by one optional group must not also be
    # introduced by another, UNLESS the two groups are ancestor/descendant
    # (a child sharing its parent's variables is exactly how nesting
    # correlates) — SPARQL allows sibling re-binding; our left-join
    # translation does not
    group_vars = [{v for c in grp for v in c.variables()} for grp in optionals]
    new_by_group = [gv - required_vars for gv in group_vars]
    for i, new in enumerate(new_by_group):
        related = _ancestors(i) | {j for j in range(len(optionals)) if i in _ancestors(j)}
        for j in range(i):
            clash = set() if j in related else new & new_by_group[j]
            if clash:
                raise SparqlSyntaxError(f"variable(s) bound in two optional groups: {sorted(clash)}")
    # exactness guard for the nested lowering: at every nesting level the
    # child SUBTREE (the group plus all its descendants) joins into its
    # parent on their shared variables.  A column the subtree carries only
    # from a deeper descendant is NULL-able inside the subtree result, so
    # every variable the subtree shares with ANY binding site outside
    # itself (the required patterns, an ancestor's own patterns, or a
    # disjoint group) must occur in the IMMEDIATE parent's own patterns —
    # otherwise the equi-join key at some level can be NULL and drop rows
    # SPARQL's compatibility keeps.
    subtree_vars = [set(gv) for gv in group_vars]
    # children fold into their parents (children sort before parents, so
    # this pass folds one level per group; the per-level check below sees
    # a deeper variable through every intermediate group that shares it)
    for i in range(len(optionals) - 1, -1, -1):
        if parents[i] != -1:
            subtree_vars[parents[i]] |= subtree_vars[i]
    for i, p in enumerate(parents):
        if p == -1:
            continue
        in_subtree = {i} | {j for j in range(len(optionals)) if i in _ancestors(j)}
        outside_bound = set(required_vars)
        for j in range(len(optionals)):
            if j not in in_subtree:
                outside_bound |= group_vars[j]
        loose = (subtree_vars[i] & outside_bound) - group_vars[p]
        if loose:
            raise SparqlSyntaxError(
                f"nested optional variable(s) {sorted(loose)} are bound both "
                "inside this subtree and outside it, but not in the immediate "
                "enclosing optional group — the equi-join lowering cannot "
                "express that compatibility"
            )


def _validate(q: ParsedQuery) -> ParsedQuery:
    aliases = {a.alias for a in q.aggregates}
    known = set(q.all_variables())
    if not q.projection:
        q.projection = q.all_variables()
    missing = [v for v in q.projection if v not in known and v not in aliases]
    if missing:
        raise SparqlSyntaxError(f"projected variables not bound in where clause: {missing}")
    bad_group = [v for v in q.group_by if v not in known]
    if bad_group:
        raise SparqlSyntaxError(f"group-by variables not bound in where clause: {bad_group}")
    bad_agg = [a.var for a in q.aggregates if a.var is not None and a.var not in known]
    if q.having is not None and q.having[0].var is not None and q.having[0].var not in known:
        bad_agg.append(q.having[0].var)
    if bad_agg:
        raise SparqlSyntaxError(f"aggregate variables not bound in where clause: {bad_agg}")
    bad_order = [v for v, _ in q.order if v not in q.projection]
    if bad_order:
        raise SparqlSyntaxError(f"order-by variables must be projected: {bad_order}")
    arith_aliases = q.numeric_bind_aliases()
    str_aliases = q.string_bind_aliases()
    for f in q.filters:
        unbound = [v for v in f.refs() if v not in known]
        if unbound:
            raise SparqlSyntaxError(f"filter variables not bound in where clause: {unbound}")
        # alias value-space checks apply PER LEAF OPERAND for boolop (each
        # leaf has its own kind and therefore its own reading of the
        # column; negation nodes nest, so flatten recursively)
        def _leaves(x):
            if x.kind == "boolop":
                for p in x.parts:
                    yield from _leaves(p)
            else:
                yield x

        for sub in _leaves(f):
            # an arithmetic BIND alias holds a plain NUMBER: only
            # arithmetic filters compare it meaningfully — an id-level
            # cmp/in/regex/bound over it would silently mix values with
            # dictionary ids
            misused = [v for v in sub.refs() if v in arith_aliases]
            if misused and sub.kind not in ("arith", "arith2"):
                raise SparqlSyntaxError(
                    f"only arithmetic filters may reference arithmetic bind "
                    f"alias(es) {misused} (they carry numbers, not ids)"
                )
            # a string BIND alias (concat/str) holds a decoded lexical: no
            # filter form applies to it — id comparisons would mix value
            # spaces and the string-function forms join the dict on what
            # they assume is an id column
            str_misused = [v for v in sub.refs() if v in str_aliases]
            if str_misused:
                raise SparqlSyntaxError(
                    f"filters over string bind alias(es) are not supported: "
                    f"{str_misused} (they carry strings, not ids)"
                )
    # group_concat decodes its variable through the dictionary — an
    # arithmetic bind alias is a plain number with no dictionary entry
    # (sum/avg/min/max/sample/count over aliases aggregate the VALUE and
    # are supported)
    bad_gc = [a.alias for a in q.aggregates if a.fn == "group_concat" and a.var in arith_aliases]
    if bad_gc:
        raise SparqlSyntaxError(
            f"group_concat over arithmetic bind alias(es) is not supported: {bad_gc}"
        )
    # string bind aliases: aggregation, grouping, and ordering all assume
    # id or numeric columns — reject every use beyond plain projection
    bad_sagg = [a.alias for a in q.aggregates if a.var in str_aliases]
    if q.having is not None and q.having[0].var in str_aliases:
        bad_sagg.append("__having")
    bad_sgrp = [v for v in q.group_by if v in str_aliases]
    bad_sord = [v for v, _ in q.order if v in str_aliases]
    if bad_sagg or bad_sgrp or bad_sord:
        raise SparqlSyntaxError(
            "aggregates/group-by/order-by over string bind aliases are not "
            f"supported: {sorted(set(bad_sagg + bad_sgrp + bad_sord))}"
        )
    # optional-group filters: group-local forms (all vars bound by the
    # group's own patterns) lower to a pre-join filter; cmp/arith forms may
    # also reference OUTER variables — they become part of the left-join
    # condition (full LeftJoin(P1, P2, E)) — provided those variables are
    # bound by the required patterns, the subquery, or an EARLIER group
    # (a later group's column does not exist yet at join time)
    prior = {v for c in q.conditions for v in c.variables() if not v.startswith("__seq")}
    if q.subquery is not None:
        prior |= set(q.subquery.projection)
    parents = list(q.optional_parent or [-1] * len(q.optionals))
    for gi, (grp, flts) in enumerate(zip(q.optionals, q.optional_filters)):
        gvars = {v for c in grp for v in c.variables()}
        for f in flts:
            outside = [v for v in f.refs() if v not in gvars]
            # NESTED groups lower inside their parent's subtree where no
            # outer column exists yet — both engines support group-local
            # filters only there; reject at parse, not mid-translation
            if outside and parents[gi] != -1:
                raise SparqlSyntaxError(
                    f"filters referencing variables outside a nested optional "
                    f"group are not supported (got {sorted(outside)})"
                )
            if outside and f.kind not in ("cmp", "arith"):
                raise SparqlSyntaxError(
                    f"only comparison/arithmetic optional-group filters may "
                    f"reference outer variables (got {f.kind!r} over {outside})"
                )
            unbound = [v for v in outside if v not in prior]
            if unbound:
                raise SparqlSyntaxError(
                    f"optional-group filter references variable(s) {unbound} not "
                    "bound by the required patterns or an earlier top-level group"
                )
        # only TOP-LEVEL groups export columns to later ON clauses: a
        # nested child renders inside its parent's subtree, and neither
        # engine exposes its variables to a later group's join condition
        # (parse order ≠ render order for nested children)
        if parents[gi] == -1:
            prior |= gvars
    _validate_binds(q)
    return q


def _validate_binds(q: ParsedQuery) -> None:
    aliases_b = [alias for _, _, alias in q.binds]
    if len({a.lower() for a in aliases_b}) != len(aliases_b):
        raise SparqlSyntaxError("duplicate bind aliases")
    # pattern-bound variables computed INDEPENDENTLY of the binds: an alias
    # spelled exactly like a bound variable must be caught too (SPARQL 1.1
    # makes rebinding an in-use variable a syntax error; the silent
    # alternative overwrites the column identically on both engines, which
    # the oracle cross-check could never catch)
    base_vars: set[str] = set()
    for grp in list(q.union_branches or [q.conditions]) + list(q.optionals):
        for c in grp:
            base_vars |= {v for v in c.variables() if not v.startswith("__seq")}
    if q.subquery is not None:
        base_vars |= set(q.subquery.projection)
    agg_aliases = {a.alias.lower() for a in q.aggregates}
    for kind, src_v, alias in q.binds:
        # alias must be NEW (case-insensitively — Spark resolution)
        if alias.lower() in {v.lower() for v in base_vars} or alias.lower() in agg_aliases:
            raise SparqlSyntaxError(
                f"bind alias ?{alias} collides with a bound variable or aggregate alias"
            )
        if kind in ("var", "const"):
            sources = [src_v] if kind == "var" else []
        elif kind == "concat":
            sources = [v for t, v in src_v if t == "v"]
        elif kind == "arith2":
            sources = [src_v[0], src_v[2]]
        elif kind == "coalesce":
            # pattern-bound id columns only: an arith alias (a plain
            # number) mixed into COALESCE would silently blend value
            # spaces; it is not in base_vars, so this check rejects it too
            sources = list(src_v)
        else:  # arith, if
            sources = [src_v[0]]
        missing = [v for v in sources if v not in base_vars]
        if missing:
            raise SparqlSyntaxError(f"bind source variable(s) not bound in where clause: {missing}")
