"""SPARQL parser + translator unit/e2e tests.

Mirrors the reference's test corpus shapes (SURVEY.md §5): star (LUBM Query4
analog), cycle (Query2 analog), chain, variable predicate, empty-result path,
plus parser unit coverage the reference never had.
"""

from __future__ import annotations

import pytest

from dream_spark.plans.oracle import bgp_to_sql
from dream_spark.plans.sparql import Filter, SparqlSyntaxError, parse_sparql
from tests.conftest import assert_oracle_match

Q_STAR = (
    "select ?O ?ST ?PR where { ?O type Order . ?O placedBy <customer:1> ."
    " ?O status ?ST . ?O priority ?PR }"
)
Q_CYCLE = (
    "select ?L ?C ?S ?N where { ?L suppliedBy ?S . ?S inNation ?N ."
    " ?C inNation ?N . ?O placedBy ?C . ?L ofOrder ?O }"
)
Q_PATH = "select ?L ?O ?C where { ?L ofOrder ?O . ?O placedBy ?C . ?C inNation <nation:5> }"
Q_VARPRED = "select ?P ?X where { <customer:1> ?P ?X }"
Q_EMPTY = "select ?X ?Y where { ?X type Region . ?X inNation ?Y }"


# ---- parser units ---------------------------------------------------------
def test_parse_star():
    q = parse_sparql(Q_STAR)
    assert q.projection == ["O", "ST", "PR"]
    assert len(q.conditions) == 4
    assert q.conditions[0].subj.is_var and not q.conditions[0].pred.is_var
    assert q.conditions[1].obj.lexical == "customer:1"


def test_parse_multiline_and_trailing_dot():
    q = parse_sparql("select ?A ?B where { ?A type Nation .\n  ?A inRegion ?B . }")
    assert len(q.conditions) == 2


def test_parse_star_projection():
    q = parse_sparql("select * where { ?A inRegion ?B }")
    assert q.projection == ["A", "B"]


def test_parse_distinct():
    assert parse_sparql("select distinct ?A where { ?A type Nation }").distinct


@pytest.mark.parametrize(
    "bad",
    [
        "where { ?a type Order }",
        "select ?a where { ?a type }",
        "select ?Z where { ?A type Order }",
        "select a where { ?a type Order }",
        "select ?a where { }",
        # integers Spark cannot hold as an int (limit/offset/substring)
        "select ?a where { ?a type Order } limit 2147483648",
        "select ?a where { ?a type Order } offset 2147483648",
        'select ?a where { ?a name ?n . filter (substr(?n, 2147483648) = "x") }',
        'select ?a where { ?a name ?n . filter (substr(?n, 1, 2147483648) = "x") }',
        # empty IN list items
        "select ?a where { ?a inNation ?n . filter (?n in (<a>,)) }",
        "select ?a where { ?a inNation ?n . filter (?n in (<a>,,<b>)) }",
    ],
)
def test_parse_errors(bad):
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(bad)


@pytest.mark.parametrize(
    "bad,line,col",
    [
        ("select ?a where {\n  ?a p <abc }", 2, 8),  # unterminated '<'
        ("select ?a where { ?a p ?b", 1, 26),  # missing '}' (end of text)
        ("select ?a where { ?a p ?b }\nlimit ten", 2, 7),  # non-integer limit
    ],
)
def test_parse_error_positions(bad, line, col):
    with pytest.raises(SparqlSyntaxError) as err:
        parse_sparql(bad)
    assert (err.value.line, err.value.col) == (line, col)
    assert f"line {line}, column {col}" in str(err.value)


# ---- end-to-end vs duckdb oracle -----------------------------------------
@pytest.mark.parametrize(
    "qtext",
    [Q_STAR, Q_CYCLE, Q_PATH, Q_VARPRED, Q_EMPTY],
    ids=["star", "cycle5", "path", "varpred", "empty"],
)
def test_bgp_oracle_match(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_decode_oracle_match(engine, duck):
    q = parse_sparql(Q_STAR)
    assert_oracle_match(engine.sparql(Q_STAR, decode=True), duck, bgp_to_sql(q, decode=True))


def test_distinct_oracle_match(engine, duck):
    qtext = "select distinct ?N where { ?C type Customer . ?C inNation ?N }"
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


def test_empty_returns_zero_rows_fast(engine):
    # The reference's empty short-circuit (Proxy.c:71-85) — here AQE
    # propagates the empty relation; assert the result only.
    assert engine.sparql(Q_EMPTY).count() == 0


def test_ground_pattern(engine, duck):
    qtext = "select ?X where { <customer:1> type Customer . ?X placedBy <customer:1> }"
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


def test_unknown_constant_empty(engine):
    """A term absent from the data matches nothing — valid SPARQL, empty
    result, never an error (UNKNOWN_ID sentinel; the oracle-matched
    variants live in test_unknown_constant_matches_nothing)."""
    assert engine.sparql("select ?a where { ?a type <NoSuchThing> }").count() == 0


def test_parse_quoted_constants_are_unquoted():
    """A quoted string constant resolves to its bare lexical wherever a
    constant can stand; string-function arguments are strings already."""
    q = parse_sparql(
        'select ?X where { ?X name "abc" . filter (?X = "abc") . filter (?X in ("abc", <d>))'
        ' values ?X { "abc" } }'
    )
    assert q.conditions[0].obj.lexical == "abc"
    assert sorted((f.kind, f.rhs_const or f.consts) for f in q.filters) == [
        ("cmp", "abc"), ("in", ("abc",)), ("in", ("abc", "d"))
    ]
    q = parse_sparql('select ?X ?Y where { ?X name ?Y . values (?X ?Y) { (<a> "b c") } }')
    assert q.filters[0].rows == (("a", "b c"),)
    q = parse_sparql('select ?X where { ?X name ?Y . filter contains(?Y, "a") }')
    assert q.filters[0].pattern == "a"


def test_quoted_name_constant_matches(engine, duck):
    """``?C name "Customer#000000001"`` finds customer 1 (the dictionary
    stores name literals unquoted), as a pattern and as a filter."""
    from dream_spark.sources.triples import DICT_SQL, UNKNOWN_ID, resolve_lexical

    def resolve(lex):
        rid = resolve_lexical(lex)
        if rid is None:
            row = duck.execute(f"SELECT id FROM ({DICT_SQL}) WHERE lexical = ?", [lex]).fetchone()
            rid = row[0] if row else UNKNOWN_ID
        return rid

    for qtext in (
        'select ?C where { ?C name "Customer#000000001" }',
        'select ?C where { ?C name ?NM . filter (?NM = "Customer#000000001") }',
    ):
        df = engine.sparql(qtext, decode=True)
        assert [tuple(r) for r in df.collect()] == [("customer:1",)]
        assert_oracle_match(df, duck, bgp_to_sql(parse_sparql(qtext), decode=True, resolver=resolve))


# ---- planner behavior -----------------------------------------------------
def test_greedy_order_starts_selective(engine):
    """The constant-object pattern (placedBy <customer:1>) must be joined
    first — it is the most selective (reference analog: smallest subquery
    first, PlanCostEstimator result-size ordering)."""
    from dream_spark.plans.translator import greedy_order

    q = parse_sparql(Q_STAR)
    est = {c.cid: engine.stats.pattern_cardinality(
        None if c.pred.is_var else engine.store.resolve(c.pred.lexical),
        not c.subj.is_var,
        not c.obj.is_var,
    ) for c in q.conditions}
    order = greedy_order(q.conditions, est)
    assert order[0].obj.lexical == "customer:1"


def test_pushed_filters_reach_scan(engine):
    """Constant filters must reach the store scan.  With the open-store
    (cached) layout that is a filtered InMemoryTableScan (batch-stat
    pruning); on the derive-per-query path it is a parquet PushedFilters."""
    plan = engine.explain("select ?O ?ST where { ?O placedBy <customer:1> . ?O status ?ST }")
    assert "PushedFilters" in plan or "InMemoryTableScan" in plan


# ---- ASK superset ----------------------------------------------------------
def test_ask_parse():
    q = parse_sparql("ask { ?O placedBy <customer:1> }")
    assert q.ask and len(q.conditions) == 1
    q2 = parse_sparql("ask where { ?X type Region . ?X inNation ?Y }")
    assert q2.ask and len(q2.conditions) == 2


def test_ask_semantics(engine, duck):
    pos = engine.sparql("ask { ?O placedBy <customer:1> . ?O status ?ST }")
    assert [r["ask_result"] for r in pos.collect()] == [True]
    neg = engine.sparql("ask where { ?X type Region . ?X inNation ?Y }")
    assert [r["ask_result"] for r in neg.collect()] == [False]
    from dream_spark.plans.oracle import bgp_to_sql

    for text, want in [
        ("ask { ?O placedBy <customer:1> . ?O status ?ST }", True),
        ("ask where { ?X type Region . ?X inNation ?Y }", False),
    ]:
        assert duck.execute(bgp_to_sql(parse_sparql(text))).fetchone()[0] is want


# ---- CONSTRUCT superset -----------------------------------------------------
def test_construct_parse_and_validate():
    q = parse_sparql(
        "construct { ?C inNation ?N } where { ?C type Customer . ?C inNation ?N }"
    )
    assert len(q.construct_template) == 1 and len(q.conditions) == 2
    import pytest as _pytest

    from dream_spark.plans.sparql import SparqlSyntaxError

    with _pytest.raises(SparqlSyntaxError):
        parse_sparql("construct { ?Z inNation ?N } where { ?C inNation ?N }")


def test_construct_semantics(engine, duck):
    from dream_spark.plans.oracle import bgp_to_sql

    text = (
        "construct { ?C inNation ?N . ?C type Customer } "
        "where { ?C type Customer . ?C inNation ?N }"
    )
    df = engine.sparql(text)
    assert df.columns == ["s", "p", "o"]
    n_cust = engine.sparql("select ?C where { ?C type Customer }").count()
    assert df.count() == 2 * n_cust  # two template triples per binding
    spark_rows = sorted(map(tuple, df.collect()))
    duck_rows = sorted(map(tuple, duck.execute(bgp_to_sql(parse_sparql(text))).fetchall()))
    assert spark_rows == duck_rows
    # decoded form renders lexicals
    dec = engine.sparql(text, decode=True)
    one = dec.where(dec.p == "type").limit(1).collect()
    assert one and one[0]["o"] == "Customer"


# ---- DESCRIBE + FILTER ordering supersets ----------------------------------
def test_describe_semantics(engine, duck):
    from dream_spark.plans.oracle import bgp_to_sql

    df = engine.sparql("describe <customer:1>")
    assert df.columns == ["s", "p", "o"]
    spark_rows = sorted(map(tuple, df.collect()))
    duck_rows = sorted(
        map(tuple, duck.execute(bgp_to_sql(parse_sparql("describe <customer:1>"))).fetchall())
    )
    assert spark_rows == duck_rows and len(spark_rows) > 0
    dec = engine.sparql("describe <customer:1>", decode=True)
    assert any(r["s"] == "customer:1" or r["o"] == "customer:1" for r in dec.collect())


def test_filter_ordering_comparisons(engine, duck):
    from dream_spark.plans.oracle import bgp_to_sql

    for op in ("<", "<=", ">", ">="):
        text = (
            f"select ?C where {{ ?C type Customer . filter (?C {op} <customer:10>) }}"
        )
        got = sorted(r["C"] for r in engine.sparql(text).collect())
        want = sorted(r[0] for r in duck.execute(bgp_to_sql(parse_sparql(text))).fetchall())
        assert got == want, op


# ---- ORDER BY / LIMIT superset --------------------------------------------
def test_order_by_limit_parse():
    q = parse_sparql("select ?A ?B where { ?A placedBy ?B } order by ?A desc ?B limit 7")
    assert q.order == [("A", True), ("B", False)]
    assert q.limit == 7


def test_order_by_unprojected_raises():
    from dream_spark.plans.sparql import SparqlSyntaxError

    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?A where { ?A placedBy ?B } order by ?B")


def test_topk_oracle(engine, duck):
    qtext = "select ?O ?C where { ?O type Order . ?O placedBy ?C } order by ?O desc limit 20"
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


def test_topk_decoded_oracle(engine, duck):
    qtext = "select ?C ?N where { ?C type Customer . ?C name ?N } order by ?N limit 5"
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=True), duck, bgp_to_sql(q, decode=True))


# ---- FILTER / OPTIONAL superset -------------------------------------------
def test_parse_filter_and_optional():
    q = parse_sparql(
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } ."
        ' filter (?C != <customer:1>) . filter regex(?C, "x") }'
    )
    assert len(q.conditions) == 1
    assert len(q.optionals) == 1 and len(q.optionals[0]) == 1
    kinds = sorted(f.kind for f in q.filters)
    assert kinds == ["cmp", "regex"]


def test_parse_filter_unbound_var_raises():
    from dream_spark.plans.sparql import SparqlSyntaxError

    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?A where { ?A placedBy ?B . filter (?Z != ?A) }")


def test_parse_two_optionals_same_new_var_raises():
    from dream_spark.plans.sparql import SparqlSyntaxError

    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?A where { ?A type Customer . optional { ?O placedBy ?A } ."
            " optional { ?O status ?A } }"
        )


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } }", False),
        (
            "select ?C ?N ?O where { ?C type Customer . ?C inNation ?N ."
            " optional { ?O placedBy ?C . ?O status <F> } }",
            False,
        ),
        ("select ?C ?N where { ?C type Customer . ?C inNation ?N . filter (?N != <nation:5>) }", False),
        (
            "select ?L ?S ?C where { ?L suppliedBy ?S . ?L ofOrder ?O . ?O placedBy ?C ."
            " ?C inNation ?N1 . ?S inNation ?N2 . filter (?N1 = ?N2) }",
            False,
        ),
        ('select ?C ?NM where { ?C type Customer . ?C name ?NM . filter regex(?NM, "1$") }', False),
        ("select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } }", True),
    ],
)
def test_filter_optional_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_parse_string_filters():
    q = parse_sparql(
        'select ?C ?NM where { ?C name ?NM . filter contains(?NM, "x") .'
        ' filter (strstarts(?NM, "Cu")) . filter (strlen(?NM) > 5) }'
    )
    kinds = sorted((f.kind, f.op) for f in q.filters)
    assert kinds == [("str", "contains"), ("str", "strstarts"), ("strlen", ">")]
    with pytest.raises(SparqlSyntaxError):
        parse_sparql('select ?A where { ?A name ?NM . filter contains(?Z, "x") }')


@pytest.mark.parametrize(
    "qtext,decode",
    [
        # CONTAINS substring test on the decoded lexical
        ('select ?C where { ?C type Customer . ?C name ?NM . filter contains(?NM, "00001") }', False),
        # STRSTARTS and parenthesized form
        ('select ?R ?NM where { ?R type Region . ?R name ?NM . filter (strstarts(?NM, "A")) }', False),
        # STRENDS suffix
        ('select ?N ?NM where { ?N type Nation . ?N name ?NM . filter strends(?NM, "1") }', False),
        # STRLEN comparison; string filters compose with decode
        ('select ?N ?NM where { ?N type Nation . ?N name ?NM . filter (strlen(?NM) <= 8) }', True),
        # literal, NOT regex semantics: a regex metacharacter matches itself
        ('select ?C where { ?C type Customer . ?C name ?NM . filter contains(?NM, "Customer#") }', False),
        # string filter INSIDE an optional group: applies before the left
        # join, unmatched lefts keep NULLs
        (
            "select ?C ?NM where { ?C type Customer ."
            ' optional { ?C name ?NM . filter contains(?NM, "00001") } }',
            False,
        ),
    ],
)
def test_string_filter_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_parse_case_substr_filters():
    q = parse_sparql(
        'select ?C ?NM where { ?C name ?NM . filter (ucase(?NM) = "X") .'
        ' filter (lcase(?NM) != "y") . filter (substr(?NM, 2, 3) = "abc") .'
        ' filter (substr(?NM, 4) != "zz") }'
    )
    got = sorted(
        (f.op, f.lhs_op, f.lhs_num, f.rhs_num, f.pattern) for f in q.filters
    )
    assert got == [
        ("lcase", "!=", None, None, "y"),
        ("substr", "!=", 4, None, "zz"),
        ("substr", "=", 2, 3, "abc"),
        ("ucase", "=", None, None, "X"),
    ]
    # SPARQL substr is 1-based; 0 would diverge across engines
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            'select ?A where { ?A name ?NM . filter (substr(?NM, 0, 2) = "ab") }'
        )


@pytest.mark.parametrize(
    "qtext,decode",
    [
        # UCASE fold is load-bearing: part names are lowercase in the data
        (
            'select ?P ?NM where { ?P type Part . ?P name ?NM .'
            ' filter (ucase(?NM) = "RED PLATE") }',
            False,
        ),
        # LCASE over already-uppercase region names, negated
        (
            'select ?R ?NM where { ?R type Region . ?R name ?NM .'
            ' filter (lcase(?NM) != "asia") }',
            True,
        ),
        # 3-arg SUBSTR positional digit test (1-based, SPARQL §17.4.3.3)
        (
            'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
            ' filter (substr(?NM, 15, 1) = "1") }',
            False,
        ),
        # 2-arg SUBSTR: start through end of string
        (
            'select ?N ?NM where { ?N type Nation . ?N name ?NM .'
            ' filter (substr(?NM, 8) = "3") }',
            False,
        ),
        # case filter INSIDE an optional group: pre-join, lefts keep NULLs
        (
            "select ?P ?NM where { ?P type Part ."
            ' optional { ?P name ?NM . filter (ucase(?NM) = "RED PLATE") } }',
            False,
        ),
    ],
)
def test_case_substr_filter_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_optional_unmatched_rows_are_null(engine):
    # orders are never placedBy a supplier, so the optional never matches:
    # every supplier must still appear, with a NULL ?O (left-join semantics)
    rows = engine.sparql(
        "select ?S ?O where { ?S type Supplier . optional { ?O placedBy ?S } }"
    ).collect()
    assert rows and all(r["O"] is None for r in rows)


# ---- UNION superset -------------------------------------------------------
def test_parse_union():
    q = parse_sparql("select ?X where { { ?X type Customer } union { ?X type Supplier } }")
    assert len(q.union_branches) == 2
    assert [len(b) for b in q.union_branches] == [1, 1]
    # cids unique across branches
    cids = [c.cid for b in q.union_branches for c in b]
    assert len(cids) == len(set(cids))


def test_parse_union_malformed_raises():
    from dream_spark.plans.sparql import SparqlSyntaxError

    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X where { { ?X type Customer } union }")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?X where { { ?X type Customer } union { ?X type Supplier } . filter (?X != ?X) }"
        )


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select ?X where { { ?X type Customer } union { ?X type Supplier } }", False),
        ("select ?X ?N ?S where { { ?X inNation ?N } union { ?X mktsegment ?S } }", False),
        (
            "select ?X ?N ?S where { { ?X inNation ?N . ?X type Supplier } union { ?X mktsegment ?S } }",
            True,
        ),
        (
            "select distinct ?N where { { ?C inNation ?N . ?C type Customer }"
            " union { ?S inNation ?N . ?S type Supplier } }",
            False,
        ),
    ],
)
def test_union_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_union_nulls_for_unbound_branch_vars(engine):
    rows = engine.sparql(
        "select ?X ?N ?S where { { ?X inNation ?N } union { ?X mktsegment ?S } }"
    ).collect()
    assert all((r["N"] is None) != (r["S"] is None) for r in rows)


# ---- MINUS superset -------------------------------------------------------
def test_parse_minus():
    q = parse_sparql(
        "select ?C where { ?C type Customer . minus { ?O placedBy ?C } }"
    )
    assert len(q.minuses) == 1 and len(q.minuses[0]) == 1
    # minus-only variables are not projectable
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?O where { ?C type Customer . minus { ?O placedBy ?C } }")


def test_parse_minus_disjoint_raises():
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?C where { ?C type Customer . minus { ?S type Supplier } }")


@pytest.mark.parametrize(
    "qtext,decode",
    [
        (
            "select ?C where { ?C type Customer ."
            " minus { ?O placedBy ?C . ?O priority <1-URGENT> } }",
            False,
        ),
        (
            "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
            " minus { ?S type Supplier . ?S inNation ?N } }",
            False,
        ),
        (
            "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } ."
            " minus { ?C mktsegment <BUILDING> } }",
            False,
        ),
        (
            "select ?C where { ?C type Customer ."
            " minus { ?O placedBy ?C . ?O priority <1-URGENT> } }",
            True,
        ),
    ],
)
def test_minus_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


# ---- aggregate superset ---------------------------------------------------
def test_parse_aggregates():
    q = parse_sparql(
        "select ?N (count(?C) as ?cnt) where { ?C type Customer . ?C inNation ?N } group by ?N"
    )
    assert q.group_by == ["N"]
    assert len(q.aggregates) == 1
    a = q.aggregates[0]
    assert (a.fn, a.var, a.alias, a.distinct) == ("count", "C", "cnt", False)
    assert q.projection == ["N", "cnt"]


def test_parse_aggregate_projection_keeps_select_order():
    q = parse_sparql(
        "select (count(?C) as ?cnt) ?N where { ?C inNation ?N } group by ?N"
    )
    assert q.projection == ["cnt", "N"]
    q = parse_sparql(
        "select (count(?C) as ?a) ?N (count(distinct ?C) as ?b)"
        " where { ?C inNation ?N } group by ?N"
    )
    assert q.projection == ["a", "N", "b"]
    assert [a.alias for a in q.aggregates] == ["a", "b"]


@pytest.mark.parametrize(
    "bad",
    [
        # ungrouped plain var alongside an aggregate
        "select ?C (count(?O) as ?n) where { ?O placedBy ?C }",
        # group by without any aggregate
        "select ?C where { ?O placedBy ?C } group by ?C",
        # alias collides with projected var
        "select ?C (count(?O) as ?C) where { ?O placedBy ?C } group by ?C",
        # aggregate over unbound var
        "select (count(?Z) as ?n) where { ?O placedBy ?C }",
    ],
)
def test_parse_aggregate_errors(bad):
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select (count(*) as ?n) where { ?O type Order }", False),
        (
            "select ?N (count(?C) as ?cnt) where { ?C type Customer . ?C inNation ?N } group by ?N",
            False,
        ),
        (
            "select ?N (count(distinct ?S) as ?nsupp) (count(*) as ?nrows)"
            " where { ?L suppliedBy ?S . ?S inNation ?N } group by ?N",
            False,
        ),
        (
            "select ?N (count(?C) as ?cnt) where { ?C type Customer . ?C inNation ?N } group by ?N",
            True,
        ),
        (
            "select (count(?C) as ?cnt) ?N where { ?C type Customer . ?C inNation ?N } group by ?N",
            True,
        ),
        (
            "select ?N (count(?C) as ?cnt) where { ?C type Customer . ?C inNation ?N }"
            " group by ?N order by ?cnt desc ?N limit 5",
            False,
        ),
        (
            "select ?C (count(?O) as ?norders) where { ?C type Customer ."
            " optional { ?O placedBy ?C } } group by ?C",
            False,
        ),
    ],
)
def test_aggregate_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_aggregate_count_optional_counts_zero(engine):
    # COUNT(?O) skips NULLs: suppliers never match placedBy, so count is 0
    rows = engine.sparql(
        "select ?S (count(?O) as ?n) where { ?S type Supplier ."
        " optional { ?O placedBy ?S } } group by ?S"
    ).collect()
    assert rows and all(r["n"] == 0 for r in rows)


def test_engine_sql_surface_sees_all_tables(engine):
    """Engine.sql must reach every base table (lazily registered), not just
    the 7 the SPARQL store derivation uses."""
    n = engine.sql("SELECT COUNT(*) AS n FROM events").collect()[0]["n"]
    assert n > 0
    n2 = engine.sql("SELECT COUNT(*) AS n FROM documents").collect()[0]["n"]
    assert n2 > 0


def test_parse_values():
    q = parse_sparql(
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " values ?N { <nation:1> <nation:2> } }"
    )
    (f,) = q.filters
    assert f.kind == "in" and f.var == "N" and f.consts == ("nation:1", "nation:2")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?C where { ?C type Customer . values ?C { } }")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C where { ?C type Customer . values ?C { <customer:1> <customer:1> } }"
        )
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?C where { ?C type Customer . values ?X { <customer:1> } }")


@pytest.mark.parametrize("decode", [False, True])
def test_values_oracle(engine, duck, decode):
    qtext = (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " values ?N { <nation:1> <nation:2> <nation:3> } }"
    )
    df = engine.sparql(qtext, decode=decode)
    assert_oracle_match(df, duck, bgp_to_sql(parse_sparql(qtext), decode=decode))


def test_parse_transitive_path():
    q = parse_sparql("select ?N ?R where { ?N type Nation . ?N inRegion+ ?R }")
    assert q.conditions[1].pred.is_transitive
    assert q.conditions[1].pred.lexical == "inRegion"
    assert not q.conditions[0].pred.is_transitive
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X ?Y where { ?X+ inRegion ?Y }")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X ?Y ?P where { ?X ?P+ ?Y }")


@pytest.mark.parametrize("decode", [False, True])
def test_transitive_path_oracle(engine, duck, decode):
    qtext = "select ?N ?R where { ?N type Nation . ?N inRegion+ ?R }"
    df = engine.sparql(qtext, decode=decode)
    assert_oracle_match(df, duck, bgp_to_sql(parse_sparql(qtext), decode=decode))


def test_transitive_multihop_chain(spark):
    """A 4-node chain under one predicate: the closure must contain all 6
    reachable pairs — real multi-hop, which the shallow TPC-H hierarchy
    can't exercise."""
    from dream_spark.plans.translator import translate
    from dream_spark.sources.triples import TripleStore

    triples = spark.createDataFrame([(1, 7, 2), (2, 7, 3), (3, 7, 4)], "s long, p long, o long")
    dict_df = spark.createDataFrame(
        [(i, f"n{i}") for i in (1, 2, 3, 4)] + [(7, "link")], "id long, lexical string"
    )
    st = TripleStore(spark, triples, dict_df, resolver=None)
    q = parse_sparql("select ?X ?Y where { ?X link+ ?Y }")
    got = {(r["X"], r["Y"]) for r in translate(st, q, None).collect()}
    assert got == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}


def test_parse_optional_group_filter():
    q = parse_sparql(
        "select ?C ?O ?ST where { ?C type Customer ."
        " optional { ?O placedBy ?C . ?O status ?ST . filter (?ST != <F>) } }"
    )
    assert q.filters == []
    (gflts,) = q.optional_filters
    (f,) = gflts
    assert f.kind == "cmp" and f.var == "ST" and f.op == "!=" and f.rhs_const == "F"
    # a cmp filter referencing an OUTER variable is the join-condition
    # case — accepted, classified by the lowering (not a parse error)
    q = parse_sparql(
        "select ?C ?N ?O where { ?C type Customer . ?C inNation ?N ."
        " optional { ?O placedBy ?C . filter (?N != <nation:5>) } }"
    )
    assert q.optional_filters[0][0].var == "N"
    # but a variable bound NOWHERE prior (here: only in a LATER group)
    # is rejected — its column does not exist at join time
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C ?O ?X where { ?C type Customer ."
            " optional { ?O placedBy ?C . filter (?X != <nation:5>) } ."
            " optional { ?C inNation ?X } }"
        )
    # regex may not reference outer variables (cmp/arith only)
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C ?NM ?O where { ?C type Customer . ?C name ?NM ."
            ' optional { ?O placedBy ?C . filter regex(?NM, "1$") } }'
        )


@pytest.mark.parametrize(
    "qtext,decode",
    [
        # inequality inside the group: customers keep a row even when ALL
        # their orders are filtered away (NULL-extended), unlike a
        # top-level filter which would drop them
        (
            "select ?C ?O ?ST where { ?C type Customer ."
            " optional { ?O placedBy ?C . ?O status ?ST . filter (?ST != <F>) } }",
            False,
        ),
        # ordering comparison on ids inside the group
        (
            "select ?C ?O where { ?C type Customer ."
            " optional { ?O placedBy ?C . filter (?O < <order:500>) } }",
            False,
        ),
        # regex on the decoded lexical inside the group
        (
            'select ?C ?NM where { ?C type Customer .'
            ' optional { ?C name ?NM . filter regex(?NM, "1$") } }',
            False,
        ),
        # arithmetic typed-value filter inside the group
        (
            "select ?P ?SZ where { ?P type Part ."
            " optional { ?P size ?SZ . filter (?SZ > 25) } }",
            False,
        ),
        # CROSS filter: the join condition references the OUTER ?N — a
        # customer from nation:5 keeps a NULL-extended row (a top-level
        # filter would drop the customer entirely)
        (
            "select ?C ?N ?O where { ?C type Customer . ?C inNation ?N ."
            " optional { ?O placedBy ?C . filter (?N != <nation:5>) } }",
            False,
        ),
        # cross filter comparing an outer var against a group var
        (
            "select ?C ?O where { ?C type Customer ."
            " optional { ?O placedBy ?C . filter (?O > ?C) } }",
            False,
        ),
    ],
)
def test_optional_group_filter_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_optional_group_filter_keeps_unmatched_left():
    """LeftJoin semantics: filtering inside the group must NULL-extend,
    not drop, a left row whose every group row fails the filter."""
    q1 = parse_sparql(
        "select ?C ?O where { ?C type Customer ."
        " optional { ?O placedBy ?C . filter (?O < <order:1>) } }"
    )
    assert q1.optional_filters == [[
        Filter(kind="cmp", var="O", op="<", rhs_const="order:1")
    ]]


def test_parse_bound_filter():
    q = parse_sparql(
        "select ?C where { ?C type Customer . optional { ?O placedBy ?C } ."
        " filter (!bound(?O)) }"
    )
    (f,) = q.filters
    assert f.kind == "bound" and f.var == "O" and f.op == "!"
    q = parse_sparql(
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } ."
        " filter (bound(?O)) }"
    )
    assert q.filters[0].op == ""


@pytest.mark.parametrize(
    "qtext",
    [
        # !bound after OPTIONAL ≡ anti-join (negation by failure)
        "select ?C where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . filter (!bound(?O)) }",
        # positive bound ≡ inner-join survivors only
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } ."
        " filter (bound(?O)) }",
    ],
)
def test_bound_filter_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_not_bound_equals_minus(engine):
    """!bound-after-OPTIONAL must agree with the MINUS lowering of the
    same negation (both = customers with no urgent order)."""
    a = engine.sparql(
        "select ?C where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . filter (!bound(?O)) }"
    )
    b = engine.sparql(
        "select ?C where { ?C type Customer ."
        " minus { ?O placedBy ?C . ?O priority <1-URGENT> } }"
    )
    assert sorted(r["C"] for r in a.collect()) == sorted(r["C"] for r in b.collect())


def test_describe_where_oracle(engine, duck):
    qtext = "describe ?N where { ?N type Nation . ?N inRegion <region:1> }"
    q = parse_sparql(qtext)
    assert q.describe_var == "N" and q.projection == ["N"]
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))
    # the described set is a GRAPH (set semantics): no duplicate triples
    # even for terms reachable through both slots
    df = engine.sparql(qtext)
    assert df.count() == df.distinct().count()
    # body grammar composes (filters etc.)
    qtext2 = "describe ?C where { ?C type Customer . filter (?C < <customer:5>) }"
    assert_oracle_match(engine.sparql(qtext2), duck, bgp_to_sql(parse_sparql(qtext2)))


def test_parse_bind_arith():
    q = parse_sparql(
        "select ?P ?SZ ?SZ2 where { ?P size ?SZ . bind(?SZ + 100 as ?SZ2) }"
    )
    assert q.binds == [("arith", ("SZ", "+", 100), "SZ2")]
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X where { ?P size ?SZ . bind(?NOPE * 2 as ?X) }")


@pytest.mark.parametrize(
    "qtext",
    [
        "select ?P ?SZ ?SZ2 where { ?P type Part . ?P size ?SZ ."
        " bind(?SZ + 100 as ?SZ2) }",
        "select ?P ?HALFISH where { ?P type Part . ?P size ?SZ ."
        " bind(?SZ * -1 as ?HALFISH) }",
        # arith bind over a NON-numeric var: value is NULL on both engines
        "select ?C ?X where { ?C type Customer . bind(?C + 1 as ?X) }",
    ],
)
def test_bind_arith_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_aggregates_over_arith_bind_alias(engine, duck):
    """SUM/MIN/MAX over an arithmetic bind alias aggregate the VALUE (no
    double id→value wrap, which NULL'd every row on both engines);
    group_concat over one is rejected (numbers have no dictionary entry)."""
    qtext = (
        "select (sum(?SZ2) as ?S) (count(?SZ2) as ?CNT)"
        " where { ?P type Part . ?P size ?SZ . bind(?SZ + 100 as ?SZ2) }"
    )
    df = engine.sparql(qtext)
    row = df.collect()[0]
    assert row["S"] is not None and row["S"] > 100 * row["CNT"]
    assert_oracle_match(df, duck, bgp_to_sql(parse_sparql(qtext)))
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?P (group_concat(?SZ2) as ?G) where { ?P size ?SZ ."
            " bind(?SZ + 1 as ?SZ2) } group by ?P"
        )


def test_malformed_variable_token_rejected():
    """'?N?' (a typo'd path marker on a variable) must fail loudly, not
    silently become a distinct variable named 'N?'."""
    for bad in [
        "select ?s where { ?s inNation ?N? }",
        "select ?s where { ?s ?p? ?o }",
        "select ?s where { ?s? inNation ?N }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_arith_filter_over_arith_bind_alias(engine, duck):
    """An arith filter over an arith bind alias compares the VALUE
    directly — no double id→value wrap (which would NULL every row on
    both engines, invisible to the oracle cross-check)."""
    qtext = (
        "select ?P ?SZ2 where { ?P type Part . ?P size ?SZ ."
        " bind(?SZ + 100 as ?SZ2) . filter (?SZ2 > 130) }"
    )
    q = parse_sparql(qtext)
    df = engine.sparql(qtext)
    assert df.count() > 0, "double-wrapped value filter would return empty"
    assert_oracle_match(df, duck, bgp_to_sql(q))
    # id-level filter kinds over a numeric alias are rejected loudly
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?P ?SZ2 where { ?P size ?SZ . bind(?SZ + 1 as ?SZ2) ."
            " filter (?SZ2 != <F>) }"
        )


def test_path_marker_on_object_constant_rejected():
    """A trailing '?' on a subject/object constant is a misplaced path
    marker and must fail loudly, not silently strip to the bare term."""
    for bad in [
        "select ?s where { ?s inNation <nation:5>? }",
        "select ?s where { ?s inNation <nation:5>* }",
        "select ?o where { <customer:1>? placedBy ?o }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_oracle_decode_rejects_arith_bind_alias():
    with pytest.raises(ValueError):
        bgp_to_sql(
            parse_sparql(
                "select ?P ?SZ2 where { ?P size ?SZ . bind(?SZ + 100 as ?SZ2) }"
            ),
            decode=True,
        )


def test_bind_arith_decode_rejected(engine):
    with pytest.raises(ValueError):
        engine.sparql(
            "select ?P ?SZ2 where { ?P type Part . ?P size ?SZ ."
            " bind(?SZ + 100 as ?SZ2) }",
            decode=True,
        ).collect()


def test_parse_bind_if():
    q = parse_sparql(
        "select ?P ?SZ ?BIG where { ?P size ?SZ . bind(if(?SZ > 25, 1, 0) as ?BIG) }"
    )
    assert q.binds == [("if", ("SZ", ">", 25, 1, 0), "BIG")]
    # the alias is a NUMERIC column like the arith binds
    assert q.numeric_bind_aliases() == {"BIG"}
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X where { ?P size ?SZ . bind(if(?NOPE > 1, 1, 0) as ?X) }")
    # id-level filter kinds over an if alias are rejected like arith aliases
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?X where { ?P size ?SZ . bind(if(?SZ > 1, 1, 0) as ?X) ."
            " filter (?X != <F>) }"
        )


@pytest.mark.parametrize(
    "qtext",
    [
        "select ?P ?SZ ?BIG where { ?P type Part . ?P size ?SZ ."
        " bind(if(?SZ > 25, 1, 0) as ?BIG) }",
        # negative branch values; <= operator
        "select ?P ?D where { ?P type Part . ?P size ?SZ ."
        " bind(if(?SZ <= 10, -1, 7) as ?D) }",
        # IF over a NON-numeric var: condition is a type error, so the
        # alias stays UNBOUND (NULL) on both engines — not the else branch
        "select ?C ?X where { ?C type Customer . bind(if(?C > 1, 1, 0) as ?X) }",
        # an arith FILTER over the if alias skips the id→value wrap
        "select ?P ?BIG where { ?P type Part . ?P size ?SZ ."
        " bind(if(?SZ > 25, 1, 0) as ?BIG) . filter (?BIG = 1) }",
    ],
)
def test_bind_if_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_aggregate_over_bind_if_alias(engine, duck):
    """SUM/COUNT over an if alias aggregate the plain number (no value
    wrap) — the count is the number of rows with a NUMERIC condition."""
    qtext = (
        "select (sum(?BIG) as ?NBIG) (count(?BIG) as ?CNT)"
        " where { ?P type Part . ?P size ?SZ . bind(if(?SZ > 25, 1, 0) as ?BIG) }"
    )
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_bind_if_decode_rejected(engine):
    qtext = (
        "select ?P ?BIG where { ?P type Part . ?P size ?SZ ."
        " bind(if(?SZ > 25, 1, 0) as ?BIG) }"
    )
    with pytest.raises(ValueError):
        engine.sparql(qtext, decode=True).collect()
    with pytest.raises(ValueError):
        bgp_to_sql(parse_sparql(qtext), decode=True)


def test_parse_arith2():
    q = parse_sparql(
        "select ?A ?B where { ?A size ?S1 . ?B size ?S2 . filter (?S1 + ?S2 > 50) ."
        " bind(?S1 * ?S2 as ?PRO) }"
    )
    (f,) = q.filters
    assert (f.kind, f.var, f.lhs_op, f.rhs_var, f.op, f.rhs_num) == (
        "arith2", "S1", "+", "S2", ">", 50,
    )
    assert q.binds == [("arith2", ("S1", "*", "S2"), "PRO")]
    assert q.numeric_bind_aliases() == {"PRO"}
    # sources must be pattern-bound
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X where { ?A size ?S1 . bind(?S1 + ?NOPE as ?X) }")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?A where { ?A size ?S1 . filter (?S1 + ?NOPE > 5) }")


ARITH2_PAIR_BODY = (
    "where { ?L1 ofOrder ?O . ?L2 ofOrder ?O . ?L1 ofPart ?P1 ."
    " ?L2 ofPart ?P2 . ?P1 size ?S1 . ?P2 size ?S2 . "
)


@pytest.mark.parametrize(
    "qtext",
    [
        # sum of two sizes against a constant
        "select ?L1 ?L2 ?S1 ?S2 " + ARITH2_PAIR_BODY + "filter (?S1 + ?S2 = 100) }",
        # product form
        "select ?P1 ?P2 " + ARITH2_PAIR_BODY + "filter (?S1 * ?S2 = 2500) }",
        # difference BIND (negative values possible) reused by a filter
        "select ?L1 ?L2 ?D " + ARITH2_PAIR_BODY + "bind(?S1 - ?S2 as ?D) ."
        " filter (?D > 45) }",
        # non-numeric operand: value NULL → no rows, identically on both
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?C + ?N > 0) }",
        # numeric BIND alias as ONE operand (wrap only the pattern var)
        "select ?L1 ?DB where { ?L1 ofPart ?P1 . ?P1 size ?S1 ."
        " ?L1 suppliedBy ?SUP . bind(?S1 * 2 as ?DB) . filter (?DB + ?S1 > 140) }",
    ],
)
def test_arith2_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_parse_having_sum():
    q = parse_sparql(
        "select ?S (sum(?SZ) as ?tot) where { ?L suppliedBy ?S . ?L ofPart ?P ."
        " ?P size ?SZ } group by ?S having (sum(?SZ) > 100)"
    )
    ha, hop, hval = q.having
    assert (ha.fn, ha.var, hop, hval) == ("sum", "SZ", ">", 100)
    # having var must be bound; unknown aggregate fns still rejected
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?S (count(?L) as ?n) where { ?L suppliedBy ?S }"
            " group by ?S having (sum(?NOPE) > 1)"
        )
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?S (count(?L) as ?n) where { ?L suppliedBy ?S }"
            " group by ?S having (avg(?L) > 1)"
        )


@pytest.mark.parametrize(
    "qtext",
    [
        # having-sum as a HIDDEN extra aggregate (not projected)
        "select ?S (count(?L) as ?n) where { ?L suppliedBy ?S . ?L ofPart ?P ."
        " ?P size ?SZ } group by ?S having (sum(?SZ) > 1500)",
        # having-sum REUSING the projected sum column
        "select ?S (sum(?SZ) as ?tot) where { ?L suppliedBy ?S . ?L ofPart ?P ."
        " ?P size ?SZ } group by ?S having (sum(?SZ) > 1500)",
        # sum over an arithmetic bind alias (no double value wrap)
        "select ?S (count(?L) as ?n) where { ?L suppliedBy ?S . ?L ofPart ?P ."
        " ?P size ?SZ . bind(?SZ + 1 as ?SZ1) } group by ?S having (sum(?SZ1) > 1500)",
        # having var doubling as the GROUP KEY (inner projection dedup)
        "select ?SZ (count(?P) as ?n) where { ?P size ?SZ } group by ?SZ"
        " having (sum(?SZ) > 40)",
    ],
)
def test_having_sum_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_parse_bind_concat():
    q = parse_sparql(
        'select ?C ?T where { ?C name ?NM . ?C inNation ?N . ?N name ?NN .'
        ' bind(concat(?NM, "@", ?NN) as ?T) }'
    )
    assert q.binds == [("concat", (("v", "NM"), ("l", "@"), ("v", "NN")), "T")]
    assert q.string_bind_aliases() == {"T"}
    # str() is the 1-argument degenerate, same value space
    q2 = parse_sparql("select ?C ?T where { ?C name ?NM . bind(str(?NM) as ?T) }")
    assert q2.binds == [("concat", (("v", "NM"),), "T")]
    for bad in [
        # unbound source variable
        'select ?T where { ?C name ?NM . bind(concat(?NOPE, "x") as ?T) }',
        # pure-literal concat references no variable
        'select ?T where { ?C name ?NM . bind(concat("a", "b") as ?T) }',
        # id-level filter over a string alias
        'select ?T where { ?C name ?NM . bind(str(?NM) as ?T) . filter (?T != <F>) }',
        # string-function filter over a string alias (would dict-join a string)
        'select ?T where { ?C name ?NM . bind(str(?NM) as ?T) . filter (strlen(?T) > 3) }',
        # aggregate / order-by over a string alias
        'select (count(?T) as ?n) where { ?C name ?NM . bind(str(?NM) as ?T) }',
        'select ?T where { ?C name ?NM . bind(str(?NM) as ?T) } order by ?T',
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext",
    [
        # two decoded names + literal separator
        'select ?C ?TAG where { ?C type Customer . ?C name ?NM . ?C inNation ?N .'
        ' ?N name ?NNM . bind(concat(?NM, "@", ?NNM) as ?TAG) }',
        # str(): single-var decode to string
        'select ?R ?RS where { ?R type Region . ?R name ?NM . bind(str(?NM) as ?RS) }',
        # unbound OPTIONAL argument: CONCAT type error → alias NULL (the
        # DuckDB || operator NULL-propagates identically; concat() there
        # would skip NULLs and diverge — pinned by this case)
        'select ?C ?TAG where { ?C type Customer . ?C name ?NM .'
        ' optional { ?O placedBy ?C . ?O priority <1-URGENT> } .'
        ' bind(concat(?NM, "#", ?O) as ?TAG) }',
        # repeated variable argument: one dict join, used twice
        'select ?R ?D where { ?R type Region . ?R name ?NM .'
        ' bind(concat(?NM, "-", ?NM) as ?D) }',
    ],
)
def test_bind_concat_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_bind_concat_decode_rejected(engine):
    qtext = 'select ?C ?T where { ?C name ?NM . bind(str(?NM) as ?T) }'
    with pytest.raises(ValueError):
        engine.sparql(qtext, decode=True).collect()
    with pytest.raises(ValueError):
        bgp_to_sql(parse_sparql(qtext), decode=True)


def test_parse_bind_coalesce():
    q = parse_sparql(
        "select ?C ?X where { ?C type Customer . optional { ?O placedBy ?C } ."
        " bind(coalesce(?O, ?C) as ?X) }"
    )
    assert q.binds == [("coalesce", ("O", "C"), "X")]
    for bad in [
        # unbound source variable
        "select ?X where { ?C type Customer . bind(coalesce(?C, ?Z) as ?X) }",
        # arith alias as a coalesce source (number mixed into id space)
        "select ?X where { ?P size ?SZ . bind(?SZ + 1 as ?V) ."
        " bind(coalesce(?V, ?SZ) as ?X) }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        # fallback after OPTIONAL: urgent-order id if any, else the customer
        (
            "select ?C ?X where { ?C type Customer . optional { ?O placedBy ?C ."
            " ?O priority <1-URGENT> } . bind(coalesce(?O, ?C) as ?X) }",
            False,
        ),
        # three-way chain over two optionals; alias decodes like any id
        (
            "select ?C ?X where { ?C type Customer ."
            " optional { ?O placedBy ?C . ?O status <P> } ."
            " optional { ?C mktsegment ?S } ."
            " bind(coalesce(?O, ?S, ?C) as ?X) }",
            True,
        ),
    ],
)
def test_bind_coalesce_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_parse_numeric_aggregates():
    q = parse_sparql(
        "select ?S (sum(?SZ) as ?tot) (avg(?SZ) as ?mean)"
        " where { ?L suppliedBy ?S . ?L ofPart ?P . ?P size ?SZ } group by ?S"
    )
    assert [(a.fn, a.var, a.alias) for a in q.aggregates] == [
        ("sum", "SZ", "tot"),
        ("avg", "SZ", "mean"),
    ]
    for bad in [
        "select (sum(*) as ?t) where { ?P size ?SZ }",
        "select (sum(distinct ?SZ) as ?t) where { ?P size ?SZ }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext",
    [
        "select ?S (sum(?SZ) as ?tot_size) (count(?SZ) as ?n)"
        " where { ?L suppliedBy ?S . ?L ofPart ?P . ?P size ?SZ } group by ?S",
        "select ?S (avg(?SZ) as ?avg_size) where { ?L suppliedBy ?S ."
        " ?L ofPart ?P . ?P size ?SZ } group by ?S",
        # sum over a NON-numeric variable: every term values to NULL →
        # SUM is NULL per group on both engines (the error-term contract)
        "select ?N (sum(?C) as ?t) (count(?C) as ?cnt)"
        " where { ?C type Customer . ?C inNation ?N } group by ?N",
    ],
)
def test_numeric_aggregate_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_parse_arith_filter():
    q = parse_sparql("select ?P ?SZ where { ?P size ?SZ . filter (?SZ + 5 > 30) }")
    (f,) = q.filters
    assert f.kind == "arith" and f.var == "SZ"
    assert f.lhs_op == "+" and f.lhs_num == 5 and f.op == ">" and f.rhs_num == 30
    q = parse_sparql("select ?P ?SZ where { ?P size ?SZ . filter (?SZ >= 10) }")
    (f,) = q.filters
    assert f.kind == "arith" and f.lhs_op is None and f.rhs_num == 10
    # id comparison against a constant term still parses as cmp, not arith
    q = parse_sparql("select ?C ?N where { ?C inNation ?N . filter (?C < <customer:100>) }")
    assert q.filters[0].kind == "cmp"


@pytest.mark.parametrize(
    "qtext",
    [
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ > 25) }",
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ + 5 > 30) }",
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ * 2 <= 20) }",
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ * 3 > 60) }",
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ - 5 >= 20) }",
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ != 25) }",
    ],
)
def test_arith_filter_oracle(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_arith_filter_non_numeric_drops_rows(engine):
    """FILTER arithmetic on a non-numeric term (entity ids are not
    numbers) is a SPARQL type error: the comparison yields NULL and every
    row drops — never a comparison on raw dictionary ids."""
    got = engine.sparql(
        "select ?C ?N where { ?C type Customer . ?C inNation ?N . filter (?C > 0) }"
    )
    assert got.count() == 0


def test_parse_zero_paths():
    q = parse_sparql("select ?N ?R where { ?N type Nation . ?N inRegion* ?R }")
    p = q.conditions[1].pred
    assert p.is_zero_or_more and p.is_path_closure and p.lexical == "inRegion"
    assert not p.is_transitive and not p.is_zero_or_one
    q = parse_sparql("select ?S ?X where { ?S type Supplier . ?S inNation? ?X }")
    p = q.conditions[1].pred
    assert p.is_zero_or_one and p.is_path_closure and p.lexical == "inNation"
    for bad in [
        "select ?X ?Y ?P where { ?X ?P* ?Y }",       # * on a variable
        "select ?X ?Y where { ?X ^inRegion* ?Y }",   # combined operators
        "select ?X ?Y where { ?X* inRegion ?Y }",    # * on a subject
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select ?N ?R where { ?N type Nation . ?N inRegion* ?R }", False),
        ("select ?N ?R where { ?N type Nation . ?N inRegion* ?R }", True),
        ("select ?S ?X where { ?S type Supplier . ?S inNation? ?X }", False),
        # constant object end: identity fires only for the constant itself
        ("select ?N where { ?N inRegion* <region:1> }", False),
    ],
)
def test_zero_path_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


@pytest.mark.parametrize(
    "qtext",
    [
        # sequence path whose SECOND hop is a zero-or-more: hop rewrite +
        # path-closure frames compose
        "select ?N ?X where { ?N type Nation . ?N inRegion/inRegion* ?X }",
        # zero-or-one hop mid-sequence
        "select ?L ?X where { ?L suppliedBy/inNation? ?X . ?L ofOrder <order:1> }",
    ],
)
def test_seq_path_with_zero_hop_marker(engine, duck, qtext):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_zero_or_more_multihop_chain(spark):
    """p* over a 4-node chain = every reachable pair PLUS the identity on
    every graph node (including node 4, which has no out-edge)."""
    from dream_spark.plans.translator import translate
    from dream_spark.sources.triples import TripleStore

    triples = spark.createDataFrame([(1, 7, 2), (2, 7, 3), (3, 7, 4)], "s long, p long, o long")
    dict_df = spark.createDataFrame(
        [(i, f"n{i}") for i in (1, 2, 3, 4)] + [(7, "link")], "id long, lexical string"
    )
    st = TripleStore(spark, triples, dict_df, resolver=None)
    q = parse_sparql("select ?X ?Y where { ?X link* ?Y }")
    got = {(r["X"], r["Y"]) for r in translate(st, q, None).collect()}
    reach = {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    ident = {(i, i) for i in (1, 2, 3, 4)}
    assert got == reach | ident
    q = parse_sparql("select ?X ?Y where { ?X link? ?Y }")
    got = {(r["X"], r["Y"]) for r in translate(st, q, None).collect()}
    assert got == {(1, 2), (2, 3), (3, 4)} | ident


def test_zero_path_constant_absent_from_graph_self_pairs(engine, duck):
    """SPARQL 1.1 §18.4 ZeroLengthPath(term, var) binds the variable to the
    term whether or not it occurs in the graph: ``?N inRegion* <x>`` for an
    ``x`` with a dictionary id but NO graph occurrence still yields the
    single zero-hop row ?N = x.  The oracle's anchored pathstar CTE injects
    the same self-pair, so this golden test pins the spec reading on BOTH
    engines (it replaced the pre-r6 documented deviation where the identity
    side ranged over graph nodes only)."""
    # nation:9999 resolves arithmetically but no such entity exists
    qtext = "select ?N where { ?N inRegion* <nation:9999> }"
    got = engine.sparql(qtext)
    rows = got.collect()
    assert len(rows) == 1  # the zero-hop self-binding, nothing else
    assert_oracle_match(got, duck, bgp_to_sql(parse_sparql(qtext)))
    # both ends constant: <x> p* <x> holds by the zero-length path alone
    ask = "ask { <nation:9999> inRegion* <nation:9999> }"
    assert engine.sparql(ask).collect()[0][0] is True
    assert_oracle_match(
        engine.sparql(ask), duck, bgp_to_sql(parse_sparql(ask))
    )
    # ...but two DIFFERENT constants do not (zero-length needs x = y, and
    # nation:9999 has no edges for the 1..n-hop side)
    ask_ne = "ask { <nation:9999> inRegion* <nation:9998> }"
    assert engine.sparql(ask_ne).collect()[0][0] is False
    assert_oracle_match(
        engine.sparql(ask_ne), duck, bgp_to_sql(parse_sparql(ask_ne))
    )


def test_zero_path_oov_constant_stays_empty(engine, duck):
    """Out-of-vocabulary constants (no dictionary id at all) are the one
    remaining ZeroLengthPath boundary: they share the UNKNOWN_ID sentinel,
    so self-pairing them would match DIFFERENT unknown terms to each other
    — they yield no row, consistent with every other pattern position."""
    qtext = "select ?N where { ?N inRegion* <no:such:term:ever> }"
    got = engine.sparql(qtext)
    assert got.count() == 0
    assert_oracle_match(got, duck, bgp_to_sql(parse_sparql(qtext)))


def test_zero_path_sibling_domain_skips_node_frame(spark):
    """When a ``p*``/``p?`` endpoint is bound by a sibling pattern (or is a
    constant), the identity side derives from that domain instead of the
    corpus-wide node frame — the store-level "nodes" cache entry must stay
    unbuilt (the scale property: no all-graph distinct for bounded
    queries)."""
    from dream_spark.plans.translator import _path_cache, translate
    from dream_spark.sources.triples import TripleStore

    triples = spark.createDataFrame(
        [(1, 7, 2), (2, 7, 3), (1, 8, 9), (5, 8, 9)], "s long, p long, o long"
    )
    dict_df = spark.createDataFrame(
        [(7, "link"), (8, "tag"), (9, "Thing")], "id long, lexical string"
    )
    st = TripleStore(spark, triples, dict_df, resolver=None)
    # ?X bound by the sibling tag pattern -> domain = {1, 5}
    q = parse_sparql("select ?X ?Y where { ?X tag <Thing> . ?X link* ?Y }")
    got = {(r["X"], r["Y"]) for r in translate(st, q, None).collect()}
    # closure from 1: (1,2),(1,3); identity restricted to the tag domain
    assert got == {(1, 2), (1, 3), (1, 1), (5, 5)}
    assert "nodes" not in _path_cache(st), "corpus-wide node frame was built"
    # constant endpoint: presence probe, still no node frame
    q2 = parse_sparql("select ?Y where { <n1> link? ?Y }")

    def resolve(lex):
        return {"n1": 1}.get(lex)

    st2 = TripleStore(spark, triples, dict_df, resolver=resolve)
    got2 = {r["Y"] for r in translate(st2, q2, None).collect()}
    assert got2 == {1, 2}
    assert "nodes" not in _path_cache(st2)
    # UNBOUNDED both ends: falls back to (and caches) the node frame
    q3 = parse_sparql("select ?X ?Y where { ?X link? ?Y }")
    translate(st, q3, None).count()
    assert "nodes" in _path_cache(st)


def test_zero_path_predicate_slot_never_supplies_identity_domain(spark):
    """A sibling that binds the path's endpoint variable only via its
    PREDICATE slot must NOT supply the identity domain: predicate ids are
    not graph nodes (the zero-length path ranges over subject/object
    terms), so a predicate-derived domain would invent identity rows the
    node frame — and the oracle's graph_nodes CTE — both exclude."""
    from dream_spark.plans.translator import translate
    from dream_spark.sources.triples import TripleStore

    # id 7 ('link') occurs ONLY as a predicate, never as a subject/object
    triples = spark.createDataFrame([(1, 7, 2), (2, 7, 3)], "s long, p long, o long")
    dict_df = spark.createDataFrame([(7, "link")], "id long, lexical string")
    st = TripleStore(spark, triples, dict_df, resolver=None)
    q = parse_sparql("select ?P ?Y where { ?S ?P ?O . ?P link* ?Y }")
    got = {(r["P"], r["Y"]) for r in translate(st, q, None).collect()}
    # ?P = 7 is not a graph node: the identity side contributes nothing,
    # and the closure side's subjects are {1, 2} ≠ 7 — zero rows
    assert got == set()


def test_transitive_cycle_terminates(spark):
    """A cyclic graph must converge (semi-naive anti-join drains the
    frontier) and include every connected ordered pair."""
    from dream_spark.plans.translator import translate
    from dream_spark.sources.triples import TripleStore

    triples = spark.createDataFrame([(1, 7, 2), (2, 7, 3), (3, 7, 1)], "s long, p long, o long")
    dict_df = spark.createDataFrame([(7, "link")], "id long, lexical string")
    st = TripleStore(spark, triples, dict_df, resolver=None)
    q = parse_sparql("select ?X ?Y where { ?X link+ ?Y }")
    got = {(r["X"], r["Y"]) for r in translate(st, q, None).collect()}
    assert got == {(a, b) for a in (1, 2, 3) for b in (1, 2, 3)}


def test_values_rows_parse_and_reject():
    """Multi-variable VALUES parses to an in_rows filter (UNDEF slots as
    None); arity mismatches, variables in rows, and duplicate rows are
    rejected."""
    q = parse_sparql(
        "select ?C ?PR where { ?O placedBy ?C . ?O priority ?PR ."
        " values (?C ?PR) { (<customer:1> <1-URGENT>) (<customer:2> <5-LOW>) } }"
    )
    (f,) = q.filters
    assert f.kind == "in_rows"
    assert f.vars_ == ("C", "PR")
    assert f.rows == (("customer:1", "1-URGENT"), ("customer:2", "5-LOW"))
    qu = parse_sparql(
        "select ?C ?PR where { ?O placedBy ?C . ?O priority ?PR ."
        " values (?C ?PR) { (<customer:1> UNDEF) (UNDEF <5-LOW>) } }"
    )
    (fu,) = qu.filters
    assert fu.rows == (("customer:1", None), (None, "5-LOW"))
    for bad in (
        "values (?C ?PR) { (<customer:1>) }",  # arity
        "values (?C ?PR) { (<customer:1> ?X) }",  # variable
        "values (?C ?PR) { (<a> <b>) (<a> <b>) }",  # duplicate row
        "values (?C ?C) { (<a> <b>) }",  # duplicate var
    ):
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(
                "select ?C where { ?O placedBy ?C . ?O priority ?PR . " + bad + " }"
            )


def test_values_undef_oracle(engine, duck):
    """UNDEF wildcard rows: the F-status row leaves priority unconstrained,
    the O-status row pins it — result equals the manual union of the two
    constraints on both engines."""
    q = (
        "select ?O ?ST ?PR where { ?O type Order . ?O status ?ST ."
        " ?O priority ?PR . values (?ST ?PR) { (<F> UNDEF) (<O> <1-URGENT>) } }"
    )
    assert_oracle_match(engine.sparql(q), duck, bgp_to_sql(parse_sparql(q)))
    f_all = engine.sparql(
        "select ?O ?ST ?PR where { ?O type Order . ?O status <F> ."
        " ?O status ?ST . ?O priority ?PR }"
    ).count()
    o_urgent = engine.sparql(
        "select ?O ?ST ?PR where { ?O type Order . ?O status <O> . ?O status ?ST ."
        " ?O priority <1-URGENT> . ?O priority ?PR }"
    ).count()
    assert engine.sparql(q).count() == f_all + o_urgent


def test_offset_paging_partitions_result(engine):
    """limit k offset n pages through the ordered result without gaps or
    overlaps: page1 ∪ page2 == first 2k rows, disjoint."""
    base = "select ?O ?C where { ?O type Order . ?O placedBy ?C } order by ?O desc"
    first40 = [tuple(r) for r in engine.sparql(base + " limit 40").collect()]
    p1 = [tuple(r) for r in engine.sparql(base + " limit 20").collect()]
    p2 = [tuple(r) for r in engine.sparql(base + " limit 20 offset 20").collect()]
    assert p1 + p2 == first40


def test_having_filters_groups(engine):
    """HAVING keeps exactly the groups whose aggregate passes, whether the
    having aggregate is projected or hidden."""
    base = (
        "select ?C (count(?O) as ?norders) where { ?C type Customer ."
        " optional { ?O placedBy ?C } } group by ?C"
    )
    allrows = {r["C"]: r["norders"] for r in engine.sparql(base).collect()}
    kept = {r["C"]: r["norders"] for r in engine.sparql(base + " having (count(?O) > 5)").collect()}
    assert kept == {c: n for c, n in allrows.items() if n > 5}
    # hidden-aggregate form: having on count(*) while projecting count(?O)
    kept2 = {r["C"] for r in engine.sparql(base + " having (count(*) <= 3)").collect()}
    assert kept2  # non-empty at this SF
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?N where { ?C inNation ?N } group by ?N having (count(?C) > 1)")
    # sum-HAVING is now valid grammar (typed-value SUM); unsupported
    # aggregate functions in HAVING still fail loudly
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?N (count(?C) as ?c) where { ?C inNation ?N } group by ?N"
            " having (avg(?C) > 1)"
        )


def test_minmax_aggregates_and_rejections(engine):
    rows = engine.sparql(
        "select ?N (min(?C) as ?lo) (max(?C) as ?hi)"
        " where { ?C type Customer . ?C inNation ?N } group by ?N"
    ).collect()
    assert rows and all(r["lo"] <= r["hi"] for r in rows)
    for bad in (
        "select (min(*) as ?x) where { ?C type Customer }",
        "select (min(distinct ?C) as ?x) where { ?C type Customer }",
        "select (count(distinct *) as ?x) where { ?C type Customer }",
    ):
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_engine_sql_joins_graph_with_relational(engine):
    """The SQL surface exposes the triple store itself (triples/dict views):
    one statement joins graph triples, the dictionary, and a base table."""
    from dream_spark.sources.triples import P_PLACED_BY, BASE_CUSTOMER

    rows = engine.sql(
        f"""
        SELECT d.lexical AS customer, COUNT(*) AS n_orders, c.c_mktsegment
        FROM triples t
        JOIN dict d ON d.id = t.o
        JOIN customer c ON t.o = {BASE_CUSTOMER} + c.c_custkey
        WHERE t.p = {P_PLACED_BY}
        GROUP BY d.lexical, c.c_mktsegment
        ORDER BY n_orders DESC, customer LIMIT 5
        """
    ).collect()
    assert len(rows) == 5
    assert all(r["customer"].startswith("customer:") and r["n_orders"] >= 1 for r in rows)


def test_profile_reports_pattern_sizes(engine):
    """profile() = the reference's ResStats/CostStats artifacts as an API:
    one row per pattern with measured size + planner estimate, plus the
    end-to-end total."""
    text, _ = __import__("__spark_entry__").SPARQL_QUERIES["sparql_cycle5"]
    prof = engine.profile(text)
    assert len(prof["patterns"]) == 5
    for p in prof["patterns"]:
        assert p["rows"] > 0 and p["estimate"] > 0 and p["seconds"] >= 0
    assert prof["rows"] == engine.sparql(text).count()


def test_construct_optional_omits_unbound_triples(engine):
    """SPARQL spec: template triples with an unbound variable (OPTIONAL
    body) are dropped from the constructed graph, not emitted with NULLs."""
    got = engine.sparql(
        "construct { ?O placedBy ?C } where { ?C type Customer ."
        " optional { ?O placedBy ?C . ?O priority <1-URGENT> } }"
    )
    rows = got.collect()
    assert rows and all(
        r["s"] is not None and r["p"] is not None and r["o"] is not None for r in rows
    )
    # count matches the inner join form (customers without urgent orders
    # contribute nothing)
    inner = engine.sparql(
        "select ?O ?C where { ?C type Customer . ?O placedBy ?C . ?O priority <1-URGENT> }"
    )
    assert len(rows) == inner.count()


# ---- FILTER [NOT] EXISTS superset -----------------------------------------
def test_parse_exists():
    q = parse_sparql(
        "select ?C where { ?C type Customer . filter exists { ?O placedBy ?C } }"
    )
    assert q.exists_groups and q.exists_groups[0][0] is True
    q = parse_sparql(
        "select ?C where { ?C type Customer . filter not exists { ?O placedBy ?C } }"
    )
    assert q.exists_groups[0][0] is False
    # exists-group variables do not bind into the solution
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?O where { ?C type Customer . filter exists { ?O placedBy ?C } }"
        )
    # variable-disjoint exists is rejected (no correlation to lower)
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C where { ?C type Customer . filter exists { ?S type Supplier } }"
        )


@pytest.mark.parametrize(
    "qtext,decode",
    [
        (
            "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
            " filter exists { ?O placedBy ?C . ?O status <F> } }",
            False,
        ),
        (
            "select ?C where { ?C type Customer ."
            " filter not exists { ?O placedBy ?C . ?O priority <1-URGENT> } }",
            False,
        ),
        # exists composed with optional + comparison filter
        (
            "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } ."
            " filter exists { ?C inNation <nation:5> } }",
            False,
        ),
        (
            "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
            " filter exists { ?O placedBy ?C . ?O status <F> } }",
            True,
        ),
    ],
)
def test_exists_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_exists_preserves_bag_multiplicity(engine):
    """A semi-join must not duplicate left rows however many matches the
    exists group has (customer:1 has many orders; each (C,N) row appears
    exactly once)."""
    got = engine.sparql(
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter exists { ?O placedBy ?C } }"
    ).collect()
    assert len(got) == len({(r["C"], r["N"]) for r in got})


# ---- property-path inverse / alternation ----------------------------------
def test_parse_path_markers():
    q = parse_sparql("select ?C ?O where { ?C ^placedBy ?O }")
    assert q.conditions[0].pred.is_inverse and q.conditions[0].pred.lexical == "placedBy"
    q = parse_sparql("select ?X ?Y where { ?X inNation|inRegion ?Y }")
    p = q.conditions[0].pred
    assert p.is_alternation and p.alternatives == ("inNation", "inRegion")
    for bad in [
        "select ?X ?Y where { ?X ^inRegion+ ?Y }",   # combined operators
        "select ?X ?Y where { ?X inNation|?P ?Y }",  # variable alternative
        "select ?X ?Y where { ?X |inNation ?Y }",    # malformed alternation
        "select ?X ?Y where { ?X in^Nation ?Y }",    # interior ^
        "select ?X ?Y where { ^?X inNation ?Y }",    # ^ on a non-predicate
        "select ?X ?Y where { ?X ^ ?Y }",            # empty inverse step
        "select ?X ?Y where { ?X ^/<q> ?Y }",        # empty step in a sequence
        "select ?X ?Y where { ?X <p>/^ ?Y }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select ?X ?Y where { ?X inNation|inRegion ?Y }", False),
        (
            "select ?C ?O where { ?C type Customer . ?C ^placedBy ?O ."
            " ?O priority <1-URGENT> }",
            False,
        ),
        # inverse with a ground object-side constant
        ("select ?O where { <customer:1> ^placedBy ?O }", False),
        ("select ?X ?Y where { ?X inNation|inRegion ?Y }", True),
    ],
)
def test_path_marker_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_inverse_equals_forward(engine):
    """?C ^placedBy ?O must produce exactly the forward pattern's bag."""
    inv = sorted(
        map(tuple, engine.sparql("select ?C ?O where { ?C ^placedBy ?O }").collect())
    )
    fwd = sorted(
        map(tuple, engine.sparql("select ?C ?O where { ?O placedBy ?C }").collect())
    )
    assert inv == fwd and inv


# ---- GROUP_CONCAT / SAMPLE aggregates -------------------------------------
def test_parse_group_concat_sample():
    q = parse_sparql(
        "select ?R (group_concat(?NM) as ?names) (sample(?N) as ?anyn)"
        " where { ?N inRegion ?R . ?N name ?NM } group by ?R"
    )
    fns = [a.fn for a in q.aggregates]
    assert fns == ["group_concat", "sample"]
    # SEPARATOR= scalar argument (SPARQL 1.1); default is ","
    qs = parse_sparql(
        'select ?R (group_concat(?NM; separator="; ") as ?names)'
        " where { ?N inRegion ?R . ?N name ?NM } group by ?R"
    )
    assert qs.aggregates[0].sep == "; " and q.aggregates[0].sep == ","
    for bad in [
        "select (group_concat(*) as ?x) where { ?N inRegion ?R }",
        "select (sample(*) as ?x) where { ?N inRegion ?R }",
        "select ?R (group_concat(distinct ?N) as ?x) where { ?N inRegion ?R } group by ?R",
        # separator on a non-group_concat aggregate
        'select ?R (count(?N; separator=",") as ?x) where { ?N inRegion ?R } group by ?R',
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        (
            "select ?R (group_concat(?NM) as ?names) where { ?N inRegion ?R ."
            " ?N name ?NM } group by ?R",
            False,
        ),
        # custom SEPARATOR, including a quote-sensitive one
        (
            "select ?R (group_concat(?NM; separator=\"' \") as ?names)"
            " where { ?N inRegion ?R . ?N name ?NM } group by ?R",
            False,
        ),
        (
            "select ?N (sample(?C) as ?anyc) (count(?C) as ?cnt)"
            " where { ?C type Customer . ?C inNation ?N } group by ?N",
            False,
        ),
        # group_concat + decode: group key decodes, concatenation is already
        # lexical, counts pass through
        (
            "select ?R (group_concat(?NM) as ?names) (count(?N) as ?cnt)"
            " where { ?N inRegion ?R . ?N name ?NM } group by ?R",
            True,
        ),
    ],
)
def test_group_concat_sample_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


# ---- SPARQL 1.1 subqueries ------------------------------------------------
def test_parse_subquery():
    q = parse_sparql(
        "select ?N ?C ?cnt where { { select ?C (count(?O) as ?cnt)"
        " where { ?O placedBy ?C } group by ?C } . ?C inNation ?N }"
    )
    assert q.subquery is not None
    assert q.subquery.projection == ["C", "cnt"]
    assert len(q.conditions) == 1
    # outer projection may reference inner aggregate aliases
    assert q.projection == ["N", "C", "cnt"]
    # subquery must correlate with the outer patterns
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?N where { { select ?S where { ?S type Supplier } } ."
            " ?C inNation ?N }"
        )
    # inner aggregate alias must not collide with an outer variable
    # (case-insensitively — Spark resolves names case-insensitively)
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?N where { { select ?C (count(?O) as ?n) where"
            " { ?O placedBy ?C } group by ?C } . ?C inNation ?N }"
        )
    # subquery must join at least one outer pattern
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?C where { { select ?C where { ?O placedBy ?C } } }")


def test_parse_aggregate_alias_case_insensitive_collision():
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C (count(?O) as ?c) where { ?O placedBy ?C } group by ?C"
        )


@pytest.mark.parametrize(
    "qtext,decode",
    [
        (
            "select ?N ?C ?cnt where { { select ?C (count(?O) as ?cnt)"
            " where { ?O placedBy ?C } group by ?C } . ?C inNation ?N }",
            False,
        ),
        (
            "select ?N ?C ?cnt where { { select ?C (count(?O) as ?cnt)"
            " where { ?O placedBy ?C } group by ?C order by ?cnt desc ?C limit 5 } ."
            " ?C inNation ?N }",
            False,
        ),
        # non-aggregating DISTINCT subquery + outer filter
        (
            "select ?C ?X where { { select distinct ?C where { ?O placedBy ?C ."
            " ?O priority <1-URGENT> } } . ?C mktsegment ?X ."
            " filter (?X = <BUILDING>) }",
            False,
        ),
        # non-aggregating subquery under decode (ids everywhere -> decodable)
        (
            "select ?C ?X where { { select distinct ?C where { ?O placedBy ?C ."
            " ?O priority <1-URGENT> } } . ?C mktsegment ?X }",
            True,
        ),
    ],
)
def test_subquery_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_subquery_decode_with_aggregates_rejected(engine):
    with pytest.raises(ValueError):
        engine.sparql(
            "select ?N ?C ?cnt where { { select ?C (count(?O) as ?cnt)"
            " where { ?O placedBy ?C } group by ?C } . ?C inNation ?N }",
            decode=True,
        ).collect()


# ---- sequence property paths ----------------------------------------------
def test_parse_sequence_path():
    q = parse_sparql("select ?L ?R where { ?L suppliedBy/inNation/inRegion ?R }")
    assert len(q.conditions) == 3
    # chained through fresh internal variables, hop predicates in order
    assert [c.pred.lexical for c in q.conditions] == ["suppliedBy", "inNation", "inRegion"]
    assert q.conditions[0].obj.var == q.conditions[1].subj.var
    assert q.conditions[1].obj.var == q.conditions[2].subj.var
    # internal hop variables are not projectable and absent from select *
    assert q.all_variables() == ["L", "R"]
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?X where { ?L suppliedBy/inNation ?N . ?L type ?X }"
                     .replace("?X", "?__seq1"))
    for bad in [
        "select ?A ?B where { ?A suppliedBy//inNation ?B }",
        "select ?A ?B where { ?A suppliedBy/?p ?B }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_sequence_path_star_projection_hides_internal_vars(engine):
    got = engine.sparql("select * where { ?L suppliedBy/inNation ?N }")
    assert got.columns == ["L", "N"]


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select ?L ?R where { ?L suppliedBy/inNation/inRegion ?R }", False),
        (
            "select ?O ?N where { ?O placedBy/inNation ?N . ?O priority <1-URGENT> }",
            False,
        ),
        ("select ?C ?S where { ?C ^placedBy/status ?S }", False),
        ("select ?L ?R where { ?L suppliedBy/inNation/inRegion ?R }", True),
    ],
)
def test_sequence_path_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_sequence_path_bag_multiplicity(engine):
    """SPARQL SequencePath semantics: one row per intermediate binding —
    a (L, R) pair connected through its supplier/nation chain appears with
    join multiplicity, not DISTINCT-collapsed."""
    rows = engine.sparql("select ?L ?R where { ?L suppliedBy/inNation/inRegion ?R }").count()
    distinct = (
        engine.sparql("select distinct ?L ?R where { ?L suppliedBy/inNation/inRegion ?R }").count()
    )
    assert rows >= distinct > 0


# ---- review-hardening regressions -----------------------------------------
def test_filter_inside_optional_or_minus_rejected():
    """A nested FILTER must fail loudly — the alternative is silent
    hoisting to a top-level filter, wrong on BOTH engines identically (the
    oracle cross-check could never catch it)."""
    for bad in [
        "select ?C ?O where { ?C type Customer ."
        " optional { ?O placedBy ?C . filter exists { ?C inNation <nation:5> } } }",
        "select ?C where { ?C type Customer ."
        " minus { ?O placedBy ?C . filter (?O != <x>) } }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_bracketed_iri_constants_parse_with_marker_chars():
    """Operator characters INSIDE <…> constants are data, not path
    syntax — IRIs legally contain / + ^ |."""
    q = parse_sparql("select ?x where { <http://e.org/a+b> placedBy ?x }")
    assert q.conditions[0].subj.lexical == "http://e.org/a+b"
    q = parse_sparql("select ?x ?y where { ?x <http://e.org/p|q> ?y }")
    t = q.conditions[0].pred
    assert not t.is_alternation and t.lexical == "http://e.org/p|q"
    # bracketed alternation still works
    q = parse_sparql("select ?x ?y where { ?x <inNation>|<inRegion> ?y }")
    assert q.conditions[0].pred.alternatives == ("inNation", "inRegion")
    # bracketed sequence hop with interior slash is ONE hop
    q = parse_sparql("select ?x ?y where { ?x <http://e.org/p>/<q> ?y }")
    assert [c.pred.lexical for c in q.conditions] == ["http://e.org/p", "q"]


def test_subquery_case_only_variable_collision_rejected():
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?N where { { select ?c where { ?O placedBy ?c } } ."
            " ?C inNation ?N }"
        )


def test_reserved_seq_prefix_rejected():
    for bad in [
        "select ?__seq1 where { ?__seq1 type Customer }",
        "select ?x where { ?__seq2 type Customer . ?__seq2 inNation ?x }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_group_concat_with_id_named_group_var_oracle(engine, duck):
    """Regression: an unqualified oracle GROUP BY was ambiguous when the
    group variable is named like a dict column (?id)."""
    qtext = (
        "select ?id (group_concat(?NM) as ?names) where { ?N inRegion ?id ."
        " ?N name ?NM } group by ?id"
    )
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


# ---- BIND superset ---------------------------------------------------------
def test_parse_bind():
    q = parse_sparql(
        "select ?C ?HOME where { ?C type Customer . ?C inNation ?N . bind(?N as ?HOME) }"
    )
    assert q.binds == [("var", "N", "HOME")]
    q = parse_sparql("select ?C ?TAG where { ?C type Customer . bind(<BUILDING> as ?TAG) }")
    assert q.binds == [("const", "BUILDING", "TAG")]
    for bad in [
        # alias collides with a bound variable (case-insensitively)
        "select ?C where { ?C type Customer . ?C inNation ?N . bind(?C as ?n) }",
        # unbound source
        "select ?C ?Y where { ?C type Customer . bind(?missing as ?Y) }",
        # duplicate aliases
        "select ?C where { ?C type Customer . bind(?C as ?a) . bind(?C as ?A) }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        (
            "select ?C ?HOME ?TAG where { ?C type Customer . ?C inNation ?N ."
            " bind(?N as ?HOME) . bind(<BUILDING> as ?TAG) }",
            False,
        ),
        (
            "select ?C ?HOME where { ?C type Customer . ?C inNation ?N ."
            " bind(?N as ?HOME) }",
            True,
        ),
    ],
)
def test_bind_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_bind_exact_spelling_rebind_rejected():
    """SPARQL 1.1: rebinding an in-use variable is a syntax error — the
    silent alternative overwrites the column identically on both engines,
    invisible to the oracle cross-check."""
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C ?N where { ?C type Customer . ?C inNation ?N . bind(?C as ?N) }"
        )
    # colliding with an aggregate alias is equally invalid
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?N (count(?C) as ?X) where { ?C inNation ?N . bind(?C as ?X) }"
            " group by ?N"
        )


def test_filter_on_bind_alias_works(engine, duck):
    """Binds apply before filters on both engines, so a filter may
    reference a bind alias."""
    qtext = (
        "select ?C ?HOME where { ?C type Customer . ?C inNation ?N ."
        " bind(?N as ?HOME) . filter (?HOME != <nation:5>) }"
    )
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


# ---- negated property sets -------------------------------------------------
def test_parse_negated_property_set():
    q = parse_sparql("select ?X where { <customer:1> !(type|name) ?X }")
    t = q.conditions[0].pred
    assert t.is_negated and t.alternatives == ("type", "name")
    q = parse_sparql("select ?X where { <customer:1> !type ?X }")
    assert q.conditions[0].pred.is_negated and q.conditions[0].pred.alternatives == ("type",)
    for bad in [
        "select ?X where { ?C !(a|?p) ?X }",   # variable in the set
        "select ?X where { ?C !(a ?X }",       # unbalanced parens
        "select ?X where { ?C !a+ ?X }",       # combined with +
        "select ?X where { ?C !(a/b) ?X }",    # sequence inside negation
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        ("select ?X where { <customer:1> !type ?X }", False),
        (
            "select ?C ?X where { ?C mktsegment <BUILDING> ."
            " ?C !(mktsegment|type|name) ?X }",
            False,
        ),
        ("select ?X where { <customer:1> !(type|name) ?X }", True),
    ],
)
def test_negated_property_set_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


def test_negated_set_complements_alternation(engine):
    """!(S) ∪ S over the same subject = the variable-predicate result."""
    base = "select ?P ?X where { <customer:1> ?P ?X }"
    all_rows = engine.sparql(base).count()
    inset = engine.sparql(
        "select ?X where { <customer:1> mktsegment|type ?X }"
    ).count()
    outset = engine.sparql(
        "select ?X where { <customer:1> !(mktsegment|type) ?X }"
    ).count()
    assert inset + outset == all_rows


def test_parse_path_group():
    q = parse_sparql("select ?C ?X where { ?C (inNation|inRegion)+ ?X }")
    t = q.conditions[0].pred
    assert t.is_transitive and t.is_alternation and t.is_path_closure
    assert t.alternatives == ("inNation", "inRegion")
    for bad in [
        # */? on a group need the identity machinery per pid-SET
        "select ?C ?X where { ?C (inNation|inRegion)* ?X }",
        "select ?C ?X where { ?C (inNation|inRegion)? ?X }",
        # single-predicate parens add nothing over plain p+
        "select ?C ?X where { ?C (inNation)+ ?X }",
        # nested operators inside a group
        "select ?C ?X where { ?C (inNation|^inRegion)+ ?X }",
        "select ?C ?X where { ?C (inNation+|inRegion)+ ?X }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


@pytest.mark.parametrize(
    "qtext,decode",
    [
        # customer reaches its nation (1 hop) and region (2 hops with
        # ALTERNATING predicates — not expressible as a per-pred closure)
        ("select ?C ?X where { ?C type Customer . ?C (inNation|inRegion)+ ?X }", False),
        # constant far end: pushdown through the closure CTE / pair frame
        ("select ?C where { ?C type Customer . ?C (inNation|inRegion)+ <region:2> }", False),
        # group closure inside an EXISTS body; decode composes
        (
            "select ?S where { ?S type Supplier ."
            " filter exists { ?S (inNation|inRegion)+ <region:1> } }",
            True,
        ),
    ],
)
def test_path_group_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


# ---- r5 grammar: IN lists, STRBEFORE/STRAFTER, ABS, DESC() ordering ------
def test_parse_in_filters():
    q = parse_sparql(
        "select ?C ?N where { ?C inNation ?N ."
        " filter (?N in (<nation:1>, <nation:2>)) ."
        " filter (?C not in (<customer:9>)) }"
    )
    got = sorted((f.kind, f.op, f.var, f.consts) for f in q.filters)
    assert got == [
        ("in", "", "N", ("nation:1", "nation:2")),
        ("in", "!", "C", ("customer:9",)),
    ]
    with pytest.raises(SparqlSyntaxError):
        parse_sparql("select ?A where { ?A type Order . filter (?A in ()) }")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?A where { ?A type Order . filter (?A in (<o:1>, <o:1>)) }"
        )


def test_parse_strslice_and_abs_filters():
    q = parse_sparql(
        'select ?C ?NM where { ?C name ?NM .'
        ' filter (strbefore(?NM, "#") = "Customer") .'
        ' filter (strafter(?NM, "#") != "000000001") .'
        ' ?C size ?A . ?C retail ?B . filter (abs(?A - ?B) > 3) }'
    )
    strs = sorted(
        (f.op, f.pattern, f.lhs_op, f.rhs_const)
        for f in q.filters
        if f.kind == "str"
    )
    assert strs == [
        ("strafter", "#", "!=", "000000001"),
        ("strbefore", "#", "=", "Customer"),
    ]
    (a2,) = [f for f in q.filters if f.kind == "arith2"]
    assert (a2.abs_fn, a2.lhs_op, a2.op, a2.rhs_num) == (True, "-", ">", 3)
    # empty separator diverges between STRBEFORE and STRAFTER per spec —
    # rejected rather than silently picking one reading
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            'select ?A where { ?A name ?NM . filter (strbefore(?NM, "") = "x") }'
        )


def test_parse_order_desc_function_syntax():
    q = parse_sparql(
        "select ?A ?B where { ?A inNation ?B } order by desc(?B) ?A asc(?A)"
    )
    assert q.order == [("B", True), ("A", False), ("A", False)]


@pytest.mark.parametrize(
    "qtext,decode",
    [
        # IN-list membership on encoded ids (expression twin of VALUES)
        (
            "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
            " filter (?N in (<nation:1>, <nation:7>, <nation:19>)) }",
            False,
        ),
        # NOT IN: the complement stays on ids, row-local
        (
            "select ?O ?ST where { ?O type Order . ?O status ?ST ."
            " filter (?ST not in (<F>, <O>)) }",
            True,
        ),
        # STRAFTER point lookup through the separator extraction
        (
            'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
            ' filter (strafter(?NM, "#") = "000000013") }',
            False,
        ),
        # STRBEFORE prefix-class test (every supplier name)
        (
            'select ?S ?NM where { ?S type Supplier . ?S name ?NM .'
            ' filter (strbefore(?NM, "#") = "Supplier") }',
            False,
        ),
        # separator absent from the lexical -> '' on both engines
        (
            'select ?R ?NM where { ?R type Region . ?R name ?NM .'
            ' filter (strbefore(?NM, "#") = "") }',
            False,
        ),
        # ABS over two-variable typed arithmetic: magnitude of size delta
        (
            "select ?L1 ?L2 where { ?L1 ofOrder ?O . ?L2 ofOrder ?O ."
            " ?L1 ofPart ?P1 . ?L2 ofPart ?P2 . ?P1 size ?S1 . ?P2 size ?S2 ."
            " filter (abs(?S1 - ?S2) >= 45) }",
            False,
        ),
        # DESC() ordering over an aggregate alias with a tiebreaker
        (
            "select ?N (count(?C) as ?cnt) where { ?C type Customer ."
            " ?C inNation ?N } group by ?N order by desc(?cnt) ?N limit 5",
            False,
        ),
        # SUM over an arithmetic BIND alias skips the id->value wrap
        (
            "select ?P (sum(?D) as ?tot) where { ?L ofPart ?P . ?P size ?SZ ."
            " bind(?SZ * 3 as ?D) } group by ?P order by desc(?tot) ?P limit 10",
            False,
        ),
    ],
)
def test_r5_filter_oracle(engine, duck, qtext, decode):
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=decode), duck, bgp_to_sql(q, decode=decode))


# ---- nested OPTIONAL -----------------------------------------------------
def test_parse_nested_optional_parents():
    q = parse_sparql(
        "select ?C ?O ?L where { ?C type Customer ."
        " optional { ?O placedBy ?C . optional { ?L ofOrder ?O } } }"
    )
    # innermost-first: group 0 is the inner {?L ofOrder ?O}, child of group 1
    assert len(q.optionals) == 2
    assert q.optional_parent == [1, -1]
    inner = q.optionals[0]
    assert {v for c in inner for v in c.variables()} == {"L", "O"}
    # scoping guard: a child variable bound in the required patterns but
    # absent from the enclosing group is rejected (NULL-compatible join
    # keys are inexpressible in the equi-join lowering)
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?C ?X where { ?C type Customer . ?X type Supplier ."
            " optional { ?O placedBy ?C . optional { ?X suppliedBy ?X } } }"
        )
    # same guard, deeper: a variable bound by the OUTERMOST group and
    # re-used in a non-immediate descendant — the intermediate level would
    # carry it only from its child (NULL-able join key), so the lowering
    # cannot express SPARQL's compatibility; must reject, not mis-answer
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?x ?v ?w where { ?x type T . optional { ?x p ?v ."
            " optional { ?x q ?w . optional { ?w r ?v } } } }"
        )


def test_parse_nested_optional_filter_scope_rejections():
    """Accept-then-crash guards: forms the translators cannot lower must
    fail at PARSE time as SparqlSyntaxError, never mid-translation."""
    # outer-variable cmp filter inside a NESTED group (translator/oracle
    # only support group-local filters there)
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?c ?o ?l where { ?c type Customer . optional {"
            " ?o placedBy ?c . optional { ?l ofOrder ?o . filter (?l != ?c) } } }"
        )
    # a later group's filter over a variable bound only inside an EARLIER
    # group's nested child: that column is not exported to later ON
    # clauses (parse order != render order for nested children)
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(
            "select ?x where { ?x type T . optional { ?p q ?x ."
            " optional { ?b r ?p } } . optional { ?g s ?x . filter (?g != ?b) } }"
        )


@pytest.mark.parametrize(
    "qtext",
    [
        # two-level chain, each level may be missing
        (
            "select ?C ?O ?L where { ?C type Customer ."
            " optional { ?O placedBy ?C . optional { ?L ofOrder ?O } } }"
        ),
        # local filter inside the inner group: an order whose every status
        # fails keeps (C, O, NULL); order-less customers keep (C, NULL, NULL)
        (
            "select ?C ?O ?ST where { ?C type Customer ."
            " optional { ?O placedBy ?C ."
            " optional { ?O status ?ST . filter (?ST != <F>) } } }"
        ),
        # nested chain plus an independent flat sibling group
        (
            "select ?C ?N ?O ?L where { ?C type Customer ."
            " optional { ?C inNation ?N } ."
            " optional { ?O placedBy ?C . optional { ?L ofOrder ?O } } }"
        ),
        # three levels: customer -> order -> lineitem -> part
        (
            "select ?C ?O ?L ?P where { ?C type Customer ."
            " optional { ?O placedBy ?C ."
            " optional { ?L ofOrder ?O . optional { ?L ofPart ?P } } } }"
        ),
    ],
)
def test_nested_optional_oracle(engine, duck, qtext):
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


def test_nested_optional_null_extension(engine):
    """Chain semantics: every customer appears; (C, O, NULL) exactly for
    orders with no lineitem; (C, NULL, NULL) exactly for customers with
    no order."""
    rows = engine.sparql(
        "select ?C ?O ?L where { ?C type Customer ."
        " optional { ?O placedBy ?C . optional { ?L ofOrder ?O } } }"
    ).collect()
    all_customers = {
        r["C"] for r in engine.sparql("select ?C where { ?C type Customer }").collect()
    }
    assert {r["C"] for r in rows} == all_customers
    no_order = {r["C"] for r in rows if r["O"] is None}
    assert all(r["L"] is None for r in rows if r["O"] is None)
    with_orders = {
        r["C"]
        for r in engine.sparql(
            "select ?C ?O where { ?C type Customer . ?O placedBy ?C }"
        ).collect()
    }
    assert no_order == all_customers - with_orders


def test_parse_replace_filter_and_oracle(engine, duck):
    q = parse_sparql(
        'select ?C ?NM where { ?C name ?NM .'
        ' filter (replace(?NM, "a+", "b") != "x") }'
    )
    (f,) = q.filters
    assert (f.kind, f.op, f.pattern, f.rhs_var, f.lhs_op, f.rhs_const) == (
        "str", "replace", "a+", "b", "!=", "x",
    )
    qt = (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (replace(?NM, "0+", "0") = "Customer#013") }'
    )
    assert_oracle_match(engine.sparql(qt), duck, bgp_to_sql(parse_sparql(qt)))


@pytest.mark.parametrize(
    "qtext",
    [
        # sequence path inside an OPTIONAL group
        "select ?C ?R where { ?C type Customer . optional { ?C inNation/inRegion ?R } }",
        # alternation-closure path inside FILTER EXISTS
        "select ?C where { ?C type Customer . filter exists { ?C (inNation|inRegion)+ <region:1> } }",
        # sequence path inside MINUS
        "select ?C where { ?C type Customer . minus { ?C inNation/inRegion <region:1> } }",
        # VALUES composed with a grouped aggregate
        "select ?N (count(?C) as ?cnt) where { ?C inNation ?N ."
        " values ?N { <nation:1> <nation:2> } } group by ?N",
        # nested OPTIONAL under a grouped aggregate (counts NULL-extend to 0)
        "select ?C (count(?L) as ?n) where { ?C type Customer ."
        " optional { ?O placedBy ?C . optional { ?L ofOrder ?O } } } group by ?C",
        # string filter + nested OPTIONAL in one query
        'select ?C ?NM ?O where { ?C type Customer . ?C name ?NM .'
        ' filter strends(?NM, "3") .'
        " optional { ?O placedBy ?C . optional { ?O status <F> } } }",
        # UNION under ORDER BY/LIMIT (total order over the bag union)
        "select ?X where { { ?X type Region } union { ?X type Nation } }"
        " order by ?X desc limit 10",
        # DISTINCT over heterogeneous UNION branches
        "select distinct ?X where { { ?X inRegion <region:1> } union { ?X type Nation } }",
        # two MINUS groups stack (each an independent anti-join)
        "select ?C where { ?C type Customer . minus { ?C inNation <nation:1> } ."
        " minus { ?C inNation <nation:2> } }",
        # EXISTS semi-join composed with MINUS anti-join
        "select ?C where { ?C type Customer . filter exists { ?O placedBy ?C } ."
        " minus { ?C inNation <nation:3> } }",
    ],
)
def test_feature_combinations_oracle(engine, duck, qtext):
    """Cross-feature interactions (paths inside OPTIONAL/MINUS/EXISTS,
    VALUES + aggregates, nested OPTIONAL + aggregates, string filters +
    nesting) stay oracle-equal — the places where two lowerings could
    interfere."""
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


# ---- ||/&& boolean connectives (SPARQL §17.4.1.5/.6) ----------------------
def test_boolop_parses_to_parts():
    q = parse_sparql(
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?N = <nation:1> || ?N = <nation:7>) }"
    )
    (f,) = q.filters
    assert f.kind == "boolop" and f.op == "||"
    assert [p.kind for p in f.parts] == ["cmp", "cmp"]
    assert f.refs() == ("N", "N")


@pytest.mark.parametrize(
    "bad",
    [
        # mixed connectives require explicit grouping (no silent precedence)
        "select ?C where { ?C type Customer . filter (?C = <customer:1>"
        " || ?C = <customer:2> && ?C = <customer:3>) }",
        # a join-backed operand (regex/string function) cannot ride a
        # disjunction — its dict join would have to apply unconditionally
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (regex(?NM, "x") || ?C = <customer:1>) }',
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (contains(?NM, "x") && ?C = <customer:1>) }',
    ],
    ids=["mixed", "regex-part", "strfn-part"],
)
def test_boolop_rejections(bad):
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(bad)


def test_boolop_connective_inside_literal_not_split():
    """A '||' INSIDE a quoted literal is data, not a connective — the
    scanner is quote-aware, so the single-clause ucase rule still owns
    this filter."""
    q = parse_sparql(
        'select ?P ?NM where { ?P type Part . ?P name ?NM .'
        ' filter (ucase(?NM) = "A||B") }'
    )
    (f,) = q.filters
    assert f.kind == "str" and f.op == "ucase"


@pytest.mark.parametrize(
    "qtext",
    [
        # unknown IRI in an equality filter: empty, never a KeyError
        "select ?v where { ?v type Part . filter (?v = <never:seen>) }",
        # unknown IRI as a pattern object: the scan prunes to empty
        "select ?s where { ?s inNation <never:1> }",
        # != unknown keeps every bound row (a term absent from the data is
        # unequal to every bound term — SPARQL queries legally mention it)
        "select ?C ?N where { ?C type Customer . ?C inNation ?N . filter (?N != <ghost>) }",
        # IN list with one unknown member: only the known member matches
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?N in (<nation:1>, <ghost>)) }",
    ],
    ids=["eq-empty", "pattern-empty", "neq-all", "in-partial"],
)
def test_unknown_constant_matches_nothing(engine, duck, qtext):
    """Terms absent from the dictionary resolve to the shared UNKNOWN_ID
    sentinel on BOTH engines: matches no triple, unequal to every bound
    id — never an error (triples.py UNKNOWN_ID)."""
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=False), duck, bgp_to_sql(q, decode=False))


def test_boolop_connective_inside_iri_not_split():
    """A '||' INSIDE a <…> bracketed constant is part of the IRI (an IRI
    legally contains every marker character), while a lone '<' is the
    less-than operator — the scanner must skip only ATOMIC <nonspace>
    constants and still split around real comparisons."""
    q = parse_sparql("select ?v where { ?v type Part . filter (?v = <x||y>) }")
    (f,) = q.filters
    assert f.kind == "cmp" and f.rhs_const == "x||y"
    q2 = parse_sparql(
        "select ?v ?w where { ?v size ?a . ?w size ?b . filter (?a < 5 || ?b > 3) }"
    )
    (f2,) = q2.filters
    assert f2.kind == "boolop" and f2.op == "||" and len(f2.parts) == 2


@pytest.mark.parametrize(
    "qtext",
    [
        # variable-variable identity (the samenation query via sameTerm)
        "select ?L ?S ?C where { ?L suppliedBy ?S . ?L ofOrder ?O ."
        " ?O placedBy ?C . ?C inNation ?N1 . ?S inNation ?N2 ."
        " filter (sameTerm(?N1, ?N2)) }",
        # negated constant identity (the not-this-term idiom)
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (!sameTerm(?N, <nation:5>)) }",
        # sameTerm atoms under a connective
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (sameTerm(?N, <nation:1>) || sameTerm(?N, <nation:7>)) }",
    ],
    ids=["var-var", "not-const", "or-atoms"],
)
def test_sameterm_oracle(engine, duck, qtext):
    """sameTerm is id equality under the bijective dictionary encoding —
    lowered exactly like `=` on both engines (§17.4.1.8)."""
    q = parse_sparql(qtext)
    assert_oracle_match(engine.sparql(qtext, decode=False), duck, bgp_to_sql(q, decode=False))


def test_filter_scan_survives_paren_inside_iri():
    """A '(' inside an atomic <…> constant must not derail the balanced
    filter scan: the LATER connective filter still parses (the unmatched
    paren would otherwise make the scanner bail on the whole body)."""
    q = parse_sparql(
        "select ?P ?x ?y where { ?P name ?x . ?P size ?y ."
        " filter (?P = <x:(a>) . filter (?x = 1 || ?y = 2) }"
    )
    assert sorted(f.kind for f in q.filters) == ["boolop", "cmp"]


def test_boolop_nested_tree_shapes():
    """The connective grammar is RECURSIVE: grouped sub-expressions and
    !(…) parse to nested boolop trees, and ! binds tighter than the
    connectives (``!(A) || B`` is ``(!A) || B``, not ``!(A || B)``)."""

    def shape(f):
        if f.kind == "boolop":
            return (f.op, [shape(p) for p in f.parts])
        return f.kind

    def one(q):
        (f,) = parse_sparql(q).filters
        return shape(f)

    base = "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter %s }"
    assert one(base % "(!(?SZ < 10 || ?SZ > 40))") == ("!", [("||", ["arith", "arith"])])
    assert one(base % "((?SZ < 10 || ?SZ > 40) && ?SZ != 25)") == (
        "&&", [("||", ["arith", "arith"]), "arith"])
    assert one(base % "(!(?SZ < 10) || ?SZ = 5)") == ("||", [("!", ["arith"]), "arith"])
    # redundant DOUBLE parentheses around an operand: the strip loops
    assert one(base % "(((?SZ < 10 || ?SZ > 40)) && ?SZ != 25)") == (
        "&&", [("||", ["arith", "arith"]), "arith"])
    # ungrouped mixed connectives stay rejected at every nesting level
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(base % "(?SZ < 10 || ?SZ > 40 && ?SZ != 45)")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(base % "(!(?SZ < 10 || ?SZ > 40 && ?SZ != 45))")


@pytest.mark.parametrize(
    "qtext",
    [
        # id-membership disjunction
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?N = <nation:1> || ?N = <nation:7>) }",
        # typed-numeric-value band (outlier idiom): both parts arith
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (?SZ < 10 || ?SZ > 40) }",
        # 3VL across an OPTIONAL: unbound ?O makes the cmp part NULL, and
        # NULL OR TRUE = TRUE keeps the row exactly like SPARQL error||true
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . filter (!bound(?O) || ?C = <customer:1>) }",
        # IN-membership conjoined with an id range
        "select ?O ?ST where { ?O type Order . ?O status ?ST ."
        " filter (?ST in (<F>, <O>) && ?O >= <order:100>) }",
        # arithmetic on both sides of the disjunction
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (?SZ * 2 >= 80 || ?SZ + 10 < 15) }",
        # parenthesized operands
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter ((?N = <nation:1>) || (?N = <nation:7>)) }",
        # De Morgan: NOT over a grouped disjunction
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (!(?N = <nation:1> || ?N = <nation:7>)) }",
        # grouped disjunction under a conjunction (mixed via grouping)
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter ((?SZ < 10 || ?SZ > 40) && ?SZ != 25) }",
        # grouped conjunction as the second operand
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (?SZ < 10 || (?SZ > 40 && ?SZ != 45)) }",
        # negated operands inside a conjunction
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (!(?SZ < 30) && !(?SZ > 35)) }",
        # NOT over a conjunction with an OPTIONAL-unbound operand: SQL
        # NOT(NULL AND …) 3VL matches SPARQL !(error && …) on both engines
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . filter (!(bound(?O) && ?C != <customer:1>)) }",
    ],
    ids=[
        "or-cmp", "or-arith", "or-bound-3vl", "and-in-range", "or-arith2",
        "or-parens", "not-or", "group-and", "group-or", "not-and-not",
        "not-over-and-3vl",
    ],
)
def test_boolop_oracle_match(engine, duck, qtext):
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


def test_negation_parses_nested():
    q = parse_sparql(
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (!(?SZ > 10) || ?SZ > 40) }"
    )
    (f,) = q.filters
    assert f.kind == "boolop" and f.op == "||"
    assert f.parts[0].kind == "boolop" and f.parts[0].op == "!"
    assert f.parts[0].parts[0].kind == "arith"
    assert f.refs() == ("SZ", "SZ")


@pytest.mark.parametrize(
    "qtext",
    [
        # standalone negation of an id comparison
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (!(?N = <nation:1>)) }",
        # negated IN (the expression-form NOT IN twin, via fn:not)
        "select ?O ?ST where { ?O type Order . ?O status ?ST ."
        " filter (!(?ST in (<F>, <O>))) }",
        # negated arith operand inside a disjunction
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (!(?SZ > 10) || ?SZ > 40) }",
        # negation over an unbound OPTIONAL var: NOT(NULL cmp) stays NULL
        # on both engines — the row drops, matching SPARQL !(error)=error
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . filter (!(?O = <order:1>)) }",
    ],
    ids=["not-cmp", "not-in", "not-arith-in-or", "not-3vl"],
)
def test_negation_oracle_match(engine, duck, qtext):
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(parse_sparql(qtext)))


def test_boolop_inside_optional_group(engine, duck):
    """A ||/&& connective with group-local vars lowers INSIDE the optional
    group before the left join, like the other group-local forms."""
    qtext = (
        "select ?C ?O ?PR where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority ?PR . filter (?PR = <1-URGENT> || ?PR = <5-LOW>) } }"
    )
    q = parse_sparql(qtext)
    assert any(f.kind == "boolop" for flts in q.optional_filters for f in flts)
    assert_oracle_match(engine.sparql(qtext), duck, bgp_to_sql(q))


def test_isnumeric_filter(engine, duck):
    """isNumeric (§17.4.2.4) lowers to the typed-value window test: over a
    varpred fan-out only numeric-literal ids survive; the negation keeps
    the complement; both compose under the connectives."""
    pos = "select ?P2 ?V where { <part:5> ?P2 ?V . filter (isNumeric(?V)) }"
    neg = "select ?P2 ?V where { <part:5> ?P2 ?V . filter (!isNumeric(?V)) }"
    both = "select ?P2 ?V where { <part:5> ?P2 ?V }"
    rows_pos = engine.sparql(pos).count()
    rows_neg = engine.sparql(neg).count()
    assert rows_pos == 1  # exactly the size literal
    assert rows_pos + rows_neg == engine.sparql(both).count()
    for q in (pos, neg,
              "select ?P2 ?V where { <part:5> ?P2 ?V ."
              " filter (isNumeric(?V) || ?V = <Part>) }"):
        assert_oracle_match(engine.sparql(q), duck, bgp_to_sql(parse_sparql(q)))


def test_isnumeric_unbound_is_type_error(engine, duck):
    """isNumeric over an OPTIONAL-unbound variable is a TYPE ERROR, not
    false (§17.4.2.4 + §17.2): both the positive and the negated form
    drop the unbound rows — (val IS NULL) alone would make !isNumeric
    keep them.  Region rows have no size triple, so ?SZ is unbound for
    every region under the OPTIONAL."""
    base = "select ?X ?SZ where { ?X type Region . optional { ?X size ?SZ } }"
    pos = base[:-2] + ". filter (isNumeric(?SZ)) }"
    neg = base[:-2] + ". filter (!isNumeric(?SZ)) }"
    n_base = engine.sparql(base).count()
    assert n_base > 0
    assert engine.sparql(pos).count() == 0  # unbound -> error -> drop
    assert engine.sparql(neg).count() == 0  # negation propagates the error
    for q in (pos, neg):
        assert_oracle_match(engine.sparql(q), duck, bgp_to_sql(parse_sparql(q)))
