"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship SPARQL query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
north-star extensions; ``oracle_sql()`` gives the DuckDB-equivalent SQL for
each (all entries here are SQL-expressible — streaming runtime operators are
exercised by tests/test_streaming.py and represented here by their batch
twins with identical semantics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# --- SPARQL query corpus (reference surface: SURVEY.md §2 O1-O11) ---------
SPARQL_QUERIES: dict[str, tuple[str, bool]] = {
    # name -> (sparql text, decode?)
    "sparql_star": (
        "select ?O ?ST ?PR where { ?O type Order . ?O placedBy <customer:1> ."
        " ?O status ?ST . ?O priority ?PR }",
        False,
    ),
    "sparql_cycle5": (
        "select ?L ?C ?S ?N where { ?L suppliedBy ?S . ?S inNation ?N ."
        " ?C inNation ?N . ?O placedBy ?C . ?L ofOrder ?O }",
        False,
    ),
    "sparql_path": (
        "select ?L ?O ?C where { ?L ofOrder ?O . ?O placedBy ?C . ?C inNation <nation:5> }",
        False,
    ),
    "sparql_varpred": ("select ?P ?X where { <customer:1> ?P ?X }", False),
    "sparql_empty": ("select ?X ?Y where { ?X type Region . ?X inNation ?Y }", False),
    "sparql_distinct": (
        "select distinct ?N where { ?C type Customer . ?C inNation ?N }",
        False,
    ),
    "sparql_ground": (
        "select ?X where { <customer:1> type Customer . ?X placedBy <customer:1> }",
        False,
    ),
    "sparql_decode": (
        "select ?O ?ST ?PR where { ?O type Order . ?O placedBy <customer:1> ."
        " ?O status ?ST . ?O priority ?PR }",
        True,
    ),
    # ORDER BY + LIMIT superset (reference grammar has neither, SURVEY.md §2.3)
    "sparql_topk": (
        "select ?O ?C where { ?O type Order . ?O placedBy ?C } order by ?O desc limit 20",
        False,
    ),
    # OFFSET paging superset: deterministic under the total ORDER BY
    "sparql_paged": (
        "select ?O ?C where { ?O type Order . ?O placedBy ?C } order by ?O desc"
        " limit 20 offset 40",
        False,
    ),
    # disconnected BGP components → bag-union cross product (reference O7)
    "sparql_disconnected": (
        "select ?R ?S where { ?R type Region . ?S type Supplier }",
        False,
    ),
    # FILTER/OPTIONAL supersets (reference grammar has neither — Structs.h:82
    # ships an always-NULL Query.filter field; SURVEY.md §2.3)
    "sparql_optional": (
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } }",
        False,
    ),
    "sparql_optional_ground": (
        "select ?C ?N ?O where { ?C type Customer . ?C inNation ?N ."
        " optional { ?O placedBy ?C . ?O status <F> } }",
        False,
    ),
    "sparql_filter_ne": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N . filter (?N != <nation:5>) }",
        False,
    ),
    "sparql_filter_samenation": (
        "select ?L ?S ?C where { ?L suppliedBy ?S . ?L ofOrder ?O . ?O placedBy ?C ."
        " ?C inNation ?N1 . ?S inNation ?N2 . filter (?N1 = ?N2) }",
        False,
    ),
    "sparql_filter_regex": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM . filter regex(?NM, "1$") }',
        False,
    ),
    "sparql_optional_decode": (
        "select ?C ?O where { ?C type Customer . optional { ?O placedBy ?C } }",
        True,
    ),
    # FILTER inside an OPTIONAL group (SPARQL LeftJoin(P1, P2, E) with E
    # over group-local vars): a customer whose every order fails the
    # filter keeps a NULL-extended row — a top-level filter would drop it
    "sparql_optional_filtered": (
        "select ?C ?O ?ST where { ?C type Customer ."
        " optional { ?O placedBy ?C . ?O status ?ST . filter (?ST != <F>) } }",
        False,
    ),
    # Aggregate superset: count/count-distinct with group by (SPARQL 1.1
    # shape; reference grammar has no aggregates, SURVEY.md §2.3)
    "sparql_count_group": (
        "select ?N (count(?C) as ?cnt) where { ?C type Customer . ?C inNation ?N }"
        " group by ?N",
        False,
    ),
    "sparql_count_distinct": (
        "select ?N (count(distinct ?S) as ?nsupp) (count(*) as ?nrows)"
        " where { ?L suppliedBy ?S . ?S inNation ?N } group by ?N",
        False,
    ),
    "sparql_count_optional": (
        "select ?C (count(?O) as ?norders) where { ?C type Customer ."
        " optional { ?O placedBy ?C } } group by ?C",
        False,
    ),
    "sparql_count_decode": (
        "select ?N (count(?C) as ?cnt) where { ?C type Customer . ?C inNation ?N }"
        " group by ?N",
        True,
    ),
    # MIN/MAX aggregates over the order-preserving id scheme: per nation,
    # the lowest/highest customer id plus the member count
    "sparql_minmax": (
        "select ?N (min(?C) as ?lo) (max(?C) as ?hi) (count(?C) as ?cnt)"
        " where { ?C type Customer . ?C inNation ?N } group by ?N",
        False,
    ),
    # HAVING superset: post-grouping aggregate filter (order counts vary
    # per customer, so the threshold genuinely partitions the groups)
    "sparql_having": (
        "select ?C (count(?O) as ?norders) where { ?C type Customer ."
        " optional { ?O placedBy ?C } } group by ?C having (count(?O) > 5)",
        False,
    ),
    # implicit-group aggregates (SPARQL 1.1 §11.1: aggregates with no
    # GROUP BY form ONE group over the whole solution multiset)
    "sparql_count_all": (
        "select (count(*) as ?n) (count(distinct ?C) as ?nc)"
        " where { ?O placedBy ?C }",
        False,
    ),
    # multi-key ORDER BY with mixed directions; (?N desc, ?C asc) is a
    # total order (customer ids unique), so the LIMIT page is deterministic
    "sparql_order_multi": (
        "select ?N ?C where { ?C type Customer . ?C inNation ?N }"
        " order by ?N desc ?C limit 30",
        False,
    ),
    # MINUS superset: anti-join removal of compatible bindings
    "sparql_minus": (
        "select ?C where { ?C type Customer ."
        " minus { ?O placedBy ?C . ?O priority <1-URGENT> } }",
        False,
    ),
    "sparql_minus_shared": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " minus { ?S type Supplier . ?S inNation ?N } }",
        False,
    ),
    # UNION superset: bag-union alternation, NULL-padded heterogeneous
    # branches (reference O7 generalized; grammar has no union, SURVEY.md §2.3)
    "sparql_union": (
        "select ?X where { { ?X type Customer } union { ?X type Supplier } }",
        False,
    ),
    "sparql_union_hetero": (
        "select ?X ?N ?S where { { ?X inNation ?N . ?X type Supplier }"
        " union { ?X mktsegment ?S } }",
        True,
    ),
    # property-path superset (SPARQL 1.1 OneOrMorePath): pred+ = transitive
    # closure, semi-naive iteration on the Spark side, recursive CTE oracle
    "sparql_path_plus": (
        "select ?N ?R where { ?N type Nation . ?N inRegion+ ?R }",
        False,
    ),
    # ZeroOrMorePath (SPARQL 1.1 ``p*``): closure ∪ zero-length identity —
    # every nation pairs with itself AND its region
    "sparql_path_star": (
        "select ?N ?R where { ?N type Nation . ?N inRegion* ?R }",
        False,
    ),
    # ZeroOrOnePath (SPARQL 1.1 ``p?``): edge set ∪ identity — every
    # supplier pairs with itself AND its nation
    "sparql_path_opt": (
        "select ?S ?X where { ?S type Supplier . ?S inNation? ?X }",
        False,
    ),
    # constant-anchored ZeroLengthPath (SPARQL 1.1 §18.4): a constant
    # endpoint self-pairs whether or not it occurs in the graph —
    # nation:9999 has a dictionary id but no triples, so the zero-hop
    # identity row is the ONLY result (engine: literal-row identity
    # domain; oracle: anchored pathstar CTE).  New in r6, closing the
    # r5 ADVICE (a) documented deviation.
    "sparql_path_ground": (
        "select ?N where { ?N inRegion* <nation:9999> }",
        False,
    ),
    # VALUES superset: single-variable inline bindings → IN-filter lowering
    "sparql_values": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " values ?N { <nation:1> <nation:2> <nation:3> } }",
        False,
    ),
    # multi-variable VALUES: row bindings → row-IN predicate on id tuples
    "sparql_values_rows": (
        "select ?O ?C ?PR where { ?O placedBy ?C . ?O priority ?PR ."
        " values (?C ?PR) { (<customer:1> <1-URGENT>) (<customer:1> <5-LOW>)"
        " (<customer:2> <2-HIGH>) } }",
        False,
    ),
    # empty SUBPLAN inside a larger join (reference O10 / stats key <1>.1.6=-1):
    # regions are never inNation subjects, so the middle pattern is empty and
    # AQE's empty-relation propagation must collapse the whole join
    "sparql_empty_join": (
        "select ?X ?Y where { ?X type Region . ?X inNation ?Y . ?Y type Nation }",
        False,
    ),
    # ASK superset (SPARQL 1.1 boolean-existence form): one positive (any
    # order placed by customer:1?) and one provably negative (O10 shape)
    "sparql_ask_pos": ("ask { ?O placedBy <customer:1> . ?O status ?ST }", False),
    "sparql_ask_neg": ("ask where { ?X type Region . ?X inNation ?Y }", False),
    # CONSTRUCT superset: emit a derived graph (two template triples per
    # binding; template constants resolve through the dictionary like
    # pattern constants do)
    "sparql_construct": (
        "construct { ?C inNation ?N . ?C type Customer } "
        "where { ?O placedBy ?C . ?C inNation ?N . ?O priority <1-URGENT> }",
        False,
    ),
    # CONSTRUCT over an OPTIONAL body: template triples with an unbound
    # variable are OMITTED per the SPARQL spec (not emitted with NULLs)
    "sparql_construct_optional": (
        "construct { ?O placedBy ?C } where { ?C type Customer ."
        " optional { ?O placedBy ?C . ?O priority <1-URGENT> } }",
        False,
    ),
    # DESCRIBE superset: every triple touching a constant term
    "sparql_describe": ("describe <customer:1>", False),
    # DESCRIBE ?v WHERE { … }: the graph around every DISTINCT matched
    # term — two equi semi joins + distinct, never an OR-predicate join
    "sparql_describe_where": (
        "describe ?N where { ?N type Nation . ?N inRegion <region:1> }",
        False,
    ),
    # FILTER ordering comparison on the order-preserving id scheme
    "sparql_filter_range": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?C < <customer:100>) }",
        False,
    ),
    # arithmetic FILTER on the typed-numeric-value layer: part sizes are
    # numeric literals (id − 300000), so ?SZ + 5 > 30 compares VALUES, not
    # ids — the expression-FILTER superset (non-numeric terms type-error
    # to NULL and drop, per spec)
    "sparql_filter_arith": (
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ + 5 > 30) }",
        False,
    ),
    # typed numeric aggregates over the value layer: total and average
    # part size shipped per supplier (sum = exact int; avg pinned to
    # CAST(sum AS DOUBLE)/count so both engines divide identical operands)
    "sparql_sum_group": (
        "select ?S (sum(?SZ) as ?tot_size) (count(?SZ) as ?n_items)"
        " where { ?L suppliedBy ?S . ?L ofPart ?P . ?P size ?SZ } group by ?S",
        False,
    ),
    "sparql_avg_size": (
        "select ?S (avg(?SZ) as ?avg_size) where { ?L suppliedBy ?S ."
        " ?L ofPart ?P . ?P size ?SZ } group by ?S",
        False,
    ),
    # BOUND test after OPTIONAL — the SPARQL negation-by-failure idiom:
    # customers with NO urgent order (≡ the MINUS/NOT EXISTS shapes, via a
    # NULL test on the left-joined variable instead of an anti-join)
    "sparql_not_bound": (
        "select ?C where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . filter (!bound(?O)) }",
        False,
    ),
    # FILTER EXISTS superset: correlated semi-join — customers with at
    # least one finished order; group variables never bind out
    "sparql_exists": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter exists { ?O placedBy ?C . ?O status <F> } }",
        False,
    ),
    # FILTER NOT EXISTS: correlated anti-join — customers with no URGENT
    # order (differs from MINUS exactly when domains are disjoint; here
    # they share ?C, same lowering, spec-identical result)
    "sparql_not_exists": (
        "select ?C where { ?C type Customer ."
        " filter not exists { ?O placedBy ?C . ?O priority <1-URGENT> } }",
        False,
    ),
    # property-path alternation (SPARQL 1.1 PathAlternative): one scan with
    # an IN predicate filter — geography edges of either kind
    "sparql_alt_pred": (
        "select ?X ?Y where { ?X inNation|inRegion ?Y }",
        False,
    ),
    # inverse path (SPARQL 1.1 InversePath): ?C ^placedBy ?O ≡ ?O placedBy
    # ?C — same scan, swapped slot bindings, no extra join
    "sparql_inverse": (
        "select ?C ?O where { ?C type Customer . ?C ^placedBy ?O ."
        " ?O priority <1-URGENT> }",
        False,
    ),
    # GROUP_CONCAT aggregate: decoded lexicals, sorted ascending, ','-joined
    # (the engine's determinism contract — SPARQL leaves the order open)
    # GROUP_CONCAT with the SPARQL 1.1 SEPARATOR= scalar argument (sorted
    # lexicals — the pinned determinism contract; default-comma form is
    # covered by tests/test_sparql.py)
    "sparql_group_concat": (
        'select ?R (group_concat(?NM; separator="; ") as ?names) where'
        " { ?N inRegion ?R . ?N name ?NM } group by ?R",
        False,
    ),
    # SAMPLE aggregate: deterministically MIN over the ids (SPARQL leaves
    # the choice open; a distributed engine must pin it)
    "sparql_sample": (
        "select ?N (sample(?C) as ?anyc) (count(?C) as ?cnt)"
        " where { ?C type Customer . ?C inNation ?N } group by ?N",
        False,
    ),
    # SPARQL 1.1 subquery: the nested SELECT aggregates independently and
    # inner-joins the outer patterns on the shared variable — per-customer
    # order counts joined with the customer's nation
    "sparql_subquery": (
        "select ?N ?C ?cnt where { { select ?C (count(?O) as ?cnt)"
        " where { ?O placedBy ?C } group by ?C } . ?C inNation ?N }",
        False,
    ),
    # subquery with inner ORDER BY/LIMIT: the top-5 most-ordered customers
    # (inner top-k runs BEFORE the outer join, per SPARQL evaluation order)
    "sparql_subquery_topk": (
        "select ?N ?C ?cnt where { { select ?C (count(?O) as ?cnt)"
        " where { ?O placedBy ?C } group by ?C order by ?cnt desc ?C limit 5 } ."
        " ?C inNation ?N }",
        False,
    ),
    # sequence property path (SPARQL 1.1 SequencePath): p1/p2/p3 rewrites
    # to chained patterns through fresh internal variables at parse time —
    # lineitem -> supplier -> nation -> region in one path expression
    "sparql_seq_path": (
        "select ?L ?R where { ?L suppliedBy/inNation/inRegion ?R }",
        False,
    ),
    # sequence path with an inverse first hop: customers' order statuses
    "sparql_seq_inverse": (
        "select ?C ?S where { ?C ^placedBy/status ?S . ?C mktsegment <BUILDING> }",
        False,
    ),
    # negated property set (SPARQL 1.1 NegatedPropertySet): any predicate
    # EXCEPT the listed ones — one scan with a NOT-IN residual filter
    "sparql_neg_pred": (
        "select ?C ?X where { ?C mktsegment <BUILDING> ."
        " ?C !(mktsegment|type|name) ?X }",
        False,
    ),
    # BIND superset (expression-free subset: variable aliasing + constant
    # binding — id arithmetic is not meaningful on dictionary ids)
    "sparql_bind": (
        "select ?C ?HOME ?TAG where { ?C type Customer . ?C inNation ?N ."
        " bind(?N as ?HOME) . bind(<BUILDING> as ?TAG) }",
        False,
    ),
    # arithmetic BIND over the typed numeric value layer: the alias
    # carries a computed NUMBER (size value + 100), not a dictionary id
    "sparql_bind_arith": (
        "select ?P ?SZ ?SZ2 where { ?P type Part . ?P size ?SZ ."
        " bind(?SZ + 100 as ?SZ2) }",
        False,
    ),
    # SPARQL 1.1 string-function FILTERs over the decoded lexical (one
    # dict equi-join per filter, literal — not regex — string tests):
    # CONTAINS substring match on customer names
    "sparql_filter_contains": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter contains(?NM, "00001") }',
        False,
    ),
    # STRSTARTS prefix match on region names (AFRICA/AMERICA/ASIA pass)
    "sparql_filter_strstarts": (
        'select ?R ?NM where { ?R type Region . ?R name ?NM .'
        ' filter strstarts(?NM, "A") }',
        False,
    ),
    # STRLEN length comparison on nation names (NATION_0..9 pass, _10+ drop)
    "sparql_filter_strlen": (
        "select ?N ?NM where { ?N type Nation . ?N name ?NM ."
        " filter (strlen(?NM) <= 8) }",
        False,
    ),
    # multiplicative arithmetic FILTER on the typed numeric value layer
    # (the lhs-op grammar covers + - *; division is excluded — integer
    # vs float semantics differ across engines)
    "sparql_filter_arith_mul": (
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ . filter (?SZ * 3 > 60) }",
        False,
    ),
    # COALESCE BIND: first non-NULL of the listed variables — the SPARQL
    # fallback idiom after OPTIONAL (urgent-order id if one exists, else
    # the customer's own id)
    "sparql_bind_coalesce": (
        "select ?C ?X where { ?C type Customer . optional { ?O placedBy ?C ."
        " ?O priority <1-URGENT> } . bind(coalesce(?O, ?C) as ?X) }",
        False,
    ),
    # UCASE case-mapped equality on part names (lowercase in the data, so
    # the fold is load-bearing: "RED PLATE" only matches through ucase)
    "sparql_filter_ucase": (
        'select ?P ?NM where { ?P type Part . ?P name ?NM .'
        ' filter (ucase(?NM) = "RED PLATE") }',
        False,
    ),
    # SUBSTR positional test on customer names (1-based like SPARQL
    # §17.4.3.3; position 15 is the 6th digit of the zero-padded key)
    "sparql_filter_substr": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (substr(?NM, 15, 1) = "1") }',
        False,
    ),
    # numeric IF BIND: flag parts above the size threshold; the alias
    # carries a plain 0/1, and a non-numeric condition term would leave it
    # unbound (SPARQL error propagation, sources/triples.if_numeric_sql)
    "sparql_bind_if": (
        "select ?P ?SZ ?BIG where { ?P type Part . ?P size ?SZ ."
        " bind(if(?SZ > 25, 1, 0) as ?BIG) }",
        False,
    ),
    # two-VARIABLE arithmetic FILTER (sources/triples.arith2_sql): pairs
    # of lineitems within one order whose part sizes sum to the constant —
    # both operands are typed numeric values, not literals
    "sparql_filter_arith_vars": (
        "select ?L1 ?L2 ?S1 ?S2 where { ?L1 ofOrder ?O . ?L2 ofOrder ?O ."
        " ?L1 ofPart ?P1 . ?L2 ofPart ?P2 . ?P1 size ?S1 . ?P2 size ?S2 ."
        " filter (?S1 + ?S2 = 100) }",
        False,
    ),
    # two-variable arithmetic BIND: the size DIFFERENCE of the pair; the
    # alias carries a plain (possibly negative) number the filter reuses
    "sparql_bind_arith_vars": (
        "select ?L1 ?L2 ?D where { ?L1 ofOrder ?O . ?L2 ofOrder ?O ."
        " ?L1 ofPart ?P1 . ?L2 ofPart ?P2 . ?P1 size ?S1 . ?P2 size ?S2 ."
        " bind(?S1 - ?S2 as ?D) . filter (?D > 45) }",
        False,
    ),
    # CONCAT string BIND: the alias carries "custname@nationname" — a
    # DECODED STRING built from one left dict join per variable argument
    # (string_bind_aliases value space; Spark concat() ≡ DuckDB ||)
    "sparql_bind_concat": (
        'select ?C ?TAG where { ?C type Customer . ?C name ?NM .'
        ' ?C inNation ?N . ?N name ?NNM . bind(concat(?NM, "@", ?NNM) as ?TAG) }',
        False,
    ),
    # alternation-closure group (p1|p2)+: OneOrMorePath over the UNION
    # edge set — customer reaches its nation (1 hop) AND its region (2
    # hops, alternating predicates); NOT the union of per-pred closures
    "sparql_path_group": (
        "select ?C ?X where { ?C type Customer . ?C (inNation|inRegion)+ ?X }",
        False,
    ),
    # HAVING over a typed-value SUM: suppliers by total supplied part
    # size, keeping only the heavy ones (the count-HAVING twin is
    # sparql_having; this one filters on the numeric-value aggregate)
    "sparql_having_sum": (
        "select ?S (sum(?SZ) as ?tot) where { ?L suppliedBy ?S ."
        " ?L ofPart ?P . ?P size ?SZ } group by ?S having (sum(?SZ) > 15000)",
        False,
    ),
    # STRENDS suffix test on customer names (the contains/strstarts twin —
    # same decode-one-column join, suffix predicate)
    "sparql_filter_strends": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter strends(?NM, "7") }',
        False,
    ),
    # FILTER (?v IN (...)): constant-membership on encoded ids — the
    # expression-form twin of single-variable VALUES (§17.4.1.9)
    "sparql_filter_in": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?N in (<nation:1>, <nation:7>, <nation:19>)) }",
        False,
    ),
    # FILTER (?v NOT IN (...)): the negated membership form (§17.4.1.10) —
    # orders in neither listed status, i.e. the P stragglers
    "sparql_filter_not_in": (
        "select ?O ?ST where { ?O type Order . ?O status ?ST ."
        " filter (?ST not in (<F>, <O>)) }",
        False,
    ),
    # STRAFTER separator extraction (§17.4.3.5): the customer whose
    # zero-padded key follows the '#' — a point lookup through a string
    # function on the decoded lexical
    "sparql_filter_strafter": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (strafter(?NM, "#") = "000000013") }',
        False,
    ),
    # isNumeric type introspection (§17.4.2.4) composed under || — over
    # part:5's full predicate fan-out, keeps exactly the numeric-valued
    # size row plus the type row named by the equality arm (the id
    # scheme's numeric-literal window test; isIRI/isLiteral are NOT
    # offered — the dictionary has no IRI-vs-literal tag to introspect)
    "sparql_filter_isnumeric": (
        "select ?P2 ?V where { <part:5> ?P2 ?V ."
        " filter (isNumeric(?V) || ?V = <Part>) }",
        False,
    ),
    # STRBEFORE (§17.4.3.4): prefix up to the FIRST occurrence of the
    # separator — six zero digits before "13" selects exactly the
    # customers whose key reads 00000013d (first-occurrence semantics:
    # keys like 000001300 cut earlier and fail the equality)
    "sparql_filter_strbefore": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (strbefore(?NM, "13") = "Customer#000000") }',
        False,
    ),
    # ABS over two-variable typed arithmetic (§17.4.4.4): same-order
    # lineitem pairs whose part sizes differ by at least 45 — magnitude
    # form of the arith_vars filter
    "sparql_filter_abs": (
        "select ?L1 ?L2 ?S1 ?S2 where { ?L1 ofOrder ?O . ?L2 ofOrder ?O ."
        " ?L1 ofPart ?P1 . ?L2 ofPart ?P2 . ?P1 size ?S1 . ?P2 size ?S2 ."
        " filter (abs(?S1 - ?S2) >= 45) }",
        False,
    ),
    # ORDER BY DESC(?agg) function-call syntax (§18.2.5.1) over an
    # aggregate alias, secondary key ascending — top-5 nations by
    # customer count
    "sparql_order_desc": (
        "select ?N (count(?C) as ?cnt) where { ?C type Customer ."
        " ?C inNation ?N } group by ?N order by desc(?cnt) ?N limit 5",
        False,
    ),
    # SUM over an arithmetic BIND alias: the bound column already holds a
    # plain number, so the aggregate must SKIP the id→value wrap on both
    # engines (numeric_bind_aliases contract); deterministic under the
    # (?tot, ?P) total order
    "sparql_sum_bind": (
        "select ?P (sum(?D) as ?tot) where { ?L ofPart ?P . ?P size ?SZ ."
        " bind(?SZ * 3 as ?D) } group by ?P order by desc(?tot) ?P limit 10",
        False,
    ),
    # multi-variable VALUES with UNDEF (§10.2.2): the wildcard slot leaves
    # ?PR unconstrained for F-status rows, so the lowering must switch
    # from the struct row-IN to per-row conjunctions — every F order (any
    # priority) plus exactly the urgent O orders
    "sparql_values_undef": (
        "select ?O ?ST ?PR where { ?O type Order . ?O status ?ST ."
        " ?O priority ?PR . values (?ST ?PR) { (<F> UNDEF) (<O> <1-URGENT>) } }",
        False,
    ),
    # REPLACE regex rewrite (§17.4.3.15, global like Spark/SPARQL; the
    # oracle passes DuckDB's 'g' flag): collapsing the zero-run maps
    # exactly one customer name onto the probe literal
    "sparql_filter_replace": (
        'select ?C ?NM where { ?C type Customer . ?C name ?NM .'
        ' filter (replace(?NM, "0+", "0") = "Customer#013") }',
        False,
    ),
    # ||/&& FILTER connectives (§17.4.1.5/.6) over row-local operands:
    # the nation-membership disjunction (≡ the IN form, via OR)
    "sparql_filter_or": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (?N = <nation:1> || ?N = <nation:7>) }",
        False,
    ),
    # typed-value band disjunction (outlier idiom: small OR large parts) —
    # both operands run the shared numeric-value fragment; 3VL matches
    # SPARQL §17.2 (non-numeric → NULL → non-TRUE → dropped)
    "sparql_filter_or_arith": (
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter (?SZ < 10 || ?SZ > 40) }",
        False,
    ),
    # logical negation !(…) (§17.4.1.7 fn:not) over a membership test —
    # the fn:not twin of NOT IN; NOT over a NULL'd operand stays NULL on
    # both engines (≡ SPARQL !(error) = error, the row drops)
    "sparql_filter_not": (
        "select ?O ?ST where { ?O type Order . ?O status ?ST ."
        " filter (!(?ST in (<F>, <O>))) }",
        False,
    ),
    # recursive connective grammar, De Morgan form: NOT over a grouped
    # disjunction (!(A || B) ≡ the complement of sparql_filter_or's row
    # set over bound rows) — parts nest as boolop trees on both engines
    "sparql_filter_not_or": (
        "select ?C ?N where { ?C type Customer . ?C inNation ?N ."
        " filter (!(?N = <nation:1> || ?N = <nation:7>)) }",
        False,
    ),
    # mixed connectives with explicit grouping: a grouped typed-value
    # band disjunction under a conjunction — the form the flat grammar
    # rejected ("mixed || and && require explicit grouping") now lowers
    # to a nested boolop tree
    "sparql_filter_grouped_bool": (
        "select ?P ?SZ where { ?P type Part . ?P size ?SZ ."
        " filter ((?SZ < 10 || ?SZ > 40) && ?SZ != 25) }",
        False,
    ),
    # sameTerm (§17.4.1.8): syntactic term identity — over the bijective
    # dictionary encoding it IS id equality, so it lowers like `=`; the
    # negated form here is the common not-this-term idiom
    "sparql_sameterm": (
        "select ?L ?S ?C where { ?L suppliedBy ?S . ?L ofOrder ?O ."
        " ?O placedBy ?C . ?C inNation ?N1 . ?S inNation ?N2 ."
        " filter (sameTerm(?N1, ?N2)) }",
        False,
    ),
    # NESTED OPTIONAL (§18.2.2.6 LeftJoin(A, LeftJoin(B, …))): the
    # customer→order→lineitem chain where each level may be missing — the
    # inner group left-joins INSIDE the outer group before the outer
    # group joins the customers, so a customer with orders but no
    # lineitems keeps (C, O, NULL) and an order-less customer (C, NULL,
    # NULL)
    "sparql_nested_optional": (
        "select ?C ?O ?L where { ?C type Customer ."
        " optional { ?O placedBy ?C . optional { ?L ofOrder ?O } } }",
        False,
    ),
}

_ENGINES: dict[tuple[int, str], object] = {}


def _engine(spark: SparkSession, sf_dir: str):
    from dream_spark.engine import Engine

    key = (id(spark), sf_dir)
    if key not in _ENGINES:
        _ENGINES[key] = Engine.from_tpch(spark, sf_dir)
    return _ENGINES[key]


def warm_serving_artifacts(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Bring a session to the warm state the bench measures against: the
    engine (triples view + stats), a forked Arrow worker pool, then the
    pre-serving artifacts built concurrently.

    The six artifact families share no inputs, and Spark schedules jobs
    submitted from separate driver threads onto the same executor pool, so
    the wall cost is the slowest build, not the sum.  Returns the seconds
    each step took (artifact builds overlap, so those do not add up)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from dream_spark.operators.dedup import warm_minhash_index
    from dream_spark.operators.graph import warm_graph_artifacts
    from dream_spark.operators.similarity import warm_vector_indexes
    from dream_spark.operators.text import shared_hbow, warm_postings_index
    from dream_spark.streaming.events import warm_live_streams

    def timed(fn, *args) -> float:
        t0 = time.perf_counter()
        fn(*args)
        return round(time.perf_counter() - t0, 3)

    par = spark.sparkContext.defaultParallelism
    out = {
        "engine": timed(_engine, spark, sf_dir),
        # executors of a deployed engine hold warm reusable Python workers
        # (spark.python.worker.reuse): fork and import them once
        "arrow_workers": timed(
            lambda: spark.range(par * 4).repartition(par).mapInPandas(
                lambda it: it, schema="id long"
            ).count()
        ),
    }
    artifacts = {
        # quantized corpus, LSH buckets, IVF centroids, persisted serve index
        "vector_indexes": warm_vector_indexes,
        # entity edges + degrees, co-purchase adjacency
        "graph_artifacts": warm_graph_artifacts,
        # the hashed-BoW corpus frame text_knn/hybrid_search score against
        "hbow": shared_hbow,
        "postings_index": warm_postings_index,
        "live_streams": warm_live_streams,
        "minhash_index": warm_minhash_index,
    }
    with ThreadPoolExecutor(max_workers=len(artifacts)) as pool:
        futs = {name: pool.submit(timed, fn, spark, sf_dir) for name, fn in artifacts.items()}
        out.update({name: f.result() for name, f in futs.items()})
    return out


def _sparql_runner(text: str, decode: bool) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine(spark, sf_dir).sparql(text, decode=decode)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the 5-cycle SPARQL query (LUBM Q2 triangle analog) at
    sf0.001, decoded — exercises scan, join ordering, and dict decode."""
    text, _ = SPARQL_QUERIES["sparql_cycle5"]
    return _engine(spark, "/root/testdata/sf0.001").sparql(text, decode=False)


# The driver adjudicates the FIRST 50 queries() entries (insertion order).
# This list is exactly 50 names.  KEEP THE SUM AT 50 when rotating.
#
# ROTATION LEDGER (one cumulative line, per the r6 verdict's task 8):
#   Entering r7, 200 of the 215 entries have a driver-green CORRECTNESS
#   row (r1-r6 cumulative; CORRECTNESS_r06 = 50/50).  The 15 without one
#   are the 10-entry r7 queue below (added after the r6 cap froze; all 10
#   judge-verified green via check_entry at r6 close, VERDICT.md r6) plus
#   the five r7-new entries graph_components_forest, knn_ivf_pruned,
#   dedup_clusters_lsh, knn_ivf_refreshed and pipeline_sample_alloc
#   (each check_entry-green at sf0.01 when added).  All 15 hold r7
#   seats.  Any OTHER entry without a green row is a regression, not a
#   rotation artifact.
#
# R7-CLOSE ADDITIONS (each check_entry-green at sf0.01 when added and
#   re-verified at r7 close): knn_sq8 (SQ8 scalar-quantized ANN with
#   exact rerank), maintenance_zorder (Z-order layout + verified
#   data-skipping index), pipeline_surprisal (integer-exact unigram
#   surprisal quality score), sketch_heavyhitters (two-pass Misra-Gries),
#   sketch_hll_registers / sketch_hll_union / sketch_hll_hourly (the HLL
#   family; hourly is the batch twin of streaming/events.hll_stream),
#   text_bm25 + text_bm25_served (quantized BM25, inline + persisted
#   postings index), pipeline_sample_weighted (deterministic weighted
#   Bernoulli sample).  Total entries: 225 = 215 at the r7 mid-round
#   freeze + these ten.  ALL TEN HOLD r7 SEATS (seated before the
#   driver's r7 adjudication ran, below), so no r8 queue carries over —
#   entries without a green row after r7 are regressions, not rotation
#   artifacts.
#
# ROTATION LEDGER r8 (one cumulative line): entering r8, 225 of the 235
#   entries have a driver-green CORRECTNESS row (r1-r7 cumulative;
#   CORRECTNESS_r07 = 49 green + graph_components rows-only by design).
#   The 10 without one are the r8-new live/lookup entries
#   (text_bm25_lookup, streaming_sessionize_live, streaming_funnel_live,
#   streaming_hourly_live, streaming_kmv_live, streaming_hll_live,
#   streaming_attribution_live, streaming_enrich_live,
#   streaming_funnel_agg_live, streaming_sessionize_agg_live — each
#   check_entry-green at sf0.01 when added), all seated below.
#   Any OTHER entry without a green row after r8 is a regression.
#
# Round 8 rotation — the 50 seats:
#   * 10 seats: the r8-new entries — text_bm25_lookup (narrow-query BM25
#     serve, the SCALE.md §7 narrow-slope evidence), and the nine LIVE
#     entries (ACTUAL availableNow trigger runs read back from a parquet
#     sink, hash-checked by batch-twin SQL oracles — the trigger-mode
#     oracle loop VERDICT r7 task 2 asked for): the two stateful
#     applyInPandasWithState paths (sessionize, funnel), the stateless
#     watermark-window aggregation (hourly), the two bounded-state
#     sketch streams (kmv order-statistic, hll dense registers — these
#     also execute the 31-bit domain guard on real data every round),
#     the watermarked stream-stream interval join (attribution), the
#     stream-static enrichment join (enrich), funnel_agg — the
#     JVM-only windowed funnel the r8 stream probe motivated (the
#     stateful funnel's trigger run measured 8.2x at 10x data from its
#     per-key Python constant; the agg form is ~37x faster there,
#     SCALE.md §7) — and sessionize_agg, the Spark-native
#     session_window sessionizer (gap widened +1µs so the strict-< merge
#     equals this engine's <= semantics exactly).  Every streaming
#     operator shape in events.py now carries a driver-gated
#     trigger-mode row, and both heavy stateful operators have JVM-only
#     high-cardinality twins.
#   * 10 seats: entries whose code or shared layers changed in r8 —
#     text_bm25 + text_bm25_served (oracle body refactored into the
#     shared qterms-parameterized fragment; postings cache signature now
#     digests the tokenizer source), sketch_heavyhitters
#     (localCheckpoint → persist, r7 ADVICE), sketch_hll_hourly +
#     sketch_kmv_hourly (their stream twins gained the 31-bit hash-domain
#     guard), streaming_sessionize_batch + streaming_funnel_batch (their
#     oracle strings are now shared with the live entries),
#     knn_ivf_pruned + maintenance_compact + maintenance_zorder
#     (build_once_path gained the per-digest flock — representative
#     artifact-cache consumers).
#   * 37 breadth seats, strictly oldest-green-first: the full r1 cohort
#     (rel_q10_returns rel_q11_important rel_q13_outer rel_q14_promo
#     rel_q15_topsupp rel_q16_countd rel_q17_corr rel_q18_having
#     rel_q19_disjunct rel_q22_idle rel_q4_semi rel_q6_filter
#     rel_q7_nations rel_rollup rel_window_running), the full r2 cohort
#     (media_frames rel_except rel_pivot simhash_docs sparql_empty_join
#     sparql_filter_ne sparql_ground text_fingerprint), 5 of the r3
#     cohort (dedup_exact media_catalog media_decode_stats
#     pipeline_shards pipeline_split),
#     and — so every
#     family holds a seat (test_entry_contract.py) — the oldest-green
#     temporal_ and graph_ entries, temporal_range + graph_ppr (both
#     r4).  The REMAINING r3 cohort (rel_anti rel_events_hourly
#     rel_intersect rel_json_props
#     rel_q12_priority rel_q1_pricing rel_q3_top10 rel_q5_cycle
#     rel_sql_passthrough rel_window_top3 sketch_kmv_users
#     sparql_count_group
#     sparql_decode sparql_disconnected
#     sparql_distinct sparql_empty sparql_minus sparql_optional
#     sparql_path sparql_star
#     sparql_subquery sparql_topk sparql_union sparql_varpred
#     text_features text_langid) leads the r9 breadth queue
#     (rel_events_hourly's oracle stays seated via streaming_hourly_live,
#     which hash-checks the same SQL).
#
# Round 7 rotation — the 50 seats (superseded by r8 above):
#   * 10 seats: the r7 queue — sparql_filter_strbefore,
#     sparql_filter_isnumeric, rel_window_movavg, graph_components
#     (rows-only by design — operators/graph.py::graph_components),
#     media_pair_gate, sparql_nt_roundtrip, sparql_count_all,
#     sparql_order_multi, temporal_resample, hybrid_search.
#   * 8 seats: entries NEW or semantics-touched in r7 —
#     graph_components_forest (NEW: CC over the geography forest, the
#     cross-engine value-hash row for connected components),
#     knn_ivf_pruned (NEW: cell-partitioned inverted file served with
#     real partition pruning, SCALE.md §6.3 closed), temporal_concurrency
#     (closed-interval fix: point sessions now count — r6 ADVICE),
#     media_audio_chunks (audio_catalog n_samples switched to exact
#     integer div — r6 ADVICE), text_knn (now reads the session-shared
#     hashed-BoW frame), and sparql_path_opt / sparql_path_star /
#     sparql_path_ground (the oracle's path-CTE renderer gained the
#     alternation-with-? guard — r6 ADVICE).
#   * 8 seats: entries whose code changed in the r7 clustering/streaming
#     hardening — dedup_clusters + dedup_cluster_sizes (label-pruned
#     verification, rarest-first prefix order, pointer-doubled CC),
#     dedup_clusters_lsh (NEW: bucket-star LSH clustering, the linear
#     100-TB cluster path; check_entry-green at sf0.01 when added),
#     pipeline_canonicalize + pipeline_dup_rate (consume
#     duplicate_clusters), sketch_bloom (NULL-position guard),
#     knn_ivf_refreshed (NEW: IVF refresh-on-append maintenance;
#     check_entry-green at sf0.01 when added), plus
#     streaming_dedup_batch as extra breadth over the events layer.
#     NOTE the r7 streaming fixes themselves
#     (tz-domain state keys in sessionize_stream/funnel_stream, the
#     try/except index probes in the documents.py sinks) have no
#     oracle entries — the _batch entries are semantics TWINS, and the
#     stream-vs-twin equivalence is pinned by tests/test_streaming*.py,
#     which is where that coverage lives.
#   * 10 seats: the r7-close additions (the list above) + 1 seat for
#     sketch_kmv_hourly, whose ORACLE STRING was rebuilt at r7 close over
#     the shared window-bucket fragment (semantics identical; the seat
#     pins that).
#   * 12 breadth seats: long-stable entries with the oldest green rows,
#     spread across every family; re-greening them guards the shared
#     layers (store, stats, value encoding) the r7 edits sit on.  Eleven
#     former breadth seats (streaming_enrich_batch, temporal_asof,
#     dedup_exact_docs, simhash_docs, media_knn, pipeline_contamination,
#     pipeline_profile, pipeline_chunks, sketch_quantiles,
#     rel_q2_mincost, sparql_group_concat) rotated out to make room —
#     every one has a cumulative driver-green row from r1-r6 and its code
#     was untouched in r7.
# ROTATION LEDGER r9 (one cumulative line): entering r9, 234 of the 235
#   entries have a driver-green CORRECTNESS row (r1-r8 cumulative;
#   CORRECTNESS_r08 = 50/50 green); the sole exception remains
#   graph_components, the documented rows-only entry (its hash-matched
#   twin graph_components_forest is green).  No r9 queue carries over.
#   Any entry without a green row after r9 is a regression, not a
#   rotation artifact.
#
# Round 9 rotation — the 50 seats:
#   * 9 seats: the entries TOUCHED in r9 — all nine streaming_*_live
#     entries: their build-once cache signatures changed from a
#     whole-module source digest to per-stream dependency closures
#     (streaming/events.py::_stream_digest_parts, VERDICT r8 task 5 +
#     r8 ADVICE), and build_once_path gained the failed-build temp-dir
#     cleanup; semantics are unchanged but every live artifact rebuilds
#     under the new signatures, so the driver's hash rows re-adjudicate
#     real fresh trigger runs.
#   * 38 breadth seats, STRICTLY oldest-green-first by (latest green
#     round, name) over CORRECTNESS_r01-r08: the full r3-cohort
#     remainder (26 entries, green r3, named by the r8 ledger as leading
#     this queue) plus the 12 alphabetically-first r4-green entries.
#     (pipeline_profile / sketch_quantiles / sparql_group_concat and the
#     remaining r4 cohort land just past the cut and lead the r10
#     queue.)
#   * 3 family-coverage seats (every family inside the cap —
#     tests/test_entry_contract.py): the oldest-green temporal_ /
#     graph_ / knn_ entries — temporal_asof (r5), graph_pagerank (r5,
#     also the entry whose 100x slope the r9 probe measured), and
#     knn_lsh_served (r5).
# ROTATION LEDGER r10 (one cumulative line): entering r10, 234 of the 235
#   entries have a driver-green CORRECTNESS row (r1-r9 cumulative;
#   CORRECTNESS_r09 = 50/50 green); the sole exception remains
#   graph_components, the documented rows-only entry (hash-matched twin
#   graph_components_forest is green).  No correctness queue carries over;
#   oldest-green cohort is r4 (23 entries), then r5 (41).
#   r10 MID-ROUND CHANGE: graph_components GAINED A HASH ORACLE
#   (operators/graph.py::_components_sql — unrolled min-label +
#   pointer-jump rounds with a fixed-point guard; check_entry-green at
#   sf0.01 when added), ending its rows-only status.  It takes a seventh
#   touched seat below so the driver's r10 run adjudicates the repo's
#   FIRST full-hash row for it; sparql_bind_concat (r5-green, untouched)
#   rotates out of the tail to keep the sum at 50 and now leads the r11
#   breadth queue.  Second mid-round addition: dedup_minhash_served
#   (r10-NEW, entry 236 — incremental-ingest dedup against a PERSISTED
#   band index with probe-set PushedFilters pruning, the "served" twin
#   the BM25/IVF paths already had; check_entry-green at sf0.001 AND
#   sf0.01 when added, prune-equivalence A/B + plan pin in tests).  It
#   takes the seat of sparql_bind_coalesce (r5-green, untouched), which
#   joins sparql_bind_concat at the head of the r11 breadth queue.
#
# ROTATION LEDGER r11 (one cumulative line): entering r11, ALL 236
#   entries have a driver-green CORRECTNESS row (r1-r10 cumulative;
#   CORRECTNESS_r10 = 50/50).  No queue carries over — any entry without
#   a green row after r11 is a regression, not a rotation artifact.
#
# Round 11 rotation — the 50 seats:
#   * 9 seats: entries TOUCHED in r11 (their physical plans changed, so
#     the hash rows re-adjudicate the changed code) — graph_components
#     (CC rounds now fuse the convergence probe into the round's own
#     CollectMetrics observation), knn_ivf_refreshed (the index build
#     feeds both writes from one localCheckpoint), sparql_filter_samenation
#     (the stats-v3 exact group-bound broadcast gate's target query; the
#     gate touches every BGP plan — breadth below is 27 more SPARQL
#     forms), pipeline_tfidf (single-tokenize + AQE stage reuse),
#     text_features + pipeline_canonicalize + pipeline_curate (map-side
#     HOF token stats), dedup_minhash + dedup_cross_source (single
#     signature-kernel pass).
#   * 28 seats: the r5-cohort remainder, strictly oldest-green-first
#     (latest green row = r5): sparql_bind_coalesce onward alphabetically
#     plus text_topterms — exactly the queue the r10 ledger promised.
#   * 7 family-coverage seats (14-prefix contract,
#     tests/test_entry_contract.py), oldest-green-then-alphabetical per
#     family: temporal_gaps (r6), sketch_kmv_overlap (r6),
#     streaming_enrich_batch (r6), media_dedup (r7), maintenance_zorder
#     (r8), hybrid_search (r10), simhash_docs (r10).
#   * 6 seats: the alphabetically-first r6-cohort entries (latest green
#     row = r6).  The r6 remainder (graph_degree onward) leads the r12
#     breadth queue.
PRIORITY_ORDER = [
    # --- r11 touched: probe-fused CC, one-checkpoint IVF build,
    #     group-bound broadcast gate, HOF token stats, single-pass minhash ---
    "graph_components", "knn_ivf_refreshed", "sparql_filter_samenation",
    "pipeline_tfidf", "text_features", "pipeline_canonicalize",
    "pipeline_curate", "dedup_minhash", "dedup_cross_source",
    # --- breadth, oldest-green-first: the full r5-cohort remainder (28) ---
    "sparql_bind_coalesce", "sparql_bind_concat", "sparql_bind_if",
    "sparql_construct_optional", "sparql_describe", "sparql_describe_where",
    "sparql_filter_arith_mul", "sparql_filter_arith_vars",
    "sparql_filter_contains", "sparql_filter_range", "sparql_filter_strlen",
    "sparql_filter_strstarts", "sparql_filter_substr", "sparql_filter_ucase",
    "sparql_group_concat", "sparql_having_sum", "sparql_minmax",
    "sparql_neg_pred", "sparql_not_bound", "sparql_optional_filtered",
    "sparql_paged", "sparql_path_group", "sparql_sample",
    "sparql_seq_inverse", "sparql_subquery_topk", "sparql_values",
    "sparql_values_rows", "text_topterms",
    # --- family-coverage seats (oldest-green per missing family) ---
    "temporal_gaps", "sketch_kmv_overlap", "streaming_enrich_batch",
    "media_dedup", "maintenance_zorder", "hybrid_search", "simhash_docs",
    # --- the 6 alphabetically-first r6-cohort entries ---
    "dedup_embedding", "dedup_simhash", "dedup_spans",
    "rel_grouping_sets", "rel_median", "rel_window_ntile",
]
# Round 10 rotation — the 50 seats (superseded by r11 above):
#   graph_components dedup_minhash_served graph_pagerank graph_ppr
#   graph_components_forest dedup_clusters_lsh streaming_sessionize_live
#   streaming_kmv_live | full r4 cohort (23): rel_q8_share rel_q9_profit
#   sketch_kmv_by_type sketch_quantiles sparql_ask_pos sparql_construct
#   sparql_count_decode sparql_count_distinct sparql_count_optional
#   sparql_exists sparql_filter_arith sparql_filter_regex
#   sparql_filter_samenation sparql_having sparql_inverse
#   sparql_minus_shared sparql_not_exists sparql_optional_decode
#   sparql_optional_ground sparql_path_plus sparql_sum_group
#   sparql_union_hetero text_redact | family seats: temporal_active
#   knn_filtered media_audio_chunks hybrid_search maintenance_compact
#   simhash_docs | 13 alphabetically-first r5: pipeline_bigrams
#   pipeline_boilerplate pipeline_familiarity pipeline_profile
#   pipeline_sample rel_window_delta sketch_quantiles_sampled
#   sparql_alt_pred sparql_ask_neg sparql_avg_size sparql_bind
#   sparql_bind_arith sparql_bind_arith_vars
# Round 9 rotation — the 50 seats (superseded by r10 above):
#   streaming_sessionize_live streaming_funnel_live streaming_hourly_live
#   streaming_kmv_live streaming_hll_live streaming_attribution_live
#   streaming_enrich_live streaming_funnel_agg_live
#   streaming_sessionize_agg_live | r3-cohort remainder (26): rel_anti
#   rel_events_hourly rel_intersect rel_json_props rel_q12_priority
#   rel_q1_pricing rel_q3_top10 rel_q5_cycle rel_sql_passthrough
#   rel_window_top3 sketch_kmv_users sparql_count_group sparql_decode
#   sparql_disconnected sparql_distinct sparql_empty sparql_minus
#   sparql_optional sparql_path sparql_star sparql_subquery sparql_topk
#   sparql_union sparql_varpred text_features text_langid | 12
#   alphabetically-first r4-green: dedup_exact_docs media_knn
#   pipeline_chunks pipeline_contamination pipeline_mixture pipeline_oov
#   pipeline_repetition pipeline_vocab rel_events_rollup rel_q20_bulk
#   rel_q21_waiting rel_q2_mincost | family seats: temporal_asof
#   graph_pagerank knn_lsh_served


def _ordered(full: dict) -> dict:
    out = {}
    for name in PRIORITY_ORDER:
        if name in full:
            out[name] = full[name]
    for name, v in full.items():
        if name not in out:
            out[name] = v
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dream_spark.operators import (
        dedup, graph, multimodal, pipeline, relational, similarity, sketch, temporal, text,
    )
    from dream_spark.streaming import events as streaming_events

    from dream_spark.sources import ntriples, sinks

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (qtext, decode) in SPARQL_QUERIES.items():
        out[name] = _sparql_runner(qtext, decode)
    for mod in (relational, temporal, text, dedup, similarity, multimodal, streaming_events, pipeline, sketch, graph, sinks, ntriples):
        out.update(mod.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    from dream_spark.operators import (
        dedup, graph, multimodal, pipeline, relational, similarity, sketch, temporal, text,
    )
    from dream_spark.plans.oracle import bgp_to_sql
    from dream_spark.plans.sparql import parse_sparql
    from dream_spark.streaming import events as streaming_events

    from dream_spark.sources import ntriples, sinks

    out: dict[str, str] = {}
    for name, (qtext, decode) in SPARQL_QUERIES.items():
        out[name] = bgp_to_sql(parse_sparql(qtext), decode=decode)
    for mod in (relational, temporal, text, dedup, similarity, multimodal, streaming_events, pipeline, sketch, graph, sinks, ntriples):
        out.update(mod.ORACLES)
    return _ordered(out)
