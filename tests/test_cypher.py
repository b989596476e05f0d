"""Cypher-subset front end tests — clause inventory of
docs/interactive_engine/neo4j/supported_cypher.md vs python oracles."""

from __future__ import annotations

import pytest

from graphscope_spark.cypher import CypherSession
from graphscope_spark.graph import Graph

EDGES = [(1, 2), (2, 3), (1, 3), (3, 4)]


@pytest.fixture(scope="module")
def cs(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    g = Graph(e, directed=True, num_partitions=4)
    props = spark.createDataFrame(
        [(i, i % 2, f"n{i}") for i in range(1, 5)],
        "id long, grp long, name string",
    )
    return CypherSession(g, vertex_props=props)


def test_match_triangle(cs):
    df = cs.run("MATCH (a)-[]->(b)-[]->(c), (a)-[]->(c) RETURN a, b, c")
    assert [tuple(r) for r in df.collect()] == [(1, 2, 3)]


def test_count_and_where_id(cs):
    n = cs.run("MATCH (a)-[]->(b) RETURN count(*) AS n").first()["n"]
    assert n == len(EDGES)
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE id(a) = 1 RETURN b ORDER BY b"
    ).collect()
    assert [r["b"] for r in rows] == [2, 3]


def test_not_exists_anti_join(cs):
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE NOT EXISTS ((b)-[]->()) RETURN DISTINCT b"
    ).collect()
    assert [r["b"] for r in rows] == [4]


def test_optional_match_left_join(cs):
    rows = cs.run(
        "MATCH (a)-[]->(b) OPTIONAL MATCH (b)-[]->(c) "
        "RETURN a, b, c ORDER BY a, b, c"
    ).collect()
    got = [(r["a"], r["b"], r["c"]) for r in rows]
    # b=4 has no out-neighbor -> c is NULL (left outer join semantics)
    assert (3, 4, None) in got
    assert (1, 2, 3) in got and (2, 3, 4) in got


def test_variable_length_pattern(cs):
    rows = cs.run(
        "MATCH (a)-[*1..2]->(b) WHERE id(a) = 1 RETURN DISTINCT b ORDER BY b"
    ).collect()
    assert [r["b"] for r in rows] == [2, 3, 4]


def test_properties_and_aggregates(cs):
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE a.grp = 1 RETURN a.name AS nm, count(*) AS c "
        "ORDER BY nm"
    ).collect()
    # grp=1 -> odd sources: 1 (two edges) and 3 (one edge)
    assert [(r["nm"], r["c"]) for r in rows] == [("n1", 2), ("n3", 1)]
    s = cs.run(
        "MATCH (a)-[]->(b) RETURN sum(b.grp) AS s"
    ).first()["s"]
    assert s == sum(d % 2 for _, d in EDGES)


def test_undirected_and_incoming(cs):
    rows = cs.run(
        "MATCH (a)<-[]-(b) WHERE id(a) = 3 RETURN b ORDER BY b"
    ).collect()
    assert [r["b"] for r in rows] == [1, 2]
    rows = cs.run(
        "MATCH (a)-[]-(b) WHERE id(a) = 3 RETURN DISTINCT b ORDER BY b"
    ).collect()
    assert [r["b"] for r in rows] == [1, 2, 4]


def test_limit(cs):
    rows = cs.run("MATCH (a)-[]->(b) RETURN a, b ORDER BY a, b LIMIT 2").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, 2), (1, 3)]


def test_parse_errors():
    from graphscope_spark.cypher import _parse
    with pytest.raises(ValueError):
        _parse("RETURN 1")                     # no MATCH
    with pytest.raises(ValueError):
        _parse("MATCH (a)-[]->(b)")            # no RETURN
    with pytest.raises(ValueError):
        _parse("MATCH (a)-->(b) RETURN a")     # unsupported arrow spelling
    q = _parse("MATCH (a)-[]->(b) RETURN a, count(*) AS n "
               "ORDER BY n DESC LIMIT 3")
    assert q.limit == 3 and q.order == [("n", True)]
    assert q.items == [("a", "a"), ("count(*)", "n")]


def test_anonymous_nodes_and_var_length_parse():
    from graphscope_spark.cypher import _parse
    q = _parse("MATCH (a)-[]->()-[]->(b) RETURN a, b")
    assert len(q.rels) == 2
    assert q.rels[0].b == q.rels[1].a  # the anon var links the hops
    q2 = _parse("MATCH (a)-[*2..4]->(b) RETURN b")
    assert q2.rels[0].lo == 2 and q2.rels[0].hi == 4


def test_with_projection_and_having(cs):
    # WITH = project/aggregate/distinct (supported_cypher.md:145); a WHERE
    # after it filters the aggregated columns (SQL HAVING).
    rows = cs.run(
        "MATCH (a)-[]->(b) WITH a, count(b) AS deg WHERE deg > 1 "
        "RETURN a, deg ORDER BY a"
    ).collect()
    # out-degrees: 1 -> 2 (edges to 2,3), 2 -> 1, 3 -> 1
    assert [(r["a"], r["deg"]) for r in rows] == [(1, 2)]


def test_with_two_level_aggregation(cs):
    # degree histogram: WITH aggregates per vertex, RETURN re-aggregates.
    rows = cs.run(
        "MATCH (a)-[]->(b) WITH a, count(b) AS deg "
        "RETURN deg, count(a) AS n ORDER BY deg"
    ).collect()
    assert [(r["deg"], r["n"]) for r in rows] == [(1, 2), (2, 1)]


def test_with_distinct_carries_columns(cs):
    # DISTINCT projection through WITH; downstream WHERE + RETURN see only
    # the WITH aliases.
    rows = cs.run(
        "MATCH (a)-[]->(b) WITH DISTINCT a AS v WHERE v > 1 "
        "RETURN v ORDER BY v"
    ).collect()
    assert [r["v"] for r in rows] == [2, 3]


def test_with_parse():
    from graphscope_spark.cypher import _parse
    q = _parse("MATCH (a)-[]->(b) WITH a, count(*) AS c WHERE c > 2 "
               "RETURN a ORDER BY a")
    assert q.withs == [(False, [("a", "a"), ("count(*)", "c")], ["c > 2"])]
    q2 = _parse("MATCH (a)-[]->(b) WHERE a > 1 WITH DISTINCT b RETURN b")
    assert q2.conds == ["a > 1"]
    assert q2.withs == [(True, [("b", "b")], [])]
    # chained WITH clauses parse in order
    q3 = _parse("MATCH (a)-[]->(b) WITH a, count(b) AS deg "
                "WITH deg, count(a) AS n WHERE n > 1 RETURN deg, n")
    assert len(q3.withs) == 2
    assert q3.withs[0] == (False, [("a", "a"), ("count(b)", "deg")], [])
    assert q3.withs[1] == (False, [("deg", "deg"), ("count(a)", "n")],
                           ["n > 1"])


def test_string_operators(cs):
    # STARTS WITH / ENDS WITH / CONTAINS (supported_cypher.md:92-94) —
    # note STARTS WITH's trailing WITH must not open a WITH clause.
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE a.name STARTS WITH 'n1' "
        "RETURN DISTINCT b ORDER BY b"
    ).collect()
    assert [r["b"] for r in rows] == [2, 3]
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE b.name ENDS WITH '4' RETURN a"
    ).collect()
    assert [r["a"] for r in rows] == [3]
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE a.name CONTAINS '3' "
        "WITH b, count(a) AS c RETURN b, c ORDER BY b"
    ).collect()
    assert [(r["b"], r["c"]) for r in rows] == [(4, 1)]


def test_shortest_path_anchored(spark):
    from graphscope_spark.cypher import CypherSession
    # diamond 0->1->3, 0->2->3 plus a longer detour 0->4->5->3
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (4, 5), (5, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph(e, directed=True, num_partitions=2)
    cs = CypherSession(g)
    out = cs.run(
        "MATCH p = shortestPath((a)-[*]->(b)) WHERE a = 0 AND b = 3 "
        "RETURN p AS path, length(p) AS hops ORDER BY path"
    ).collect()
    assert [r["path"] for r in out] == ["0->1->3", "0->2->3"]
    assert all(r["hops"] == 2 for r in out)
    # undirected arrows traverse the reverse graph too
    out2 = cs.run(
        "MATCH p = shortestPath((a)-[*]-(b)) WHERE a = 3 AND b = 0 "
        "RETURN length(p) AS hops LIMIT 1"
    ).collect()
    assert out2[0]["hops"] == 2
    # unreachable → empty
    g2 = Graph(spark.createDataFrame([(7, 8)], "src long, dst long"),
               spark.createDataFrame([(7,), (8,), (9,)], "id long"),
               directed=True, num_partitions=2)
    cs2 = CypherSession(g2)
    assert cs2.run(
        "MATCH p = shortestPath((a)-[*]->(b)) WHERE a = 7 AND b = 9 "
        "RETURN p AS path"
    ).count() == 0


def test_multi_match_chain(cs):
    # MATCH chains join pattern trees on shared variables — identical
    # bindings to the comma form of the same conjunction
    chained = cs.run(
        "MATCH (a)-[]->(b) MATCH (b)-[]->(c) RETURN a, b, c"
    ).collect()
    comma = cs.run(
        "MATCH (a)-[]->(b), (b)-[]->(c) RETURN a, b, c"
    ).collect()
    assert sorted(map(tuple, chained)) == sorted(map(tuple, comma))
    assert sorted(map(tuple, chained)) == [(1, 2, 3), (1, 3, 4), (2, 3, 4)]


def test_multi_match_disjoint_then_bound(cs):
    # second MATCH shares no var with the first until the third binds both
    rows = cs.run(
        "MATCH (a)-[]->(b) MATCH (c)-[]->(d) "
        "WHERE b = c AND a = 1 RETURN a, b, d"
    ).collect()
    assert sorted(map(tuple, rows)) == [(1, 2, 3), (1, 3, 4)]


def test_multi_match_with_aggregate(cs):
    rows = cs.run(
        "MATCH (a)-[]->(b) MATCH (b)-[]->(c) "
        "RETURN b AS mid, count(c) AS n2 ORDER BY mid"
    ).collect()
    assert [tuple(r) for r in rows] == [(2, 1), (3, 2)]


def test_case_when_in_return(cs):
    # searched CASE → when/otherwise chain, grouped under the CASE column
    rows = cs.run(
        "MATCH (a)-[]->(b) WITH a, count(b) AS deg "
        "RETURN CASE WHEN deg >= 2 THEN 'multi' ELSE 'single' END AS cls, "
        "count(a) AS n ORDER BY cls"
    ).collect()
    # node 1 → {2, 3} (deg 2), nodes 2 and 3 → deg 1
    assert [tuple(r) for r in rows] == [("multi", 1), ("single", 2)]


def test_case_when_multiple_arms_and_props(cs):
    # arms evaluate in order; property access inside a condition joins
    # the props table; no ELSE → NULL for unmatched rows
    rows = cs.run(
        "MATCH (a)-[]->(b) RETURN a, "
        "CASE WHEN a.grp = 1 THEN 'odd' WHEN b = 3 THEN 'to3' END AS tag"
    ).collect()
    got = sorted((r["a"], r["tag"]) for r in rows)
    assert got == [(1, "odd"), (1, "odd"), (2, "to3"), (3, "odd")]


def test_case_keywords_inside_string_literals(cs):
    # 'when'/'end'/'else' inside quoted literals must not derail the
    # CASE tokenizer (literals are masked before the keyword split)
    rows = cs.run(
        "MATCH (a)-[]->(b) WITH a, count(b) AS deg "
        "RETURN CASE WHEN deg >= 2 THEN 'use when needed' "
        "ELSE 'the end' END AS cls, count(a) AS n ORDER BY cls"
    ).collect()
    assert [tuple(r) for r in rows] == [("the end", 2),
                                        ("use when needed", 1)]


@pytest.fixture(scope="module")
def cs_price(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (1, 3), (4, 1)],
                              "src long, dst long")
    g = Graph(e, directed=True, num_partitions=2)
    props = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 5)], "id long, price long")
    return CypherSession(g, vertex_props=props)


def test_return_arithmetic(cs_price):
    cs = cs_price
    rows = cs.run(
        "MATCH (a)-[]->(b) RETURN a, a.price * 2 + 1 AS x ORDER BY a, x"
    ).collect()
    assert all(r["x"] == r["a"] * 20 + 1 for r in rows)
    rows = cs.run(
        "MATCH (a)-[]->(b) WHERE a.price + 10 > 20 "
        "RETURN a, (a.price - b.price) / 10 AS d ORDER BY a, d"
    ).collect()
    assert rows and all(r["a"] * 10 + 10 > 20 for r in rows)
    # CASE composes as an arithmetic operand
    rows = cs.run(
        "MATCH (a)-[]->(b) RETURN a, CASE WHEN a.price > 20 "
        "THEN a.price * 2 ELSE 0 END + 5 AS y ORDER BY a, y"
    ).collect()
    assert all(
        r["y"] == (r["a"] * 20 + 5 if r["a"] * 10 > 20 else 5) for r in rows)
    rows = cs.run(
        "MATCH (a)-[]->(b) RETURN a, a.price % 3 AS m ORDER BY a, m"
    ).collect()
    assert all(r["m"] == (r["a"] * 10) % 3 for r in rows)


def test_case_matches_only_a_whole_word(spark):
    # `showcase` ends in `case`: the operator scan must not take it for a
    # CASE block and lose the `+`
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    props = spark.createDataFrame(
        [(i, i * 10, i) for i in range(1, 4)], "id long, showcase long, end long")
    cs = CypherSession(Graph(e, directed=True, num_partitions=2),
                       vertex_props=props)
    rows = cs.run(
        "MATCH (a)-[]->(b) RETURN a, a.showcase + b.end AS x ORDER BY a"
    ).collect()
    assert [(r["a"], r["x"]) for r in rows] == [(1, 12), (2, 23)]


def test_unbalanced_case_raises(cs_price):
    with pytest.raises(ValueError, match="unbalanced CASE"):
        cs_price.run("MATCH (a)-[]->(b) RETURN a, "
                     "CASE WHEN a.price > 20 THEN 1 ELSE 0 + 5 AS y")


def test_multi_with_chain(cs):
    # degree -> histogram in two WITH hops, then RETURN
    rows = cs.run(
        "MATCH (a)-[]->(b) WITH a, count(b) AS deg "
        "WITH deg, count(a) AS n RETURN deg, n ORDER BY deg"
    ).collect()
    # EDGES = [(1,2),(2,3),(1,3),(3,4)]: out-degrees 1->2, 2->1, 3->1
    assert [(r["deg"], r["n"]) for r in rows] == [(1, 2), (2, 1)]
