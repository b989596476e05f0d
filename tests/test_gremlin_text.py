"""Gremlin text front end (gremlin_text.py): parsed strings must lower to
exactly what the Python DSL produces, and the grammar must fail loudly on
what it does not support."""

import pytest
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark import gremlin
from graphscope_spark.gremlin_text import eval_gremlin


@pytest.fixture(scope="module")
def g(spark):
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 1), (2, 5)],
        "src long, dst long",
    )
    return Graph(e, directed=True, num_partitions=2)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_khop_text_equals_dsl(g):
    txt = eval_gremlin(
        "g.V().filter(__.id().math('_ % 2').is(0)).as('a')"
        ".out().out().select('a').groupCount()", g)
    dsl = (gremlin.traversal(g).V().where(lambda c: c % 2 == 0)
           .as_("a").out().out().group_count(by_tag="a"))
    assert _rows(txt) == _rows(dsl.select("a", "count"))


def test_sources_and_expand(g):
    assert _rows(eval_gremlin("g.V(1, 2).out().id().to_df()", g).select(
        "val")) == _rows(
        gremlin.traversal(g).V(1, 2).out().id_().to_df().select("val"))
    assert eval_gremlin("g.E().count()", g).first()[0] == 7
    assert eval_gremlin("g.V().both().count()", g).first()[0] == 14


def test_predicates_and_has(g, spark):
    props = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)], "id long, p int")
    got = eval_gremlin(
        "g.V().has('p', P.gte(30)).values('p').sum()", g,
        vertex_props=props)
    assert got.first()[0] == 120
    got2 = eval_gremlin(
        "g.V().has('p', within(10, 50)).count()", g, vertex_props=props)
    assert got2.first()[0] == 2


def test_not_and_where_tag(g):
    # 4->1 and nothing else into 4... vertices with no out-edges: none
    assert eval_gremlin("g.V().not(__.out()).count()", g).first()[0] == 0
    # where(eq('a')) compares head to TAG, not the literal string
    back = eval_gremlin("g.V().as('a').out().out().where(eq('a')).count()",
                        g)
    dsl = (gremlin.traversal(g).V().as_("a").out().out()
           .where_tag("eq", "a").count())
    assert back.first()[0] == dsl.first()[0]


def test_repeat_times_and_simple(g):
    t3 = eval_gremlin("g.V(1).repeat(__.out()).times(3)", g)
    d3 = gremlin.traversal(g).V(1).repeat_times(3)
    assert _rows(t3.to_df().select("v")) == _rows(d3.to_df().select("v"))
    ts = eval_gremlin("g.V(1).repeat(__.out().simplePath()).times(3)", g)
    ds = gremlin.traversal(g).V(1).repeat_times(3, simple=True)
    assert _rows(ts.to_df().select("v")) == _rows(ds.to_df().select("v"))


def test_order_limit_dedup(g):
    df = eval_gremlin("g.V().out().dedup().order().limit(3).to_df()", g)
    assert [r["v"] for r in df.collect()] == [1, 2, 3]


def test_terminal_select(g):
    df = eval_gremlin("g.V().as('a').out().as('b').select('a', 'b')", g)
    assert set(df.columns) == {"a", "b"}
    assert df.count() == 7


def test_math_grammar(g):
    df = eval_gremlin("g.V(4).id().math('(_ + 2) * 3 - 1').to_df()", g)
    assert df.first()["val"] == 17
    with pytest.raises(ValueError, match="math"):
        eval_gremlin("g.V().id().math('import os').to_df()", g)


def test_parse_errors(g):
    with pytest.raises(ValueError, match="unsupported gremlin step"):
        eval_gremlin("g.V().explode()", g)
    with pytest.raises(ValueError, match="expected g"):
        eval_gremlin("h.V()", g)
    with pytest.raises(ValueError, match="repeat"):
        eval_gremlin("g.V().repeat(__.out())", g)
    with pytest.raises(ValueError, match="terminal"):
        eval_gremlin("g.V().count().out()", g)


def test_edge_source_rejects_ids(g):
    # g.E(ids) used to drop its arguments and return every edge
    with pytest.raises(ValueError, match=r"g\.E\(<ids>\)"):
        eval_gremlin("g.E(1).count()", g)
    assert eval_gremlin("g.E().count()", g).first()[0] == 7
