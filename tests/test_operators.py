"""GIE operator-surface tests: traversal operators vs python oracles on the
fixture graph; relational wrappers sanity (semantics delegated to Spark)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.operators import (
    dedup, edge_expand, expand_intersect, get_v, group_by, join, limit,
    order_by, path_expand, project, sample, select, unfold, union,
)
from tests.oracles import make_test_graph


@pytest.fixture(scope="module")
def graph_data():
    return make_test_graph()


@pytest.fixture(scope="module")
def g(spark, graph_data):
    vertices, edges = graph_data
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(e, v, directed=True, num_partitions=8)


@pytest.fixture(scope="module")
def adj(graph_data):
    _, edges = graph_data
    out = defaultdict(set)
    inn = defaultdict(set)
    for s, d in edges:
        out[s].add(d)
        inn[d].add(s)
    return out, inn


def _starts(spark, ids):
    return spark.createDataFrame([(x,) for x in ids], "v long")


def test_edge_expand_out_in_both(spark, g, adj):
    out, inn = adj
    starts = [7, 10, 13]
    frame = _starts(spark, starts)
    got_out = sorted((r["v"]) for r in edge_expand(frame, g, "out").collect())
    want_out = sorted(v for s in starts for v in out[s])
    assert got_out == want_out
    got_in = sorted(r["v"] for r in edge_expand(frame, g, "in").collect())
    want_in = sorted(v for s in starts for v in inn[s])
    assert got_in == want_in
    got_both = sorted(r["v"] for r in edge_expand(frame, g, "both").collect())
    want_both = sorted(
        [v for s in starts for v in out[s]] + [v for s in starts for v in inn[s]]
    )
    assert got_both == want_both


def test_get_v(spark, g, graph_data):
    _, edges = graph_data
    frame = _starts(spark, [7]).alias("f")
    edge_frame = edge_expand(frame, g, "out", expand_e=True)
    ends = sorted(r["v"] for r in get_v(edge_frame.drop("v"), "end").collect())
    assert ends == sorted(d for s, d in edges if s == 7)


def test_path_expand_arbitrary_vs_oracle(spark, g, adj):
    out, _ = adj
    res = path_expand(_starts(spark, [7]), g, min_hops=1, max_hops=2)
    got = sorted((r["v"], r["hops"]) for r in res.collect())
    want = []
    for v1 in out[7]:
        want.append((v1, 1))
        for v2 in out[v1]:
            want.append((v2, 2))
    assert got == sorted(want)


def test_path_expand_simple_excludes_revisits(spark, g, adj):
    out, _ = adj
    res = path_expand(_starts(spark, [7]), g, 1, 3, path_opt="simple",
                      result_opt="all_v")
    rows = res.collect()
    for r in rows:
        assert len(r["path"]) == len(set(r["path"]))  # no vertex revisited
    # oracle count at hop ≤ 3
    want = 0
    stack = [(7, (7,))]
    while stack:
        v, path = stack.pop()
        if len(path) - 1 >= 1:
            want += 1
        if len(path) - 1 == 3:
            continue
        for n in out[v]:
            if n not in path:
                stack.append((n, path + (n,)))
    assert len(rows) == want


def test_path_expand_trail_directed_vs_oracle(spark, g, adj):
    """TRAIL = no repeated edge; directed expansion keys edges (src, dst)."""
    out, _ = adj
    res = path_expand(_starts(spark, [7]), g, 1, 3, path_opt="trail")
    got = sorted((r["v"], r["hops"]) for r in res.collect())
    want = []
    stack = [(7, frozenset())]
    # enumerate (end, hops) per edge-distinct path
    frontier = [(7, frozenset(), 0)]
    while frontier:
        v, used, h = frontier.pop()
        if 1 <= h:
            want.append((v, h))
        if h == 3:
            continue
        for n in out[v]:
            if (v, n) not in used:
                frontier.append((n, used | {(v, n)}, h + 1))
    assert got == sorted(want)


def test_path_expand_trail_both_stored_edge_identity(spark, g, graph_data):
    """With direction='both', edge identity is the STORED edge (Cypher
    relationship uniqueness): the same stored edge may not repeat even in
    the opposite direction (hop-2 bounce-back over it is excluded), but
    reciprocal stored edges (u,v) and (v,u) are two distinct trail edges
    — and each stored edge contributes its own row multiplicity."""
    _, edges = graph_data
    moves = defaultdict(list)  # v -> [(neighbor, stored-edge key)]
    for s, d in edges:
        moves[s].append((d, (s, d)))
        moves[d].append((s, (s, d)))
    res = path_expand(_starts(spark, [7]), g, 1, 2,
                      direction="both", path_opt="trail")
    got = sorted((r["v"], r["hops"]) for r in res.collect())
    want = []
    for v1, ek1 in moves[7]:
        want.append((v1, 1))
        for v2, ek2 in moves[v1]:
            if ek2 != ek1:
                want.append((v2, 2))
    assert got == sorted(want)


def test_path_expand_trail_allows_vertex_revisit(spark):
    """A trail may revisit a vertex (unlike SIMPLE) as long as every edge
    is fresh: in the directed 2-cycle-with-chord 0→1→0, 1→2, the walk
    0→1→0 is a valid trail but not a simple path."""
    e = spark.createDataFrame([(0, 1), (1, 0), (1, 2)], "src long, dst long")
    gg = Graph(e, directed=True, num_partitions=4)
    starts = spark.createDataFrame([(0,)], "v long")
    trail = sorted(
        (r["v"], r["hops"])
        for r in path_expand(starts, gg, 1, 3, path_opt="trail").collect()
    )
    # 0→1 (h1); 0→1→0 and 0→1→2 (h2); 0→1→0 cannot reuse 0→1 at h3
    assert trail == [(0, 2), (1, 1), (2, 2)]
    simple = sorted(
        (r["v"], r["hops"])
        for r in path_expand(starts, gg, 1, 3, path_opt="simple").collect()
    )
    assert simple == [(1, 1), (2, 2)]


def test_expand_intersect_closes_triangles(spark, g, graph_data):
    """Common out-neighbors of the K5 pair — pattern-match primitive."""
    _, edges = graph_data
    k5 = [3 * i + 7 for i in range(10, 15)]
    a, b = k5[0], k5[1]
    frame = spark.createDataFrame([(a, b)], "x long, y long")
    res = expand_intersect(frame, g, ["x", "y"], direction="both")
    got = sorted(set(r["v"] for r in res.collect()))
    out = defaultdict(set)
    for s, d in edges:
        out[s].add(d)
        out[d].add(s)
    assert got == sorted(out[a] & out[b])
    assert set(k5[2:]) <= set(got)


def test_relational_wrappers(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30), (3, "a", 30)],
        "id long, k string, x long",
    )
    assert select(df, F.col("x") > 15).count() == 3
    assert project(df, "id").columns == ["id"]
    assert dedup(df).count() == 3
    assert limit(df, 2).count() == 2
    agg = {r["k"]: r["s"] for r in
           group_by(df, ["k"], [F.sum("x").alias("s")]).collect()}
    assert agg == {"a": 70, "b": 20}
    top = order_by(df, [F.col("x").desc()], limit_n=1).collect()
    assert top[0]["x"] == 30
    other = spark.createDataFrame([(1, "z")], "id long, v string")
    assert join(df, other, "id", "semi").count() == 1
    assert join(df, other, "id", "anti").count() == 3
    assert union(df.select("id"), other.select("id")).count() == 5
    arr = spark.createDataFrame([(1, [1, 2, 3])], "id long, xs array<long>")
    assert unfold(arr, "xs").count() == 3
    assert sample(df, 0.5, seed=1).count() <= 4


def test_salted_join_parity_and_hub_isolation(spark, g, graph_data):
    from graphscope_spark.operators.skew import (
        salted_join, skew_isolated_join, top_degree_keys,
    )

    _, edges = graph_data
    e = g.edges.select("src", "dst")
    msgs = g.vertices.select(F.col("id").alias("src"), (F.col("id") % 97).alias("m"))
    plain = e.join(msgs, "src")
    want = sorted(map(tuple, plain.collect()))
    salted = salted_join(e, msgs, "src", n_salts=8)
    assert sorted(map(tuple, salted.collect())) == want
    hubs = top_degree_keys(e, "src", top_n=4)
    hub_rows = hubs.collect()
    assert len(hub_rows) == 4 and hub_rows[0]["deg"] >= hub_rows[-1]["deg"]
    isolated = skew_isolated_join(e, msgs, "src", hubs)
    assert sorted(map(tuple, isolated.collect())) == want


def test_hub_salted_edges_parity(spark, g):
    """HubSaltedEdges.message_join ≡ plain edges⋈msgs row-for-row, and the
    salted table's hub rows actually spread across salts."""
    from graphscope_spark.operators.skew import HubSaltedEdges

    e = g.edges.select("src", "dst")
    msgs = g.vertices.select(
        F.col("id").alias("src"), (F.col("id") % 97).alias("m"))
    want = sorted(map(tuple, e.join(msgs, "src").collect()))
    hse = HubSaltedEdges(e, key="src", n_salts=4, top_n=4, num_partitions=8)
    got = sorted(map(tuple, hse.message_join(msgs).collect()))
    assert got == want
    # the heaviest hub's rows occupy >1 salt (it has >1 distinct dst here)
    top = hse.hub_marks.collect()[0]["src"]
    n_salts_used = (
        hse.edges.filter(F.col("src") == top).select("_salt").distinct().count()
    )
    assert n_salts_used > 1
    hse.unpersist()


def test_hub_salted_algorithms_parity(spark):
    """pagerank/wcc with hub_salts on a star-skewed graph: wcc bit-equal,
    pagerank allclose to the plain run."""
    import math
    from graphscope_spark.algorithms import pagerank, wcc

    # hub 0 → all of 1..40, plus a tail chain 41→42→...→50
    rows = [(0, i) for i in range(1, 41)] + [(i, i + 1) for i in range(41, 50)]
    gg = Graph(spark.createDataFrame(rows, "src long, dst long"),
               directed=True, num_partitions=8)
    plain_pr = {r["id"]: r["rank"]
                for r in pagerank(gg, max_iter=5, engine="join").state.collect()}
    salt_pr = {r["id"]: r["rank"]
               for r in pagerank(gg, max_iter=5, hub_salts=4,
                                 hub_top_n=2).state.collect()}
    assert plain_pr.keys() == salt_pr.keys()
    for k in plain_pr:
        assert math.isclose(plain_pr[k], salt_pr[k], rel_tol=1e-12)
    plain_cc = sorted((r["id"], r["comp"])
                      for r in wcc(gg, engine="join").state.collect())
    salt_cc = sorted((r["id"], r["comp"])
                     for r in wcc(gg, hub_salts=4, hub_top_n=2).state.collect())
    assert plain_cc == salt_cc


def test_hub_isolated_edges_parity(spark, g):
    """HubIsolatedEdges.message_join ≡ plain edges⋈msgs row-for-row; the
    hub set is measured (share-based), and a uniform input yields an
    EMPTY hub set (the does-not-hurt guarantee is structural)."""
    from graphscope_spark.operators.skew import HubIsolatedEdges

    e = g.edges.select("src", "dst")
    msgs = g.vertices.select(
        F.col("id").alias("src"), (F.col("id") % 97).alias("m"))
    want = sorted(map(tuple, e.join(msgs, "src").collect()))
    # min_share=0 forces every top-n key into the hub set → exercises
    # the split path even on a smallish fixture
    hie = HubIsolatedEdges(e, key="src", top_n=4, num_partitions=8,
                           min_share=0.0)
    assert len(hie.hub_keys) > 0
    got = sorted(map(tuple, hie.message_join(msgs).collect()))
    assert got == want
    # left joins must keep unmatched edge rows exactly once too
    sub = msgs.filter(F.col("src") % 2 == 0)
    want_left = sorted(map(tuple, e.join(sub, "src", "left").collect()))
    got_left = sorted(map(tuple, hie.message_join(sub, "left").collect()))
    assert got_left == want_left
    hie.unpersist()

    # perfectly uniform input: every key has the same block size, nobody
    # exceeds min_share×(E/P) with the default share → hub set empty,
    # message_join IS the plain join
    uni = spark.range(64).select(
        (F.col("id") % 8).alias("src"), F.col("id").alias("dst"))
    hie2 = HubIsolatedEdges(uni, key="src", num_partitions=4)
    assert hie2.hub_keys == [] and hie2.hub_edges is None
    umsgs = spark.range(8).select(F.col("id").alias("src"),
                                  F.lit(1).alias("m"))
    assert hie2.message_join(umsgs).count() == 64
    hie2.unpersist()


def test_hub_isolated_algorithms_parity(spark):
    """pagerank/wcc with hub_isolate on a star-skewed graph: wcc bit-equal
    (min is order-free), pagerank allclose to the plain run."""
    import math
    from graphscope_spark.algorithms import pagerank, wcc

    rows = [(0, i) for i in range(1, 41)] + [(i, i + 1) for i in range(41, 50)]
    gg = Graph(spark.createDataFrame(rows, "src long, dst long"),
               directed=True, num_partitions=4)
    plain_pr = {r["id"]: r["rank"]
                for r in pagerank(gg, max_iter=5, engine="join").state.collect()}
    iso_pr = {r["id"]: r["rank"]
              for r in pagerank(gg, max_iter=5, hub_isolate=True,
                                hub_top_n=2).state.collect()}
    assert plain_pr.keys() == iso_pr.keys()
    for k in plain_pr:
        assert math.isclose(plain_pr[k], iso_pr[k], rel_tol=1e-12)
    plain_cc = sorted((r["id"], r["comp"]) for r in wcc(gg, engine="join").state.collect())
    iso_cc = sorted((r["id"], r["comp"])
                    for r in wcc(gg, hub_isolate=True,
                                 hub_top_n=2).state.collect())
    assert plain_cc == iso_cc


def test_vertex_range_slicing(spark):
    from graphscope_spark.operators import vertex_range
    df = spark.range(100).withColumnRenamed("id", "id")
    got = sorted(r.id for r in vertex_range(df, 10, 20).collect())
    assert got == list(range(10, 20))
    assert vertex_range(df, None, 5).count() == 5
    assert vertex_range(df, 95, None).count() == 5
    assert vertex_range(df).count() == 100
