"""CSR-block PageRank (graphscope_spark/csr.py + pagerank_block): same
fixpoint as the join engine (numpy-oracle-checked), packed-message plumbing
exercised on empty blocks, dangling mass, self-loops, and a hub."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.algorithms import pagerank, pagerank_block
from graphscope_spark.csr import build_csr_blocks, merge_packed

from tests.oracles import make_test_graph, oracle_pagerank

import pandas as pd


@pytest.fixture(scope="module")
def graph_data():
    return make_test_graph()


@pytest.fixture(scope="module")
def g(spark, graph_data):
    vertices, edges = graph_data
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(e, v, directed=True, num_partitions=8)


def _as_dict(df, key="id", val="rank"):
    return {r[key]: r[val] for r in df.collect()}


def test_block_matches_numpy_oracle(g, graph_data):
    vertices, edges = graph_data
    got = _as_dict(pagerank_block(g, alpha=0.85, max_iter=10).state)
    want = oracle_pagerank(edges, vertices, alpha=0.85, rounds=10)
    assert set(got) == set(want)
    ids = sorted(want)
    assert np.allclose([got[i] for i in ids], [want[i] for i in ids],
                       atol=1e-9)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_block_matches_join_engine_exactly(g):
    # same graph, both engines, tight tolerance: the block path is an
    # alternative PHYSICAL plan for the identical update rule
    a = _as_dict(pagerank(g, alpha=0.85, max_iter=7, engine="join").state)
    b = _as_dict(pagerank_block(g, alpha=0.85, max_iter=7).state)
    ids = sorted(a)
    assert np.allclose([a[i] for i in ids], [b[i] for i in ids],
                       atol=1e-13, rtol=1e-10)


def test_block_tolerance_mode(g, graph_data):
    vertices, edges = graph_data
    res = pagerank_block(g, alpha=0.85, max_iter=100, tol=1e-6)
    want = oracle_pagerank(edges, vertices, alpha=0.85, rounds=None,
                           tol=1e-6, max_iter=100)
    got = _as_dict(res.state)
    ids = sorted(want)
    assert np.allclose([got[i] for i in ids], [want[i] for i in ids],
                       atol=1e-6)
    assert res.rounds < 100


def test_block_deterministic_across_runs(g):
    a = _as_dict(pagerank_block(g, max_iter=6).state)
    b = _as_dict(pagerank_block(g, max_iter=6).state)
    assert a == b  # bit-identical: pinned merge order (sblk, sorted ids)


def test_block_hub_and_selfloop(spark):
    # star into a hub + a self-loop + a dangling sink; num_blocks larger
    # than the vertex count so many blocks are EMPTY on one or both sides
    edges = [(i, 99) for i in range(10)] + [(99, 99), (99, 7), (3, 50)]
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph(e, directed=True, num_partitions=16)
    got = _as_dict(pagerank_block(g, max_iter=8, num_blocks=16).state)
    verts = sorted({u for u, v in edges} | {v for u, v in edges})
    want = oracle_pagerank(edges, verts, alpha=0.85, rounds=8)
    ids = sorted(want)
    assert np.allclose([got[i] for i in ids], [want[i] for i in ids],
                       atol=1e-12)


def test_block_empty_graph(spark):
    g = Graph(spark.createDataFrame([], "src long, dst long"), directed=True)
    res = pagerank_block(g, max_iter=5)
    assert res.state.count() == 0


def test_csr_blocks_cover_all_edges(g):
    blocks = build_csr_blocks(g, num_blocks=4).collect()
    n_edges = sum(r.n_edge for r in blocks)
    assert n_edges == g.num_edges
    for r in blocks:
        srcs = np.frombuffer(r.srcs, dtype=np.int64)
        indptr = np.frombuffer(r.indptr, dtype=np.int64)
        dsts = np.frombuffer(r.dsts, dtype=np.int64)
        assert indptr[0] == 0 and indptr[-1] == dsts.size == r.n_edge
        assert srcs.size == r.n_src == indptr.size - 1
        assert np.all(np.diff(srcs) > 0)  # sorted distinct sources
        assert np.all(srcs % 4 == r.blk)  # block key honored


def test_merge_packed_deterministic_and_correct():
    a = np.array([1, 5, 9], np.int64)
    b = np.array([5, 7], np.int64)
    pdf = pd.DataFrame({
        "sblk": [1, 0],
        "ids": [a.tobytes(), b.tobytes()],
        "sums": [np.array([1.0, 2.0, 3.0]).tobytes(),
                 np.array([10.0, 20.0]).tobytes()],
    })
    ids, sums = merge_packed(pdf)
    assert ids.tolist() == [1, 5, 7, 9]
    assert sums.tolist() == [1.0, 12.0, 20.0, 3.0]
    empty_ids, empty_sums = merge_packed(pdf.iloc[0:0])
    assert empty_ids.size == 0 and empty_sums.size == 0
