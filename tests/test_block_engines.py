"""CSR-block WCC and CDLP (csr.py min- and label-count kernels): exact
integer equality vs the join engines and the Python oracles; frontier
subsetting, empty blocks, hubs, and the directed in∪out neighbor multiset."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.algorithms import cdlp, cdlp_block, wcc, wcc_block
from graphscope_spark.csr import (
    argmax_packed_labels, merge_packed_min,
)

from tests.oracles import make_test_graph, oracle_cdlp, oracle_wcc


@pytest.fixture(scope="module")
def graph_data():
    return make_test_graph()


@pytest.fixture(scope="module")
def g(spark, graph_data):
    vertices, edges = graph_data
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(e, v, directed=True, num_partitions=8)


def _as_dict(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def test_wcc_block_matches_oracle(g, graph_data):
    vertices, edges = graph_data
    got = _as_dict(wcc_block(g).state, "id", "comp")
    assert got == oracle_wcc(edges, vertices)


def test_wcc_block_matches_join_engine(g):
    a = _as_dict(wcc(g, engine="join").state, "id", "comp")
    b = _as_dict(wcc_block(g).state, "id", "comp")
    assert a == b


def test_wcc_block_converges_with_frontier(g):
    res = wcc_block(g, max_iter=200)
    # terminated by the vote, not the iteration cap
    assert res.rounds < 200
    assert res.metrics[-1]["frontier"] == 0


def test_cdlp_block_matches_oracle(g, graph_data):
    vertices, edges = graph_data
    got = _as_dict(cdlp_block(g, max_iter=10).state, "id", "label")
    assert got == oracle_cdlp(edges, vertices, rounds=10, directed=True)


def test_cdlp_block_matches_join_engine(g):
    a = _as_dict(cdlp(g, max_iter=7, engine="join").state, "id", "label")
    b = _as_dict(cdlp_block(g, max_iter=7).state, "id", "label")
    assert a == b


def test_block_engines_undirected_convention(spark):
    # bidirectionally-stored undirected graph: no re-symmetrization, the
    # neighbor multiset is the stored table itself
    edges = [(1, 2), (2, 3), (3, 4), (5, 6), (1, 3)]
    both = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(both, "src long, dst long")
    g = Graph(e, directed=False, num_partitions=4)
    assert (_as_dict(wcc(g, engine="join").state, "id", "comp")
            == _as_dict(wcc_block(g).state, "id", "comp"))
    assert (_as_dict(cdlp(g, max_iter=6, engine="join").state,
                     "id", "label")
            == _as_dict(cdlp_block(g, max_iter=6).state, "id", "label"))


def test_block_engines_hub_many_empty_blocks(spark):
    # star into a hub + 2-cycle + parallel edge; num_blocks > |V| so many
    # blocks are empty on one or both cogroup sides
    edges = [(i, 99) for i in range(10)] + [(99, 7), (7, 99), (3, 50), (3, 50)]
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph(e, directed=True, num_partitions=16)
    verts = sorted({u for u, v in edges} | {v for u, v in edges})
    assert (_as_dict(wcc_block(g, num_blocks=16).state, "id", "comp")
            == oracle_wcc(edges, verts))
    assert (_as_dict(cdlp_block(g, max_iter=8, num_blocks=16).state,
                     "id", "label")
            == oracle_cdlp(edges, verts, rounds=8, directed=True))


def test_block_engines_empty_graph(spark):
    g = Graph(spark.createDataFrame([], "src long, dst long"), directed=True)
    assert wcc_block(g).state.count() == 0
    assert cdlp_block(g).state.count() == 0


def test_merge_packed_min_combines():
    a = np.array([1, 5, 9], np.int64)
    b = np.array([5, 7], np.int64)
    pdf = pd.DataFrame({
        "sblk": [1, 0],
        "ids": [a.tobytes(), b.tobytes()],
        "mins": [np.array([10, 2, 30], np.int64).tobytes(),
                 np.array([4, 70], np.int64).tobytes()],
    })
    ids, mins = merge_packed_min(pdf)
    assert ids.tolist() == [1, 5, 7, 9]
    assert mins.tolist() == [10, 2, 70, 30]
    e_ids, e_mins = merge_packed_min(pdf.iloc[0:0])
    assert e_ids.size == 0 and e_mins.size == 0


def test_argmax_packed_labels_ldbc_ties():
    # vertex 1: label 8 ×2 vs label 3 ×2 (cross-buffer sum) → tie → min 3
    # vertex 2: label 9 ×3 beats label 1 ×2
    pdf = pd.DataFrame({
        "sblk": [0, 1],
        "ids": [np.array([1, 1, 2], np.int64).tobytes(),
                np.array([1, 2, 2], np.int64).tobytes()],
        "labels": [np.array([3, 8, 9], np.int64).tobytes(),
                   np.array([8, 1, 9], np.int64).tobytes()],
        "counts": [np.array([2, 1, 1], np.int64).tobytes(),
                   np.array([1, 2, 2], np.int64).tobytes()],
    })
    ids, labels = argmax_packed_labels(pdf)
    assert ids.tolist() == [1, 2]
    assert labels.tolist() == [3, 9]
    e_ids, e_labels = argmax_packed_labels(pdf.iloc[0:0])
    assert e_ids.size == 0 and e_labels.size == 0


# ------------------------------------------------------------------ #
# sssp_block (weighted CSR relaxation, csr.py scatter_packed_relax)
# ------------------------------------------------------------------ #

from graphscope_spark.algorithms import sssp, sssp_block  # noqa: E402
from tests.oracles import oracle_sssp  # noqa: E402


def _weighted(edges):
    return [(s, d, float((s + d) % 10 + 1)) for s, d in edges]


@pytest.fixture(scope="module")
def gw(spark, graph_data):
    vertices, edges = graph_data
    ew = _weighted(edges)
    e = spark.createDataFrame(ew, "src long, dst long, w double")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(e, v, directed=True, num_partitions=8)


def test_sssp_block_matches_oracle(gw, graph_data):
    vertices, edges = graph_data
    src = min(vertices)
    got = _as_dict(sssp_block(gw, src, weight_col="w").state, "id", "dist")
    assert got == oracle_sssp(_weighted(edges), vertices, src)


def test_sssp_block_bit_identical_to_join_engine(gw, graph_data):
    vertices, _ = graph_data
    src = min(vertices)
    a = _as_dict(sssp(gw, src, weight_col="w", engine="join").state,
                 "id", "dist")
    b = _as_dict(sssp_block(gw, src, weight_col="w").state, "id", "dist")
    assert a == b  # exact ==, incl. None for unreachable — no tolerance


def test_sssp_block_unit_weights_are_bfs_levels(g, graph_data):
    vertices, _ = graph_data
    src = min(vertices)
    from graphscope_spark.algorithms import bfs
    a = _as_dict(bfs(g, src, engine="join").state, "id", "dist")
    b = _as_dict(sssp_block(g, src).state, "id", "dist")
    assert a == b


def test_sssp_block_unreachable_is_null(spark):
    e = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    g2 = Graph(e, directed=True, num_partitions=4)
    got = _as_dict(sssp_block(g2, 1).state, "id", "dist")
    assert got == {1: 0.0, 2: 1.0, 3: None, 4: None}


def test_sssp_block_empty_graph(spark):
    g2 = Graph(spark.createDataFrame([], "src long, dst long"), directed=True)
    assert sssp_block(g2, 0).state.count() == 0
