"""Measured-skew AUTO policy (operators/skew.py module docs): the sensor
fires only on real skew, picks the combiner-matched remedy (sum → isolate,
min/count-argmax → salt), and every remedied run is value-identical to the
plain one. The sensor floor is pinned to 0 here so the policy is exercised
on small planted-hub graphs."""

import pytest
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.operators import skew as skewmod
from graphscope_spark.algorithms import cdlp, pagerank, sssp, wcc


@pytest.fixture(autouse=True)
def _no_sensor_floor(monkeypatch):
    monkeypatch.setattr(skewmod, "SKEW_SENSOR_MIN_EDGES", 0)


def _skewed_graph(spark, n_edges=20_000, nv=2_000):
    # hub vertex 0 owns ~30% of all edges as src — far over any
    # partition's fair share at P=8
    base = spark.range(n_edges)
    h = F.xxhash64(F.col("id"))
    h2 = F.xxhash64(F.col("id"), F.lit(1))
    r = F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(100))
    edges = base.select(
        F.when(r < 30, F.lit(0))
        .otherwise(F.pmod(h, F.lit(nv))).alias("src"),
        F.pmod(h2, F.lit(nv)).alias("dst"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(9)) + 1.0)
        .alias("w"),
    )
    return Graph(edges, directed=True, num_partitions=8)


def _uniform_graph(spark, n_edges=5_000, nv=1_000):
    base = spark.range(n_edges)
    h = F.xxhash64(F.col("id"))
    h2 = F.xxhash64(F.col("id"), F.lit(1))
    edges = base.select(
        F.pmod(h, F.lit(nv)).alias("src"),
        F.pmod(h2, F.lit(nv)).alias("dst"),
    )
    return Graph(edges, directed=True, num_partitions=8)


def test_sensor_fires_only_on_skew(spark):
    gs = _skewed_graph(spark)
    hubs = skewmod.measured_hub_keys(
        gs.out_edges, key="src", num_partitions=gs.num_partitions)
    assert 0 in hubs  # the planted hub is measured
    gu = _uniform_graph(spark)
    assert skewmod.measured_hub_keys(
        gu.out_edges, key="src", num_partitions=gu.num_partitions) == []


def test_wcc_auto_bit_identical(spark):
    g = _skewed_graph(spark)
    plain = sorted(
        (r["id"], r["comp"])
        for r in wcc(g, skew=None, engine="join").state.select("id", "comp").collect())
    auto = sorted(
        (r["id"], r["comp"])
        for r in wcc(g, engine="join").state.select("id", "comp").collect())
    assert plain == auto  # min-combine: salting is bit-identical


def test_sssp_auto_bit_identical(spark):
    g = _skewed_graph(spark)
    plain = sorted(
        (r["id"], r["dist"])
        for r in sssp(g, source=0, weight_col="w",
                      skew=None, engine="join").state.select("id", "dist").collect())
    auto = sorted(
        (r["id"], r["dist"])
        for r in sssp(g, source=0, weight_col="w", engine="join")
        .state.select("id", "dist").collect())
    assert plain == auto  # float min is order-free: bit-identical


def test_cdlp_auto_bit_identical(spark):
    g = _skewed_graph(spark)
    plain = sorted(
        (r["id"], r["label"])
        for r in cdlp(g, max_iter=5, skew=None, engine="join")
        .state.select("id", "label").collect())
    auto = sorted(
        (r["id"], r["label"])
        for r in cdlp(g, max_iter=5, engine="join").state.select("id", "label").collect())
    assert plain == auto  # integer count + deterministic tie-break


def test_pagerank_auto_allclose(spark):
    g = _skewed_graph(spark)
    plain = dict(
        (r["id"], r["rank"])
        for r in pagerank(g, max_iter=5, skew=None, engine="join")
        .state.select("id", "rank").collect())
    auto = dict(
        (r["id"], r["rank"])
        for r in pagerank(g, max_iter=5, engine="join").state.select("id", "rank").collect())
    assert plain.keys() == auto.keys()
    # sum order may differ at the ulp level (isolate splits the hub's
    # partial sums off the keyed join) — the same tolerance class as the
    # north rule's allclose 1e-6, far tighter here
    for k, v in plain.items():
        assert abs(v - auto[k]) < 1e-12


def test_uniform_input_stays_plain(spark):
    # empty measured hub set → wcc takes the plain path (and the result
    # is the same either way)
    g = _uniform_graph(spark)
    plain = sorted(
        (r["id"], r["comp"])
        for r in wcc(g, skew=None, engine="join").state.select("id", "comp").collect())
    auto = sorted(
        (r["id"], r["comp"])
        for r in wcc(g, engine="join").state.select("id", "comp").collect())
    assert plain == auto
