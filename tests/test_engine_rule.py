"""The engine rule (pregel.choose_engine) of pagerank, wcc, cdlp, sssp and
triangles: the block skeleton by default, the row-join engine for the
requests only it implements, for executors that may not see the spill and
for vertex tables missing an edge endpoint; all three engine choices give
the same answers. Beside it, the join engines' lineage cuts free their
checkpoint RDDs, and a reused caller spill dir keeps one cached mmap per
block and buffer kind."""

import glob
import importlib
import os

import pytest

from graphscope_spark import csr
from graphscope_spark.algorithms import (
    cdlp, pagerank, pagerank_block, sssp, triangles, wcc,
)
from graphscope_spark.graph import Graph
from graphscope_spark.pregel import choose_engine, spill_visible

from tests.oracles import make_test_graph

# the modules, which the package shadows with their functions' names
cdlp_mod, pagerank_mod, sssp_mod, triangles_mod, wcc_mod = (
    importlib.import_module(f"graphscope_spark.algorithms.{m}")
    for m in ("cdlp", "pagerank", "sssp", "triangles", "wcc"))


@pytest.fixture(scope="module")
def graphs(spark):
    vertices, edges = make_test_graph()
    # varied weights: the weighted distances differ from the BFS levels
    rows = [(s, d, float((s * 7 + d) % 5 + 1)) for s, d in edges]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return {
        "directed": Graph(e, v, directed=True, num_partitions=4),
        "undirected": Graph(e, v, directed=False, num_partitions=4),
    }


def _rows(res):
    out = {r["id"]: r.asDict() for r in res.state.collect()}
    res.state.unpersist()
    return out


@pytest.mark.parametrize(
    "master, shared",
    [("local", True), ("local[4]", True), ("local[*]", True),
     ("local-cluster[2,1,1024]", True), ("spark://h:7077", False),
     ("yarn", False), ("k8s://https://h:443", False)])
def test_spill_visible_by_master(master, shared):
    # the default node-local spill only where executors share the host;
    # a caller spill_dir is the caller's promise that it is shared
    assert spill_visible(master, None) is shared
    assert spill_visible(master, "/mnt/shared/spill") is True


def test_choose_engine_rule(graphs):
    g = graphs["directed"]
    assert choose_engine(g, "auto") == "block"  # local master in tests
    assert choose_engine(g, "join") == "join"
    assert choose_engine(g, "block") == "block"
    assert choose_engine(g, "auto", resume=False, init_state=False) == "block"
    assert choose_engine(g, "auto", checkpoint_dir="/x") == "join"
    assert choose_engine(g, "join", hub_isolate=True) == "join"
    with pytest.raises(ValueError, match="hub_isolate"):
        choose_engine(g, "block", hub_isolate=True)
    with pytest.raises(ValueError, match="engine must be one of"):
        choose_engine(g, "fast")


def test_choose_engine_on_another_host(graphs, monkeypatch):
    # a master whose executors may run on other hosts: join, unless the
    # caller names a shared spill dir
    from graphscope_spark import pregel

    monkeypatch.setattr(pregel, "spill_visible",
                        lambda master, spill_dir: spill_dir is not None)
    g = graphs["directed"]
    assert choose_engine(g, "auto") == "join"
    assert choose_engine(g, "auto", spill_dir="/mnt/shared") == "block"
    assert choose_engine(g, "block") == "block"  # an explicit choice


class _Routed(Exception):
    pass


def _route(mod, call) -> str:
    """The engine ``call`` picks, without running it."""
    real = mod.choose_engine

    def spy(*args, **kwargs):
        raise _Routed(real(*args, **kwargs))

    with pytest.MonkeyPatch.context() as m:
        m.setattr(mod, "choose_engine", spy)
        with pytest.raises(_Routed) as e:
            call()
    return e.value.args[0]


JOIN_ONLY = {
    "pagerank": (pagerank_mod, pagerank, {}, [
        {"checkpoint_dir": "/tmp/ck"}, {"resume": True}, {"run_id": "r"},
        {"init_state": "df"}, {"hub_salts": 4}, {"hub_isolate": True}]),
    "wcc": (wcc_mod, wcc, {}, [
        {"checkpoint_dir": "/tmp/ck"}, {"resume": True}, {"run_id": "r"},
        {"hub_salts": 4}, {"hub_isolate": True}]),
    "cdlp": (cdlp_mod, cdlp, {}, [
        {"checkpoint_dir": "/tmp/ck"}, {"resume": True}, {"run_id": "r"}]),
    "sssp": (sssp_mod, sssp, {"source": 7}, [
        {"checkpoint_dir": "/tmp/ck"}, {"resume": True}, {"run_id": "r"},
        {"init_state": "df"}]),
}


@pytest.mark.parametrize("name", sorted(JOIN_ONLY))
def test_join_only_arguments_route_to_join(graphs, name):
    mod, fn, base, join_only = JOIN_ONLY[name]
    g = graphs["directed"]
    assert _route(mod, lambda: fn(g, **base)) == "block"
    # hub_salts=1 salts nothing: the join engine only salts above 1
    if name in ("pagerank", "wcc"):
        assert _route(mod,
                      lambda: fn(g, **base, hub_salts=1)) == "block"
    for kw in join_only:
        assert _route(mod,
                      lambda: fn(g, **base, **kw)) == "join", kw
        with pytest.raises(ValueError, match="does not implement"):
            fn(g, **base, **kw, engine="block")


def test_triangles_auto_keeps_the_join_plan_off_host(graphs, monkeypatch):
    # the size rule alone used to send a big graph to the block kernel on
    # any master; the host rule now comes first
    from graphscope_spark import pregel

    def kernel(*args, **kwargs):
        raise _Routed("block")

    g = graphs["undirected"]
    monkeypatch.setattr(triangles_mod, "_BLOCK_ENGINE_MIN_EDGES", 0)
    monkeypatch.setattr(triangles_mod, "triangles_block", kernel)
    with pytest.raises(_Routed):
        triangles(g)  # executors on this host, past the size rule
    monkeypatch.setattr(pregel, "spill_visible",
                        lambda master, spill_dir: spill_dir is not None)
    assert triangles(g).count() == g.num_vertices  # the join plan


CALLS = {
    "pagerank": lambda g, **kw: pagerank(g, max_iter=6, **kw),
    "pagerank_tol": lambda g, **kw: pagerank(g, max_iter=100, tol=1e-6, **kw),
    "wcc": lambda g, **kw: wcc(g, **kw),
    "wcc_capped": lambda g, **kw: wcc(g, max_iter=2, **kw),
    "cdlp": lambda g, **kw: cdlp(g, max_iter=5, **kw),
    "sssp": lambda g, **kw: sssp(g, 7, weight_col="w", **kw),
    "bfs": lambda g, **kw: sssp(g, 7, **kw),
}


@pytest.mark.parametrize("kind", ["directed", "undirected"])
@pytest.mark.parametrize("name", sorted(CALLS))
def test_auto_join_and_block_agree(graphs, kind, name):
    g = graphs[kind]
    got = {e: _rows(CALLS[name](g, engine=e)) for e in ("auto", "join", "block")}
    assert got["auto"] == got["block"]  # auto IS the block engine here
    if name.startswith("pagerank"):
        assert got["join"].keys() == got["block"].keys()
        for k, row in got["join"].items():
            blk = got["block"][k]
            assert blk["out_deg"] == row["out_deg"]
            assert blk["rank"] == pytest.approx(row["rank"], rel=1e-12, abs=0)
    else:
        assert got["join"] == got["block"]  # exact, NULL dist included
    if name in ("sssp", "bfs"):
        # the ring component is out of reach of vertex 7 either way
        assert None in {r["dist"] for r in got["join"].values()}


def test_vertex_table_missing_an_endpoint_keeps_the_join_answer(spark):
    # vertex 4 is an edge endpoint but not a vertex: the join engines drop
    # its messages (and never report it); the block skeleton would raise
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)],
                              "src long, dst long")
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    g = Graph(e, v, directed=True, num_partitions=2)
    assert g.vertices_cover_edges is False
    assert Graph(e, directed=True, num_partitions=2).vertices_cover_edges
    for call in (CALLS["pagerank"], CALLS["wcc"], CALLS["cdlp"],
                 lambda g, **kw: sssp(g, 1, **kw)):
        assert _rows(call(g)) == _rows(call(g, engine="join"))


def _persisted(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("name, call", [
    ("pagerank", lambda g: pagerank(g, max_iter=5, engine="join")),
    ("wcc", lambda g: wcc(g, engine="join")),
    ("cdlp", lambda g: cdlp(g, max_iter=6, engine="join")),
])
def test_join_engine_leaves_no_persisted_rdds(spark, graphs, name, call):
    # every lineage cut's localCheckpoint RDD is freed once a later state
    # no longer reads it; the result itself is never a cut
    g = graphs["directed"]
    call(g).state.unpersist()  # the Graph's own caches (degrees, ...)
    before = _persisted(spark)
    res = call(g)
    assert res.state.count() == g.num_vertices
    res.state.unpersist()
    assert _persisted(spark) - before == set()


def test_reused_spill_dir_keeps_one_cache_entry_per_block(graphs, tmp_path):
    # two runs into one caller spill_dir rewrite every file; a worker that
    # served both must not keep the first run's mmaps beside the second's
    g, d = graphs["directed"], str(tmp_path)
    for _ in range(2):
        pagerank_block(g, max_iter=1, num_blocks=2,
                       spill_dir=d).state.unpersist()
        for blk in range(2):
            csr.load_spilled_block(d, blk, 1)
            csr.load_spilled_vertices(d, blk)
    assert len(glob.glob(os.path.join(d, "blk*_srcs.npy"))) == 2
    keys = [k[:3] for k in csr._CSR_SPILL_CACHE if k[0] == d]
    assert sorted(keys) == sorted({(d, b, k) for b in range(2)
                                   for k in ("e", "v")})
