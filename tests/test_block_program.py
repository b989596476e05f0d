"""The block-program skeleton (pregel.run_block_program) under the four
block engines, and block triangles beside it: one grouped pass per round,
no persisted RDD or spill dir left behind (also when a kernel raises), a
lost spill file raises, and a vertex table missing an edge endpoint
raises."""

import glob
import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from graphscope_spark import csr
from graphscope_spark.algorithms import (
    cdlp_block, pagerank_block, sssp_block, wcc_block,
)
from graphscope_spark.algorithms.triangles import triangles_block
from graphscope_spark.graph import Graph
from graphscope_spark.pregel import BlockProgram, run_block_program

from tests.oracles import make_test_graph

ENGINES = {
    "pagerank_block": lambda g: pagerank_block(g, max_iter=3, num_blocks=3),
    "wcc_block": lambda g: wcc_block(g, num_blocks=3),
    "cdlp_block": lambda g: cdlp_block(g, max_iter=3, num_blocks=3),
    "sssp_block": lambda g: sssp_block(g, 0, num_blocks=3),
}


@pytest.fixture(scope="module")
def g(spark):
    vertices, edges = make_test_graph()
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(e, v, directed=True, num_partitions=4)


def _persisted(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _spill_dirs() -> set:
    # where csr.default_spill_dir makes them
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return set(glob.glob(os.path.join(base, "gs_csr_*")))


@pytest.mark.parametrize("name", sorted(ENGINES))
def test_block_engine_leaves_no_persisted_rdds(spark, g, name):
    # the first call caches what the Graph keeps (degrees, ...); the
    # second must add nothing that outlives its own unpersisted result
    ENGINES[name](g).state.unpersist()
    before, spills = _persisted(spark), _spill_dirs()
    res = ENGINES[name](g)
    assert res.state.count() == g.num_vertices
    res.state.unpersist()
    assert _persisted(spark) - before == set()
    assert _spill_dirs() - spills == set()


def test_raising_kernel_releases_spill_and_boxes(spark, g):
    def init(bk):
        return {"x": np.zeros(bk.vids.size)}, {"n": float(bk.vids.size)}

    def apply(bk, state, inbox, totals):
        if totals["n"] > 0:  # every round: the PEval box exists by now
            raise RuntimeError("kernel failure on purpose")
        return state, {"n": 0.0}

    prog = BlockProgram(
        state={"x": np.float64}, messages=("ids",), init=init, apply=apply,
        scatter=lambda bk, st: [], unpack=lambda bk, st: pd.DataFrame(
            {"id": bk.vids}), unpack_schema="id long", votes=("n",),
        should_stop=lambda t: True,
    )
    # zero rounds: PEval and the unpack only, no apply
    run_block_program(g, prog, g.vertices.select("id"), 0,
                      num_blocks=2).state.unpersist()
    before, spills = _persisted(spark), _spill_dirs()
    with pytest.raises(Exception, match="kernel failure on purpose"):
        run_block_program(g, prog, g.vertices.select("id"), 5, num_blocks=2)
    assert _spill_dirs() - spills == set()
    assert _persisted(spark) - before == set()


def test_missing_spill_file_raises(spark, g, monkeypatch):
    real = csr.spill_csr_blocks_indexed
    lost = {}

    def spill_then_lose_one(*args, **kwargs):
        sd, manifest = real(*args, **kwargs)
        blk = int(np.flatnonzero(manifest.n_edge)[0])
        os.remove(os.path.join(sd, f"blk{blk}_srcs.npy"))
        lost["blk"] = blk
        return sd, manifest

    monkeypatch.setattr(csr, "spill_csr_blocks_indexed", spill_then_lose_one)
    spills = _spill_dirs()
    with pytest.raises(Exception, match="is missing"):
        wcc_block(g, num_blocks=3)
    assert "blk" in lost
    assert _spill_dirs() - spills == set()


def test_triangles_block_result_is_freeable(spark, g):
    triangles_block(g, num_blocks=2).unpersist()  # warm the Graph's caches
    before, spills = _persisted(spark), _spill_dirs()
    res = triangles_block(g, num_blocks=2)
    assert res.count() == g.num_vertices
    res.unpersist()
    assert _persisted(spark) - before == set()
    assert _spill_dirs() - spills == set()


def _lose_after_spill(monkeypatch, fn: str, buf: str) -> None:
    """Make ``csr.<fn>`` delete one block's ``buf`` file after spilling."""
    real = getattr(csr, fn)

    def spill_then_lose(*args, **kwargs):
        out = real(*args, **kwargs)
        sd = args[2]
        os.remove(sorted(glob.glob(os.path.join(sd, f"blk*_{buf}.npy")))[0])
        return out

    monkeypatch.setattr(csr, fn, spill_then_lose)


def test_raising_triangle_kernel_releases_spill_and_canon(spark, g,
                                                          monkeypatch):
    triangles_block(g, num_blocks=2).unpersist()
    _lose_after_spill(monkeypatch, "spill_csr_blocks_from_edges", "srcs")
    before, spills = _persisted(spark), _spill_dirs()
    with pytest.raises(Exception, match="is missing"):
        triangles_block(g, num_blocks=2)
    assert _spill_dirs() - spills == set()
    assert _persisted(spark) - before == set()


def test_lost_closing_key_file_raises(spark, g, monkeypatch):
    # one block: every wedge's closing-edge probe reads the lost file,
    # which used to read as "no keys" and count 0 triangles
    _lose_after_spill(monkeypatch, "spill_sorted_keys", "ckeys")
    with pytest.raises(Exception, match="keys but .* is missing"):
        triangles_block(g, num_blocks=1)


def test_cdlp_block_rejects_vertex_table_without_an_endpoint(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                              "src long, dst long")
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")  # 4 is missing
    g2 = Graph(e, v, directed=True, num_partitions=2)
    with pytest.raises(Exception, match="not in its block's vertex array"):
        cdlp_block(g2, max_iter=2, num_blocks=2)


def test_pagerank_block_round_shape(spark, g):
    sc = spark.sparkContext
    pagerank_block(g, max_iter=1, num_blocks=3).state.unpersist()  # warm
    jobs = {}
    for rounds in (3, 5):
        group = f"pagerank_block_round_shape_{rounds}"
        sc.setJobGroup(group, group)
        try:
            pagerank_block(g, max_iter=rounds, num_blocks=3).state.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
    # one exchange + one materializing vote per round
    assert 0 < jobs[5] - jobs[3] <= 2 * 2, jobs


def test_pagerank_block_bit_identical_with_several_blocks(g):
    def ranks():
        res = pagerank_block(g, max_iter=6, num_blocks=3)
        pdf = res.state.toPandas().sort_values("id")
        res.state.unpersist()
        return pdf["rank"].to_numpy()

    a, b = ranks(), ranks()
    assert a.tobytes() == b.tobytes()  # blk-ordered dangling sum


def test_vertex_slots_checks_membership():
    vids = np.array([2, 5, 9], np.int64)
    assert csr.vertex_slots(vids, np.array([9, 2], np.int64)).tolist() == [2, 0]
    assert csr.vertex_slots(vids, np.empty(0, np.int64)).size == 0
    for bad in ([3], [10], [1]):
        with pytest.raises(ValueError, match="vertex"):
            csr.vertex_slots(vids, np.array(bad, np.int64))
    with pytest.raises(ValueError):
        csr.vertex_slots(np.empty(0, np.int64), np.array([1], np.int64))
