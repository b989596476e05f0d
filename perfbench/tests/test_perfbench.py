"""Tests for the benchmark's own code: the numpy oracles against
tests/oracles.py, the event-log parser on a canned log, failure counting
for a deliberately wrong result, and the cached-bytes poller's sample
before a spill dir is removed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, oracles, probes, run, workloads  # noqa: E402

_spec = importlib.util.spec_from_file_location(
    "reference_oracles", os.path.join(ROOT, "tests", "oracles.py"))
ref = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ref)


def small_graph(seed: int):
    """≤200 directed edges: a hub-shaped part plus a disjoint chain, so WCC
    has more than one component."""
    s, d = workloads.hub_edges(seed, 160)
    off = int(max(s.max(), d.max())) + 10
    s = np.concatenate([s, [off, off + 1, off + 3]])
    d = np.concatenate([d, [off + 1, off + 2, off + 4]])
    assert len(s) <= 200
    return s, d


def symmetric(s, d):
    key = np.unique(np.concatenate([s * 10**6 + d, d * 10**6 + s]))
    return key // 10**6, key % 10**6


def as_ref(s, d):
    edges = list(zip(s.tolist(), d.tolist()))
    return edges, sorted(set(s.tolist()) | set(d.tolist()))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pagerank_matches_reference(seed):
    s, d = small_graph(seed)
    for src, dst in ((s, d), symmetric(s, d)):
        ids, r = oracles.pagerank(src, dst, rounds=7)
        want = ref.oracle_pagerank(*as_ref(src, dst), rounds=7)
        np.testing.assert_allclose(r, [want[i] for i in ids.tolist()], rtol=1e-12)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_wcc_matches_reference(seed):
    s, d = small_graph(seed)
    ids, comp = oracles.wcc(s, d)
    want = ref.oracle_wcc(*as_ref(s, d))
    assert comp.tolist() == [want[i] for i in ids.tolist()]
    assert len(set(comp.tolist())) > 1


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cdlp_matches_reference(seed):
    s, d = small_graph(seed)
    for (src, dst), directed in (((s, d), True), (symmetric(s, d), False)):
        ids, lab = oracles.cdlp(src, dst, rounds=4, directed=directed)
        want = ref.oracle_cdlp(*as_ref(src, dst), rounds=4, directed=directed)
        assert lab.tolist() == [want[i] for i in ids.tolist()]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangles_matches_reference(seed):
    s, d = small_graph(seed)
    # a self-loop and a reversed duplicate must not change the counts
    s2, d2 = np.concatenate([s, [s[0], d[0]]]), np.concatenate([d, [s[0], s[0]]])
    ids, tri = oracles.triangles(s2, d2)
    want = ref.oracle_triangles(*as_ref(s2, d2))
    assert tri.tolist() == [want[i] for i in ids.tolist()]
    assert tri.sum() > 0


def _canned_log() -> list[str]:
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w/pagerank/0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    for ms in (100, 100, 400):
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": ms, "Executor CPU Time": ms * 10**6 // 2,
            "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}})
    ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 50, "Executor CPU Time": 0, "JVM GC Time": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 200, "Local Bytes Read": 2800},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}})
    ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor Run Time": 9999}})
    ev.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1500,
        "Accumulables": [{"Name": eventlog.ARROW_TO_PYTHON, "Value": "2048"}]}})
    ev.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 1, "Submission Time": 1400, "Completion Time": 1800,
        "Accumulables": [{"Name": eventlog.ARROW_FROM_PYTHON, "Value": "512"}]}})
    ev.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 2, "Submission Time": 0, "Completion Time": 5000}})
    return [json.dumps(e) for e in ev]


def test_eventlog_parse_by_job_group():
    spans = eventlog.parse(_canned_log())
    assert set(spans) == {"w/pagerank/0"}  # the job without a group is dropped
    s = spans["w/pagerank/0"]
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 2, 4)
    assert s["task_s"] == pytest.approx(0.65)
    assert s["cpu_s"] == pytest.approx(0.3)
    assert s["gc_s"] == pytest.approx(0.03)
    assert s["shuffle_write_b"] == 3000 and s["shuffle_read_b"] == 3000
    assert s["arrow_to_python_b"] == 2048 and s["arrow_from_python_b"] == 512
    assert s["straggler"] == pytest.approx(4.0)  # 400 ms against a 100 ms median
    # stages cover 1000-1800 ms; the span runs 900-2000 ms
    assert eventlog.covered_s(s["intervals"], 900, 2000) == pytest.approx(0.8)
    assert eventlog.covered_s(s["intervals"], 1600, 1700) == pytest.approx(0.1)


def test_eventlog_job_without_group_goes_to_its_span():
    # job 1 (stage 2, one 9999 ms task) carries no group, as jobs submitted
    # from a plain thread pool do; it was submitted inside the second span
    log = _canned_log()
    log[1] = json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
                         "Submission Time": 2500, "Properties": {}})
    spans = [{"name": "w/pagerank/0", "start_ms": 900, "end_ms": 2000},
             {"name": "w/triangles/1", "start_ms": 2100, "end_ms": 6000}]
    got = eventlog.parse(log, spans)
    assert set(got) == {"w/pagerank/0", "w/triangles/1"}
    assert got["w/pagerank/0"]["tasks"] == 4  # its own jobs are unchanged
    t = got["w/triangles/1"]
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 1, 1)
    assert t["task_s"] == pytest.approx(9.999)
    # submitted outside every span: dropped
    spans[1]["start_ms"] = 3000
    assert set(eventlog.parse(log, spans)) == {"w/pagerank/0"}


def test_wrong_result_is_counted_as_failed(tmp_path):
    pyspark = pytest.importorskip("pyspark")
    del pyspark
    from graphscope_spark import Graph, get_spark

    spark = get_spark("perfbench-tests", cpus=2)
    s, d = small_graph(1)
    good = workloads._tri(lambda g: 0, column=None)
    want = good.oracle(s, d, True)
    right = workloads.Call("triangles", "g", lambda g: want, None, good.oracle)
    wrong = workloads.Call("triangles", "g", lambda g: want + 1, None, good.oracle)
    boom = workloads.Call("triangles", "g", lambda g: 1 // 0, None, good.oracle)
    pr_boom = workloads._pr(lambda g, max_iter: 1 // 0, 2)
    wl = workloads.Workload("unit", None, None, [right, wrong, boom, pr_boom], {"g": True})
    b = run.Bench(wl, seed=1, tmp=str(tmp_path))
    b.spark = spark
    b.graphs = {"g": Graph(spark.createDataFrame(
        list(zip(s.tolist(), d.tolist())), "src long, dst long"))}
    b.sizes = {"g": {"E": len(s), "V": 0}}
    b.inputs = {"edges": {"g": (s, d)}}
    recs = b.run_pass(traced=True)
    assert [r["ok"] for r in recs] == [True, False, False, False]
    assert (b.attempted, b.failed) == (4, 3)
    assert b.failures == ["triangles(g)", "triangles(g)", "pagerank(g)"]
    # the traced metrics of a pass with raising calls: counted, never fatal
    m = run.layer_metrics(recs, {})
    assert "pregel.superstep_ms.pagerank" not in m
    assert m["pregel.rounds.pagerank"][0] == 1
    assert m["exec.tasks"][0] == 0
    b.stop_session()


def test_poller_samples_a_spill_dir_before_its_removal(tmp_path, monkeypatch):
    pytest.importorskip("pyspark")
    from graphscope_spark import csr

    monkeypatch.setattr(probes, "SPILL_GLOB", str(tmp_path / "gs_csr_*"))
    jsc = SimpleNamespace(getRDDStorageInfo=lambda: [], newRddId=lambda: 0)
    sc = SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: jsc))
    cleanup = csr.cleanup_spill
    # a period far past the test, so only the wrapped cleanup can see the dir
    with probes.Poller(sc, set(), period_s=600) as poll:
        poll.start_window()
        spill = tmp_path / "gs_csr_1"
        spill.mkdir()
        (spill / "blk0_srcs.npy").write_bytes(bytes(2**20))
        csr.cleanup_spill(str(spill))
        assert not spill.exists()
    assert csr.cleanup_spill is cleanup
    assert poll.peak_cached_mb == pytest.approx(1.0)
    assert poll.window_peak_mb == pytest.approx(1.0)
