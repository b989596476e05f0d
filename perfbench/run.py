#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload hub-block --seed 1 --seconds 5 --trace 0

Runs from any working directory. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` makes the separate traced run (Spark event log on,
one span and job group per call) and prints the per-layer metrics. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records the
box. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, probes, workloads  # noqa: E402

SETUP_REPS = 3
#: pause after the collections that precede each call, so Spark's cleaner
#: thread has freed what the previous call left before the clock starts
SETTLE_S = 0.1
CPUS = 4
ALGOS = ("pagerank", "wcc", "cdlp", "triangles")
_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb() -> int:
    # the session's 16g default exceeds a 15 GiB box; a third of RAM leaves
    # room for the Python workers, tmpfs spills and the page cache
    return max(2, min(16, int(mem_total_gib() / 3)))


class Bench:
    """One run of one workload: inputs, sessions, passes and records."""

    def __init__(self, workload, seed: int, tmp: str):
        self.wl = workload
        self.seed = seed
        self.tmp = tmp
        self.spark = None
        self.tracing = False  # the session writes an event log
        self.graphs: dict = {}
        self.graph_ids: set[int] = set()  # the RDDs persisted by set-up
        self.expected: dict = {}
        self.sizes: dict = {}
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.poller = None  # a probes.Poller while a pass is polled
        self.java = None  # the session JVM's vendor and version
        self.num_blocks = None

    # ------------------------------------------------------------ session
    def setup(self, event_dir: str | None = None) -> dict:
        """Stop the current session, then time get_spark + edge-table
        read/derive + Graph build until num_edges and degrees are
        materialized; returns the phase times."""
        from graphscope_spark import get_spark

        self.stop_session()
        conf = {
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            # compiler threads that live as long as the JVM, so the CPU
            # they spend stays readable (probes.tree_cpu_s leaves it out)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                                             "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{event_dir}",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.monotonic()
        self.spark = get_spark(f"perfbench-{self.wl.name}", cpus=CPUS, extra_conf=conf)
        self.tracing = bool(event_dir)
        prop = self.spark.sparkContext._jvm.System.getProperty
        self.java = f'{prop("java.vm.name")} {prop("java.runtime.version")}'
        self.group(f"{self.wl.name}/setup")
        t1 = time.monotonic()
        self.graphs = self.wl.load(self.spark, self.inputs)
        t2 = time.monotonic()
        for g in self.graphs.values():
            g.num_edges
            g.degrees.count()
        t3 = time.monotonic()
        self.graph_ids = probes.persisted_ids(self.spark.sparkContext)
        return {"setup_s": t3 - t0, "session_s": t1 - t0,
                "load_s": t2 - t1, "build_s": t3 - t2}

    def stop_session(self) -> None:
        if self.spark is not None:
            for g in self.graphs.values():
                g.unpersist()
            self.graphs = {}
            self.spark.stop()
            self.spark = None

    def group(self, name: str) -> None:
        """Label the jobs that follow, so the event log maps them to a span."""
        if self.tracing:
            self.spark.sparkContext.setJobGroup(name, name)

    # -------------------------------------------------------------- calls
    def prepare(self) -> None:
        """Generate the inputs and compute every oracle answer."""
        self.inputs = self.wl.make_inputs(self.seed, self.tmp)
        for name, (src, dst) in self.inputs["edges"].items():
            self.sizes[name] = {"V": int(len(np.unique(np.concatenate([src, dst])))),
                                "E": int(len(src))}
        for call in self.wl.calls:
            self.expect(call)

    def expect(self, call):
        """The oracle's answer for ``call``, computed once per key."""
        if call.key not in self.expected:
            src, dst = self.inputs["edges"][call.graph]
            self.expected[call.key] = call.oracle(src, dst, self.wl.directed[call.graph])
        return self.expected[call.key]

    def check(self, call, out) -> bool:
        want = self.expect(call)
        if call.column is None:
            return matches(call, want, out)
        pdf = out.select("id", call.column).toPandas()
        return matches(call, want, (pdf["id"].to_numpy(), pdf[call.column].to_numpy()))

    def warm_up(self) -> None:
        """The untimed warm-up pass, outside ``setup_s``: each call's warm
        form (``Call.warm``: the same engine on the same graph with fewer
        rounds), materialized like a timed call and not checked. It pays
        what a process's first calls pay: Python workers and their imports,
        the JVM's first compilation of each engine's code paths, and the
        per-Graph caches the engines build."""
        self.group(f"{self.wl.name}/warm")
        walls = []
        for call in self.wl.calls:
            self.settle()
            t0 = time.monotonic()
            try:
                res = (call.warm or call.run)(self.graphs[call.graph])
                out = getattr(res, "state", res)
                if call.column is not None:
                    out.write.format("noop").mode("overwrite").save()
                    out.unpersist()
            except Exception:  # the timed call will count it
                log(f"warm-up {call.algo} raised:\n{traceback.format_exc()}")
            walls.append(round(time.monotonic() - t0, 3))
        log(f"warm-up {sum(walls):.3f} s: {walls}")

    def settle(self) -> None:
        """Collect garbage in the driver's Python and JVM and give Spark's
        cleaner a moment, so freeing the previous call's RDDs, shuffles and
        checkpoints does not land inside the next call's timed region."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)

    def run_call(self, call, span: str | None) -> dict:
        """One closed-loop call: settle, run, materialize into the noop
        sink, stop the clock, then check and unpersist outside the timed
        region."""
        sc = self.spark.sparkContext
        self.settle()
        rdds0, spills0 = probes.persisted_ids(sc), probes.spill_dirs()
        rec = {"algo": call.algo, "span": span, "ok": False, "rounds": 1,
               "step_ms": [], "edges": self.sizes[call.graph]["E"]}
        if span:
            self.group(span)
        if self.poller:
            self.poller.start_window()
        cpu0, t0, e0 = probes.tree_cpu_s(), time.monotonic(), time.time()
        try:
            res = call.run(self.graphs[call.graph])
            out = getattr(res, "state", res)
            if call.column is not None:
                out.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing call is counted, never fatal
            res = out = None
            log(f"{call.algo} raised:\n{traceback.format_exc()}")
        rec["wall_s"] = time.monotonic() - t0
        rec["cpu_s"] = probes.tree_cpu_s() - cpu0
        rec["t0_ms"], rec["t1_ms"] = e0 * 1e3, time.time() * 1e3
        if self.poller:
            self.poller.sample()
            rec["peak_mb"] = self.poller.window_peak_mb
        if span:
            self.group(f"{self.wl.name}/check")
        if out is not None:
            rec["rounds"] = getattr(res, "rounds", 1)
            rec["step_ms"] = [m["wall_ms"] for m in getattr(res, "metrics", [])]
            try:
                rec["ok"] = self.check(call, out)
            except Exception:
                log(f"{call.algo} check raised:\n{traceback.format_exc()}")
            if call.column is not None:
                out.unpersist()
        rec["leak_rdds"] = len(probes.persisted_ids(sc) - rdds0)
        rec["leak_spills"] = len(probes.spill_dirs() - spills0)
        self.attempted += 1
        if not rec["ok"]:
            self.failed += 1
            self.failures.append(f"{call.algo}({call.graph})")
        if span:
            self.spans.append({"name": span, "parent": self.wl.name,
                               "start_ms": rec["t0_ms"], "end_ms": rec["t1_ms"]})
        return rec

    def run_pass(self, traced: bool = False) -> list[dict]:
        return [self.run_call(c, f"{self.wl.name}/{c.algo}/{i}" if traced else None)
                for i, c in enumerate(self.wl.calls)]


def matches(call, want, got) -> bool:
    """Compare a call's result with its oracle: exact for ids, labels and
    counts; per-vertex relative 1e-6 for PageRank. ``got`` is a scalar or
    an unordered ``(ids, values)`` pair."""
    if call.column is None:
        return int(got) == want
    ids, vals = got
    order = np.argsort(ids, kind="stable")
    ids, vals = ids[order], vals[order]
    want_ids, want_vals = want
    if not np.array_equal(ids, want_ids):
        return False
    if call.exact:
        return np.array_equal(vals.astype(np.int64), want_vals)
    return bool(np.all(np.abs(vals - want_vals) <= 1e-6 * np.abs(want_vals)))


# ------------------------------------------------------------------ metrics
def pass_sums(recs: list[dict]) -> dict:
    out = {"total_s": sum(r["wall_s"] for r in recs),
           "cpu_s": sum(r["cpu_s"] for r in recs)}
    for algo in ALGOS:
        out[f"{algo}_s"] = sum(r["wall_s"] for r in recs if r["algo"] == algo)
    return out


def run_untraced(b: Bench, seconds: float) -> dict:
    """Set up SETUP_REPS times (each in a fresh session; the first also
    launches the JVM), run the warm-up pass, then run passes of the
    workload's calls until ``seconds`` have passed."""
    from graphscope_spark import csr

    setups = [b.setup()["setup_s"] for _ in range(SETUP_REPS)]
    log(f"setup_s reps {[round(s, 3) for s in setups]}")
    b.warm_up()
    sums = []
    with probes.Poller(b.spark.sparkContext, b.graph_ids) as poll:
        b.poller = poll
        deadline = time.monotonic() + seconds
        while not sums or time.monotonic() < deadline:
            recs = b.run_pass()
            sums.append(pass_sums(recs))
            log(f"pass {len(sums)}: " + json.dumps({k: round(v, 3) for k, v in sums[-1].items()}))
            log(f"pass {len(sums)} peak cached MB per call: "
                + json.dumps({r["algo"]: round(r["peak_mb"], 2) for r in recs}))
        b.poller = None
    b.num_blocks = csr.default_num_blocks(b.graphs["g"])
    metrics = {"setup_s": (statistics.median(setups), "s")}
    # the per-algorithm walls are logged, not reported: a single call of a
    # few seconds repeats too loosely from run to run on a shared host
    for k, unit in (("total_s", "s"), ("cpu_s", "CPU-s")):
        metrics[k] = (statistics.median(p[k] for p in sums), unit)
    metrics["peak_cached_mb"] = (poll.peak_cached_mb, "MB")
    return metrics


def run_traced(b: Bench) -> dict:
    """Two JVMs in turn, each with one set-up, the warm-up pass and one
    timed pass like the untraced run's: the first untraced (it gives the
    per-algorithm walls); the second with the event log on and a span and
    job group per call, followed by the per-layer probes.
    trace.overhead_s compares the two passes."""
    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (b.setup()["session_s"], "s")
    b.warm_up()
    sums = pass_sums(b.run_pass())
    log("untraced pass: " + json.dumps({k: round(v, 3) for k, v in sums.items()}))
    untraced = sums["total_s"]
    for algo in ALGOS:
        m[f"algo.{algo}.wall_s"] = (sums[f"{algo}_s"], "s")
    b.stop_session()
    shutdown_jvm()

    event_dir = os.path.join(b.tmp, "events")
    ph = b.setup(event_dir)
    sc = b.spark.sparkContext
    m["graph.load_s"] = (ph["load_s"], "s")
    m["graph.build_s"] = (ph["build_s"], "s")
    m["graph.cached_mb"] = (probes.storage_mb(sc), "MB")
    b.warm_up()

    with probes.Poller(sc, b.graph_ids, rss=True) as poll:
        recs = b.run_pass(traced=True)
    b.spans.append({"name": b.wl.name, "parent": None,
                    "start_ms": recs[0]["t0_ms"], "end_ms": recs[-1]["t1_ms"]})
    traced = sum(r["wall_s"] for r in recs)
    log(f"traced pass {traced:.3f} s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    m["proc.peak_rss_mb"] = (poll.peak_rss_mb, "MB")
    m.update(probe_layers(b))
    b.stop_session()  # flushes and closes the event log
    log("probes done")

    (name,) = os.listdir(event_dir)  # one session, one non-rolling log
    with open(os.path.join(event_dir, name)) as f:
        groups = eventlog.parse(f, [s for s in b.spans if s["parent"]])
    for s in b.spans:  # the per-call split, for the spans file
        if s["name"] in groups:
            s["exec"] = {k: v for k, v in groups[s["name"]].items() if k != "intervals"}
    m.update(layer_metrics(recs, groups))
    m["failed_frac"] = (b.failed / b.attempted, "fraction")
    return m


def probe_layers(b: Bench) -> dict:
    """The csr, pregel-checkpoint and skew probes on graph ``g``, run after
    the traced pass. The row-engine PageRank calls among them are checked
    and counted like the timed ones."""
    from graphscope_spark import csr
    from graphscope_spark.operators import skew

    g, wl, m = b.graphs["g"], b.wl.name, {}
    b.group(f"{wl}/csr")
    nb = csr.default_num_blocks(g)
    t0 = time.monotonic()
    spill, _ = csr.spill_csr_blocks_indexed(g, nb, spill_dir=tempfile.mkdtemp(dir=b.tmp))
    m["csr.pack_s"] = (time.monotonic() - t0, "s")
    m["csr.spill_mb"] = (probes.dir_mb(spill), "MB")
    m["csr.num_blocks"] = (nb, "count")
    b.num_blocks = nb
    shutil.rmtree(spill, ignore_errors=True)

    # durable checkpoints: the same call with and without checkpoint_dir,
    # after a first one has paid the row engine's first-call costs
    ckpt = tempfile.mkdtemp(dir=b.tmp)
    b.run_call(workloads.probe_pagerank(), f"{wl}/probe/warm")
    plain = b.run_call(workloads.probe_pagerank(), f"{wl}/probe/plain")
    with_ckpt = b.run_call(workloads.probe_pagerank(checkpoint_dir=ckpt, checkpoint_every=1),
                           f"{wl}/probe/ckpt")
    m["pregel.ckpt_s"] = (with_ckpt["wall_s"] - plain["wall_s"], "s")
    m["pregel.ckpt_mb"] = (probes.dir_mb(ckpt), "MB")

    # the measured-hub sensor, with its edge floor lifted so it measures
    # graphs this small (the hook operators.skew documents for tests); the
    # timed calls may have cached its below-the-floor answer on g
    b.group(f"{wl}/skew")
    floor, skew.SKEW_SENSOR_MIN_EDGES = skew.SKEW_SENSOR_MIN_EDGES, 0
    try:
        g._hub_cache.clear()
        t0 = time.monotonic()
        m["skew.hubs.out"] = (len(g.measured_hubs("out")), "count")
        m["skew.sensor_s"] = (time.monotonic() - t0, "s")
        m["skew.hubs.sym"] = (len(g.measured_hubs("sym")), "count")
    finally:
        skew.SKEW_SENSOR_MIN_EDGES = floor
        g._hub_cache.clear()
    # the salting remedy (HubSaltedEdges over the top out-degree keys),
    # beside the plain call above
    salted = b.run_call(workloads.probe_pagerank(hub_salts=8), f"{wl}/probe/salted")
    m["skew.plain_s"] = (plain["wall_s"], "s")
    m["skew.salted_s"] = (salted["wall_s"], "s")
    return m


def layer_metrics(recs: list[dict], groups: dict) -> dict:
    """Per-layer metrics of a traced pass from its call records and the
    event log's per-span aggregates. A call that raised has no superstep
    samples; a metric with no samples is left out, never an error."""
    m: dict[str, tuple[float, str]] = {}
    ex = dict.fromkeys(("task_s", "cpu_s", "gc_s", "stages", "tasks", "shuffle_write_b",
                        "shuffle_read_b", "arrow_to_python_b", "arrow_from_python_b"), 0)
    gap, straggler, wall = 0.0, 1.0, 0.0
    jobs = dict.fromkeys(ALGOS, 0)
    for r in recs:
        s = groups.get(r["span"], eventlog.new_span())
        for k in ex:
            ex[k] += s[k]
        gap += r["wall_s"] - eventlog.covered_s(s["intervals"], r["t0_ms"], r["t1_ms"])
        straggler = max(straggler, s["straggler"])
        wall += r["wall_s"]
        jobs[r["algo"]] += s["jobs"]
    m["exec.task_s"] = (ex["task_s"], "s")
    m["exec.cpu_s"] = (ex["cpu_s"], "CPU-s")
    m["exec.gc_s"] = (ex["gc_s"], "s")
    m["exec.stages"] = (ex["stages"], "count")
    m["exec.tasks"] = (ex["tasks"], "count")
    if wall > 0:
        m["exec.busy"] = (ex["task_s"] / (wall * CPUS), "fraction")
    m["exec.driver_gap_s"] = (gap, "s")
    m["exec.straggler"] = (straggler, "ratio")
    m["shuffle.write_mb"] = (ex["shuffle_write_b"] / 2**20, "MB")
    m["shuffle.read_mb"] = (ex["shuffle_read_b"] / 2**20, "MB")
    m["arrow.to_python_mb"] = (ex["arrow_to_python_b"] / 2**20, "MB")
    m["arrow.from_python_mb"] = (ex["arrow_from_python_b"] / 2**20, "MB")

    for algo in ALGOS:
        rs = [r for r in recs if r["algo"] == algo]
        wall = sum(r["wall_s"] for r in rs)
        if wall > 0:
            m[f"algo.{algo}.eups"] = (sum(r["edges"] * r["rounds"] for r in rs) / wall, "1/s")
        if algo == "triangles" or not rs:
            continue
        rounds = sum(r["rounds"] for r in rs)
        m[f"pregel.rounds.{algo}"] = (max(r["rounds"] for r in rs), "count")
        if rounds > 0:
            m[f"pregel.jobs_per_round.{algo}"] = (jobs[algo] / rounds, "count")
        steps = [x for r in rs for x in r["step_ms"]]
        if steps:
            m[f"pregel.superstep_ms.{algo}"] = (statistics.median(steps), "ms")
    m["leak.persisted_rdds"] = (sum(r["leak_rdds"] for r in recs), "count")
    m["leak.spill_dirs"] = (sum(r["leak_spills"] for r in recs), "count")
    return m


# --------------------------------------------------------------------- main
def box_record(b: Bench, calib: list[float], steal_s: float, stale: list[str]) -> dict:
    import pyspark

    return {"nproc": os.cpu_count(), "mem_total_gib": round(mem_total_gib(), 2),
            "driver_heap_gb": driver_heap_gb(), "cpus": CPUS,
            "java": b.java, "pyspark": pyspark.__version__,
            "numpy": np.__version__, "python": platform.python_version(),
            "workload": b.wl.name, "seed": b.seed, "graphs": b.sizes,
            "num_blocks": b.num_blocks,
            "host.calib_s": {"before": calib[0], "after": calib[1]},
            "host.steal_s": steal_s, "stale_spill_dirs": stale, "failures": b.failures}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it; the
    next session launches a fresh JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark's Python workers import the engine too: put the checkout on
    # their path so the benchmark runs from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_gb()}g"
    try:
        import graphscope_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program: {e}")
        return 2
    wls = workloads.build()
    if args.workload not in wls:
        log(f"unknown workload {args.workload!r}; choose from {sorted(wls)}")
        return 2

    stale = sorted(probes.spill_dirs())
    if stale:
        log(f"stale spill dirs at start: {stale}")
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    b = Bench(wls[args.workload], args.seed, tmp)
    try:
        calib, steal0 = [probes.calib_s()], probes.host_steal_s()
        b.prepare()
        log("inputs and oracles ready")
        if args.trace:
            metrics = run_traced(b)
            metrics["host.calib_s"] = (calib[0], "s")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{b.wl.name}-seed{b.seed}-spans.json"), "w") as f:
                json.dump(b.spans, f, indent=1)
        else:
            metrics = run_untraced(b, args.seconds)
        b.stop_session()
        calib.append(probes.calib_s())
        box = box_record(b, calib, probes.host_steal_s() - steal0, stale)
        print(json.dumps({"box": box}))
        print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                          "failed": b.failed,
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}), flush=True)
        return 0
    finally:
        try:
            b.stop_session()
        finally:
            shutdown_jvm()
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:  # another run still holds its temp root there
                pass


if __name__ == "__main__":
    sys.exit(main())
