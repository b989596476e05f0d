#!/usr/bin/env python
"""Skew benchmark — measures the hub-salting win at bench scale.

The static-plan skew regime (operators/skew.py): the per-superstep message
join streams the edge table from a cache partitioned by src, so a hub
vertex's whole adjacency is ONE task per round and AQE cannot split it.
This script generates a deterministic power-law-ish link graph whose top
hubs hold a partition-dwarfing share of the edges (hub0 20%, hub1 8%,
hub2 4%, hub3 2% — the classic web super-node shape) plus a uniform
control graph, and runs pagerank / wcc with and without
``hub_salts`` in separate JVMs. The claim under test:

  * skewed graph:  salted wall < plain wall (straggler task split), and
  * uniform graph: salted ≈ plain (the salt must not hurt balanced inputs).

Each leg reports wall, busy fraction, and the max/mean task-time ratio of
the heaviest stage (the straggler signature). Appends JSON rows to
BENCH/skew_runs.jsonl; the summary table goes into BENCH/BASELINE.md by
hand (see §Skew there).

Usage: python scripts/skew_bench.py [--edges 20000000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from graphscope_spark.session import get_spark
from graphscope_spark.graph import Graph
from graphscope_spark.algorithms import pagerank, wcc

cpus = {cpus}
n_edges = {n_edges}
nv = n_edges // 8
rounds = {rounds}
spark = get_spark("skew_bench", cpus=cpus, shuffle_partitions=cpus,
                  extra_conf={{"spark.local.dir": "/dev/shm/spark-tmp",
                               "spark.ui.enabled": "true",
                               "spark.ui.port": "0"}})

base = spark.range(n_edges)
h = F.xxhash64(F.col("id"))
h2 = F.xxhash64(F.col("id"), F.lit(1))
if {skewed}:
    # power-law head: hub vertex 0 holds 20% of ALL edges as src, hub 1
    # holds 8%, hub 2 4%, hub 3 2% (a web super-node head); the 66% tail
    # is uniform. At P=cpus partitions the top hub's block is ~{pct}x the
    # average partition — the static-plan straggler this bench exists to
    # show (AQE cannot split it: the edge side streams from a cache).
    r = F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(100))
    src = (F.when(r < 20, F.lit(0))
            .when(r < 28, F.lit(1))
            .when(r < 32, F.lit(2))
            .when(r < 34, F.lit(3))
            .otherwise(F.pmod(h, F.lit(nv))))
else:
    src = F.pmod(h, F.lit(nv))
edges = base.select(src.alias("src"), F.pmod(h2, F.lit(nv)).alias("dst"))
g = Graph(edges, directed=True)
g.num_edges; g.num_vertices; g.degrees.count()  # warm caches pre-timer

def stages():
    import urllib.request
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{{base}}/api/v1/applications/{{app_id}}/stages?status=complete"
    ) as r:
        return json.load(r)

def totals(ss):
    return sum(s.get("executorRunTime", 0) for s in ss) / 1e3

before = stages()
seen = {{s["stageId"] for s in before}}
t0 = time.monotonic()
mode = "{mode}"
# every leg is the row-join engine, whose plans the skew remedies shape
if mode == "isolate":
    kw = dict(hub_isolate=True, skew=None, engine="join")
elif mode == "auto":
    kw = dict(skew="auto", engine="join")  # the measured-skew policy
else:
    # salts=0 is the PLAIN leg — pin skew=None so the auto policy
    # (now the default) doesn't silently turn the plain leg into a
    # remedied one
    kw = dict(hub_salts={salts}, skew=None, engine="join")
if "{algo}" == "pagerank":
    res = pagerank(g, alpha=0.85, max_iter=rounds, **kw)
else:
    res = wcc(g, max_iter=rounds, **kw)
res.state.write.format("noop").mode("overwrite").save()
wall = time.monotonic() - t0
after = stages()
task_s = totals(after) - totals(before)
# straggler signature: max/mean task time of the heaviest NEW stage
import urllib.request
base_url = spark.sparkContext.uiWebUrl
app_id = spark.sparkContext.applicationId
worst = 0.0
for s in after:
    if s["stageId"] in seen or s.get("numCompleteTasks", 0) < 2:
        continue
    with urllib.request.urlopen(
        f"{{base_url}}/api/v1/applications/{{app_id}}/stages/"
        f"{{s['stageId']}}/{{s['attemptId']}}/taskSummary"
        "?quantiles=0.0,0.5,1.0"
    ) as r:
        q = json.load(r)
    med, mx = q["executorRunTime"][1], q["executorRunTime"][2]
    if med > 50 and mx / max(med, 1e-9) > worst:
        worst = mx / med
print(json.dumps({{"wall_s": round(wall, 3),
                   "task_seconds": round(task_s, 3),
                   "busy_frac": round(task_s / (wall * cpus), 3),
                   "worst_stage_max_over_median_task": round(worst, 2),
                   "eups": round(n_edges * rounds / wall, 1)}}))
spark.stop()
"""


def run_leg(algo: str, skewed: bool, salts: int, n_edges: int, cpus: int,
            rounds: int, mode: str = "salt") -> dict:
    code = WORKER.format(repo=REPO, cpus=cpus, n_edges=n_edges,
                         rounds=rounds, skewed=skewed, salts=salts,
                         algo=algo, mode=mode, pct=round(0.20 * cpus, 1))
    env = dict(os.environ)
    env.pop("SPARK_TEST_CPUS", None)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, cwd=REPO)
    if out.returncode != 0:
        print(out.stderr[-4000:], file=sys.stderr)
        raise SystemExit(f"leg failed: {algo} skewed={skewed} salts={salts}")
    row = json.loads(out.stdout.strip().splitlines()[-1])
    row.update({"algo": algo, "skewed": skewed, "hub_salts": salts,
                "edges": n_edges, "cpus": cpus, "rounds": rounds,
                "mode": mode})
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=20_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--modes", default="plain,salt,isolate,auto",
                    help="comma list of plain/salt/isolate/auto legs to run "
                    "(auto = no-flags default, the measured-skew policy)")
    args = ap.parse_args()
    wanted = set(args.modes.split(","))
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)

    rows = []
    for algo in ("pagerank", "wcc"):
        for skewed in (True, False):
            legs = [("plain", 0), ("salt", args.salts), ("isolate", 0),
                    ("auto", 0)]
            for mode, salts in legs:
                if mode not in wanted:
                    continue
                if mode == "plain":
                    mode, salts = "salt", 0  # salts=0 → plain join path
                row = run_leg(algo, skewed, salts, args.edges, args.cpus,
                              args.rounds, mode=mode)
                rows.append(row)
                print(json.dumps(row))
    with open(os.path.join(REPO, "BENCH", "skew_runs.jsonl"), "a") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")


if __name__ == "__main__":
    main()
