"""The benchmark's workloads: seeded input generators, graph set-up and the
timed calls with their oracles.

Sizes and round counts are set so that one run (JVM launch, three set-ups,
the warm-up pass and one timed pass) takes about 60 s at local[4]: there
every superstep
carries a fixed cost of roughly 0.5-1 s whatever the graph size, so rounds,
not edges, set the length of a pass. perfbench/README.md gives the budget.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles

#: rounds of the timed PageRank and CDLP calls, per workload: CDLP gets
#: more rounds than PageRank because each of its rounds is cheaper, and a
#: timed region of a few seconds repeats too loosely on a shared host
ROUNDS = {"sf-headline": {"pagerank": 3, "cdlp": 6},
          "hub-block": {"pagerank": 3, "cdlp": 4}}
#: rounds of each call's untimed warm-up form (Call.warm)
WARM_ROUNDS = 1
#: rounds of the traced run's extra row-engine PageRank calls (pregel and
#: skew probes)
PROBE_ROUNDS = 2
#: below csr._MIN_BLOCK_EDGES (500k), so the block engines pick B = 1; at
#: 520k (B = 2) a run with the warm-up pass took over 70 s
HUB_BLOCK_EDGES = 260_000
#: TPC-H-shaped tables for sf-headline: rows of orders, and the key ranges
#: of parts, customers and suppliers (lines per order 1-7, quantity 1-50)
TPCH = {"orders": 40_000, "parts": 800, "customers": 4_000, "suppliers": 300}
#: length of the path each generator hangs off the graph's smallest vertex
#: id. Min-label WCC needs one round per hop from that vertex to the
#: farthest one (plus a round that changes nothing); in the random part that
#: distance is 4 or 5 depending on the seed, so without the path the number
#: of WCC rounds, and the work a run times, would change with the seed
TAIL = {"hub-block": 5, "sf-headline": 4}


# --------------------------------------------------------------------- #
# input generators (numpy, seeded; the program only sees the parquet)
# --------------------------------------------------------------------- #


def hub_edges(seed: int, n_edges: int, tail: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Directed edges over V = E/8 ids; 20% of targets fall in the lowest
    1% of ids (hubs). Self-loops and duplicate edges are dropped. Then a
    path of ``tail`` edges over new ids leads away from the smallest id."""
    rng = np.random.default_rng(seed)
    nv = n_edges // 8
    src = rng.integers(0, nv, n_edges)
    hub = rng.random(n_edges) < 0.2
    dst = np.where(hub, rng.integers(0, nv // 100 + 1, n_edges),
                   rng.integers(0, nv, n_edges))
    key = np.unique((src * nv + dst)[src != dst])
    src, dst = key // nv, key % nv
    path = np.concatenate([[min(src.min(), dst.min())], nv + np.arange(tail)])
    return np.concatenate([src, path[:-1]]), np.concatenate([dst, path[1:]])


def tpch_tables(seed: int, out_dir: str, tail: int = 0) -> None:
    """Write ``orders.parquet`` and ``lineitem.parquet`` with the columns
    ``tpch_graphs`` reads. ``tail`` extra orders of two lines each, over new
    part keys, make a path of that length in the co-purchase graph that
    leads away from part 1."""
    rng = np.random.default_rng(seed)
    n, parts = TPCH["orders"], TPCH["parts"]
    okey = np.arange(1, n + tail + 1, dtype=np.int64)
    lines = np.concatenate([rng.integers(1, 8, n), np.full(tail, 2)])
    l_okey = np.repeat(okey, lines)
    m = len(l_okey)
    path = np.concatenate([[1], parts + 1 + np.arange(tail)])
    l_part = rng.integers(1, parts + 1, m)
    l_part[m - 2 * tail:] = np.stack([path[:-1], path[1:]], axis=1).ravel()
    l_qty = rng.integers(1, 51, m).astype(np.float64)
    l_qty[m - 2 * tail:] = 50.0
    pq.write_table(pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, TPCH["customers"] + 1, n + tail),
    }), os.path.join(out_dir, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": l_okey,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(1, TPCH["suppliers"] + 1, m),
        "l_quantity": l_qty,
    }), os.path.join(out_dir, "lineitem.parquet"))


def tpch_oracle_edges(sf_dir: str) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Both sf-headline edge tables, derived by DuckDB with the oracle SQL
    that ``tpch_graphs`` keeps beside its Spark constructions."""
    import duckdb

    from graphscope_spark import tpch_graphs as tg

    con = duckdb.connect()
    try:
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        out = {}
        for name, cte in (("g", tg.COPURCHASE_CTE), ("gd", tg.PURCHASE_CTE)):
            df = con.execute(f"WITH {cte} SELECT src, dst FROM edges").df()
            out[name] = (df["src"].to_numpy(np.int64), df["dst"].to_numpy(np.int64))
        return out
    finally:
        con.close()


# --------------------------------------------------------------------- #
# workloads
# --------------------------------------------------------------------- #


@dataclass
class Call:
    """One timed algorithm call. ``run(g)`` returns a SuperstepResult, a
    DataFrame or an int; ``column`` names the result column the oracle
    checks (None: the result is a scalar). ``exact`` is False for float
    results, compared to a relative 1e-6 per vertex. ``rounds`` tells
    apart calls of one algorithm on one graph whose oracles differ.
    ``warm(g)`` is the same engine on the same graph with WARM_ROUNDS
    rounds (the call itself where there are no rounds)."""

    algo: str
    graph: str
    run: Callable
    column: str | None
    oracle: Callable  # (src, dst, directed) -> (ids, values) or a scalar
    exact: bool = True
    rounds: int | None = None
    #: (g) -> result: the untimed warm-up form of the call (fewer rounds)
    warm: Callable | None = None

    @property
    def key(self) -> tuple:
        """Calls with the same key share one oracle answer."""
        return self.algo, self.graph, self.rounds


@dataclass
class Workload:
    name: str
    make_inputs: Callable[[int, str], dict]  # (seed, dir) -> inputs
    load: Callable  # (spark, inputs) -> {graph name: Graph}, lazy
    calls: list[Call]
    directed: dict[str, bool]


def _hub_inputs(n_edges: int):
    def make(seed: int, d: str) -> dict:
        src, dst = hub_edges(seed, n_edges, TAIL["hub-block"])
        path = os.path.join(d, "edges.parquet")
        pq.write_table(pa.table({"src": src, "dst": dst}), path)
        return {"path": path, "edges": {"g": (src, dst)}}
    return make


def _hub_load(spark, inputs: dict) -> dict:
    from graphscope_spark import Graph

    return {"g": Graph(spark.read.parquet(inputs["path"]), directed=True)}


def _sf_inputs(seed: int, d: str) -> dict:
    tpch_tables(seed, d, TAIL["sf-headline"])
    return {"sf_dir": d, "edges": tpch_oracle_edges(d)}


def _sf_load(spark, inputs: dict) -> dict:
    from graphscope_spark import tpch_graphs as tg

    # the module memoizes graphs per (kind, dir) for its gate queries; each
    # set-up here starts a fresh session, so the memo must not hand back a
    # graph of the stopped one
    tg._GRAPH_MEMO.clear()
    d = inputs["sf_dir"]
    return {"g": tg.copurchase_graph(spark, d), "gd": tg.purchase_graph(spark, d)}


def _pr(engine, rounds, graph="g"):
    """``engine(g, max_iter)`` on graph ``graph``."""
    return Call("pagerank", graph, lambda g: engine(g, max_iter=rounds), "rank",
                lambda s, d, directed: oracles.pagerank(s, d, rounds), exact=False,
                rounds=rounds, warm=lambda g: engine(g, max_iter=WARM_ROUNDS))


def probe_pagerank(**kwargs) -> Call:
    """A row-engine ``pagerank(g, max_iter=PROBE_ROUNDS, **kwargs)`` call on
    graph ``g``, checked like the timed ones."""
    from graphscope_spark.algorithms import pagerank

    return _pr(lambda g, max_iter: pagerank(g, max_iter=max_iter, **kwargs), PROBE_ROUNDS)


def _wcc(engine):
    """``engine(g)``, run to its fixpoint."""
    return Call("wcc", "g", engine, "comp", lambda s, d, directed: oracles.wcc(s, d),
                warm=lambda g: engine(g, max_iter=WARM_ROUNDS))


def _cdlp(engine, rounds):
    """``engine(g, max_iter)``."""
    return Call("cdlp", "g", lambda g: engine(g, max_iter=rounds), "label",
                lambda s, d, directed: oracles.cdlp(s, d, rounds, directed),
                rounds=rounds, warm=lambda g: engine(g, max_iter=WARM_ROUNDS))


def _tri(engine, column="tri"):
    if column is None:
        return Call("triangles", "g", engine, None,
                    lambda s, d, directed: int(oracles.triangles(s, d)[1].sum()) // 3)
    return Call("triangles", "g", engine, column,
                lambda s, d, directed: oracles.triangles(s, d))


def build() -> dict[str, Workload]:
    from graphscope_spark.algorithms import (
        cdlp, cdlp_block, pagerank, pagerank_block, triangle_count, triangles,
        wcc, wcc_block,
    )

    r = ROUNDS["sf-headline"]
    sf = Workload(
        "sf-headline", _sf_inputs, _sf_load,
        [_pr(pagerank, r["pagerank"]),
         _pr(pagerank, r["pagerank"], graph="gd"),
         _wcc(wcc),
         _cdlp(cdlp, r["cdlp"]),
         _tri(lambda g: triangles(g))],
        {"g": False, "gd": True},
    )
    r = ROUNDS["hub-block"]
    block = Workload(
        "hub-block", _hub_inputs(HUB_BLOCK_EDGES), _hub_load,
        [_pr(pagerank_block, r["pagerank"]),
         _wcc(wcc_block),
         _cdlp(cdlp_block, r["cdlp"]),
         _tri(lambda g: triangle_count(g, engine="block"), column=None)],
        {"g": True},
    )
    return {w.name: w for w in (sf, block)}
