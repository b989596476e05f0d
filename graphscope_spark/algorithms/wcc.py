"""Weakly connected components — min-label propagation with a frontier.

Reference semantics (gs::WCCProjected,
analytical_engine/apps/projected/wcc_projected.h:62-183): every vertex
starts labeled with its own id (:76-81); each round takes the min label over
neighbors in BOTH edge directions, tracking a modified-vertex frontier
(:83-121,140-166); terminates when no label changes. Component id therefore
converges to the minimum vertex id reachable in the underlying undirected
graph.

Spark dataflow per round: messages from the *changed frontier only* (the
curr_modified/next_modified DenseVertexSets of :58-59 become a boolean
``changed`` column) along both directions → groupBy(id).min → keep-smaller
join; one scalar count action = the termination vote. Shuffle volume is
proportional to the frontier, not the graph — same property the reference's
frontier sets buy it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph, materialized_checkpoint
from graphscope_spark.pregel import (
    SuperstepResult, SuperstepRunner, choose_engine,
)


def wcc(
    g: Graph,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    run_id: str | None = None,
    resume: bool = False,
    hub_salts: int = 0,
    hub_top_n: int = 16,
    hub_isolate: bool = False,
    skew: str | None = "auto",
    engine: str = "auto",
    spill_dir: str | None = None,
) -> SuperstepResult:
    """Returns state ``(id: long, comp: long, changed: boolean)``; ``comp``
    is the min reachable vertex id. Callers typically select(id, comp).

    ``engine``: ``"block"`` = :func:`wcc_block` (with ``max_iter`` and
    ``spill_dir``), ``"join"`` = the row-join engine below, ``"auto"``
    (default) = the block engine unless the call needs the join engine —
    ``checkpoint_dir``, ``resume``, ``run_id``, ``hub_salts > 1`` or
    ``hub_isolate`` — or the executors may run on other hosts (a master
    other than ``local[...]`` / ``local-cluster[...]``) and no shared
    ``spill_dir`` was given, or the vertex table misses an edge endpoint
    (pregel.choose_engine). Both engines return identical rows;
    ``skew`` and ``hub_top_n`` shape only the join plan.

    ``skew="auto"`` (default): measure the hub set once (operators/skew.py
    measured_hub_keys — one count + top-n agg) and, when any key's edge
    block exceeds a partition's fair share, SALT those hubs' blocks.
    Salting — not isolation — is the right remedy for a min-combiner: the
    map-side partial min already collapses hub-destination traffic, so
    the remaining cost is the straggler task owning the hub's source
    block, which only a salt spreads (measured on the 20M skewed bench
    input: plain 83.1 s = isolate 83.1 s with a 106.7 s worst task vs
    salted 63.4 s; see operators/skew.py module docs). On uniform inputs
    the measured hub set is empty and the plan stays plain. Min is
    order-independent, so every variant is bit-identical. Pass
    ``skew=None`` to disable the sensor.

    ``hub_salts > 1``: force-salt the top ``hub_top_n`` hubs
    (operators/skew.py HubSaltedEdges). ``hub_isolate=True``:
    broadcast-isolate MEASURED hubs instead (HubIsolatedEdges) — kept for
    the bench matrix; the sum-combiner remedy, not the right default
    here."""
    if choose_engine(
        g, engine, spill_dir, checkpoint_dir=checkpoint_dir, resume=resume,
        run_id=run_id, hub_salts=hub_salts > 1, hub_isolate=hub_isolate,
    ) == "block":
        return wcc_block(g, max_iter=max_iter, spill_dir=spill_dir)
    spark = g.spark
    # both directions, symmetrized ONCE outside the loop — weak
    # connectivity ignores orientation (wcc_projected.h:92-106 iterates
    # out- then in-adjacency; one pre-built union table costs one join per
    # round instead of two).
    e = g.out_edges.select("src", "dst")
    if g.directed:
        both = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        # undirected Graphs store the edge list bidirectionally already
        # (to_undirected / copurchase convention) — re-symmetrizing would
        # double per-round message volume (min-agg keeps it correct but
        # wastes half the shuffle).
        both = e
    salted = None
    if hub_isolate:
        from graphscope_spark.operators.skew import HubIsolatedEdges

        # hub set over the symmetrized table: catches in- AND out-hubs
        salted = HubIsolatedEdges(
            both, key="src", top_n=hub_top_n,
            num_partitions=g.num_partitions,
        )
    elif hub_salts > 1:
        from graphscope_spark.operators.skew import HubSaltedEdges

        # hub set over the symmetrized table: catches in- AND out-hubs
        salted = HubSaltedEdges(
            both, key="src", n_salts=hub_salts, top_n=hub_top_n,
            num_partitions=g.num_partitions,
        )
    elif skew == "auto":
        from graphscope_spark.operators.skew import HubSaltedEdges

        # measured-skew auto policy (module docs in operators/skew.py):
        # min-combiner → salt, and only when a hub block exceeds a
        # partition's share; empty hub set (or a graph below the sensor
        # floor) → plain path below. The hub set comes from the CACHED
        # degree-derived sensor (Graph.measured_hubs, mode="sym": the
        # symmetrized table's block per key is out_deg+in_deg when
        # directed, out_deg on bidirectionally-stored undirected Graphs)
        # — no per-call edge aggregation.
        hubs = g.measured_hubs("sym", top_n=hub_top_n)
        if hubs:
            salted = HubSaltedEdges(
                both, key="src", n_salts=8, top_n=hub_top_n,
                num_partitions=g.num_partitions, hub_keys=hubs,
            )
    if salted is None:
        both = both.repartition(g.num_partitions, "src").persist()

    init = g.vertices.select(
        "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
    )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        frontier = state.filter("changed").select(
            F.col("id").alias("src"), "comp"
        )
        sent = (
            salted.message_join(frontier)
            if salted is not None
            else both.join(frontier, "src")
        )
        mins = (
            sent.groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("cand"))
        )
        return (
            state.select("id", "comp")
            .join(mins, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("cand"), F.col("comp")))
                .alias("comp"),
                (F.coalesce(F.col("cand"), F.col("comp")) < F.col("comp"))
                .alias("changed"),
            )
        )

    def metrics_fn(prev: DataFrame, new: DataFrame, rnd: int) -> dict:
        active = new.filter("changed").count()
        return {"frontier": int(active)}

    def should_stop(m: dict) -> bool:
        return m["frontier"] == 0

    runner = SuperstepRunner(
        spark,
        name="wcc",
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
    )
    # min-label propagation is monotone — rounds past convergence are
    # no-ops, so the termination vote runs every 2 rounds (check_every)
    res = runner.run(init, step, max_iter, metrics_fn=metrics_fn,
                     should_stop=should_stop, resume=resume, check_every=2)
    if salted is not None:
        salted.unpersist()
    else:
        both.unpersist()
    return res


def wcc_block(
    g: Graph,
    max_iter: int = 200,
    num_blocks: int | None = None,
    spill_dir: str | None = None,
) -> SuperstepResult:
    """WCC over hash-partitioned CSR blocks — identical semantics (and
    fixpoint) to :func:`wcc`, alternative physical plan on the block
    skeleton (pregel.run_block_program; see pagerank_block).

    A block's state is its component labels (int64) and last-round
    change mask aligned with the spilled sorted vertex ids — Θ(V_b)·9
    bytes, never row-shaped. A round is one grouped pass per block: merge
    the inbox's per-destination label minima and keep the smaller label,
    then scatter the changed subset's minima over the mmap'd symmetric
    adjacency (direction 'both' — the neighbor multiset of
    wcc_projected.h:92-106) as ≤B packed buffers. The frontier size is
    the round's vote; the run stops after the first round that changes
    no label."""
    import numpy as np
    import pandas as pd

    from graphscope_spark import csr as csrmod
    from graphscope_spark.pregel import BlockProgram, run_block_program

    if g.num_vertices == 0:
        empty = g.spark.createDataFrame([], "id long, comp long, changed boolean")
        return SuperstepResult(state=empty, rounds=0, metrics=[])

    def init(bk):
        changed = np.ones(bk.vids.size, bool)
        return ({"comps": bk.vids, "changed": changed},
                {"frontier": float(bk.vids.size)})

    def scatter(bk, state):
        mask = state["changed"]
        if not mask.any():
            return []
        per_edge, inv_m, _ = csrmod._frontier_edges(
            bk.csr, bk.vids[mask], state["comps"][mask])
        if inv_m.size == 0:
            return []
        sel, mins = csrmod._group_min(inv_m, per_edge)
        return csrmod._emit_packed(bk.blk, bk.csr["bounds"], bk.csr["uniq"],
                                   sel, {"mins": mins})

    def apply(bk, state, inbox, totals):
        comps = state["comps"]
        new = comps.copy()
        mids, mmins = csrmod.merge_packed_min(inbox)
        pos = csrmod.vertex_slots(bk.vids, mids)
        # mids are unique (merge_packed_min dedups) → plain fancy min
        new[pos] = np.minimum(new[pos], mmins)
        changed = new < comps
        return ({"comps": new, "changed": changed},
                {"frontier": float(changed.sum())})

    def unpack(bk, state):
        return pd.DataFrame({"id": bk.vids, "comp": state["comps"],
                             "changed": state["changed"]})

    prog = BlockProgram(
        state={"comps": np.int64, "changed": np.bool_},
        messages=("ids", "mins"),
        init=init, apply=apply, scatter=scatter, unpack=unpack,
        unpack_schema="id long, comp long, changed boolean",
        votes=("frontier",), should_stop=lambda t: t["frontier"] == 0,
    )
    return run_block_program(g, prog, g.vertices.select("id"), max_iter,
                             num_blocks=num_blocks, direction="both",
                             spill_dir=spill_dir)


def cc_log(g: Graph, max_iter: int = 64) -> DataFrame:
    """(id, comp) — connected components in O(log n) rounds via hooking +
    pointer jumping (flash/connectivity/cc-log.h:57-135, the FLASH
    Shiloach–Vishkin app: min-neighbor hook, then jump(A) shortcuts
    ``v.p = GetV(v.p)->p`` until stars).

    Identical output to :func:`wcc` (comp = min reachable vertex id), but
    round count scales with log(diameter) instead of diameter: each round
    is one hook (min neighbor-label exchange — the same one-shuffle message
    pattern as a wcc round) followed by two pointer jumps (self-joins on
    the vertex-sized label table). Use for high-diameter graphs — e.g. the
    Tarjan–Vishkin auxiliary graph, whose path-like blocks make plain
    min-label propagation take Θ(block length) rounds.

    Invariant: comp(v) is always the id of a vertex in v's component and
    only decreases; at the hook fixpoint comps are constant across every
    edge, hence equal to the component minimum.
    """
    e = g.out_edges.select("src", "dst")
    if g.directed:
        both = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        both = e
    both = both.repartition(g.num_partitions, "src").persist()

    # the round state is SELF-joined (hook reads comp twice, each jump is a
    # comp⋈comp) — materialized_checkpoint keeps stats bounded (see its
    # docstring for the failure mode a bare localCheckpoint has here)
    comp = materialized_checkpoint(
        g.vertices.select("id", F.col("id").alias("comp"))
    )
    for _ in range(max_iter):
        # hook: comp(v) ← min(comp(v), min over neighbors of comp(u))
        mins = (
            both.join(comp.select(F.col("id").alias("src"), "comp"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("cand"))
        )
        hooked = (
            comp.join(mins, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("cand"), F.col("comp")))
                .alias("comp"),
                (F.coalesce(F.col("cand"), F.col("comp")) < F.col("comp"))
                .alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = hooked.filter("_chg").limit(1).count()
        prev = comp
        comp = hooked.select("id", "comp")
        if changed == 0:
            break
        # two pointer jumps: comp ← comp[comp] (cc-log.h jump(A))
        for _ in range(2):
            comp = (
                comp.join(
                    comp.select(F.col("id").alias("comp"),
                                F.col("comp").alias("_cc")),
                    "comp", "left",
                )
                .select("id", F.coalesce(F.col("_cc"), F.col("comp"))
                        .alias("comp"))
            )
        comp = materialized_checkpoint(comp)
        prev.unpersist()
    both.unpersist()
    return comp
