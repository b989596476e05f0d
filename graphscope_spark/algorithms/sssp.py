"""SSSP / BFS — frontier-driven shortest paths on the superstep kernel.

Reference semantics:
* SSSP (`sssp` app → grape::SSSPOpt; property variant
  analytical_engine/apps/property/sssp_property.h): single source, double
  edge weights, iterative relaxation until no distance improves;
  unreachable vertices keep +inf (reported as a missing/∞ value).
* BFS (`bfs` app → libgrape-lite BFS; apps/bfs/bfs_generic.h): level =
  hop distance from source; equivalent to SSSP with unit weights.
* sssp_average_length (apps/sssp/sssp_average_length.h): avg over reached
  pairs; sssp_has_path (apps/sssp/sssp_has_path.h): reachability predicate.

Spark dataflow per round = relax from the changed frontier only:
``frontier ⋈ edges → groupBy(dst).min(dist+w)`` then keep-smaller join —
one shuffle per round, volume ∝ frontier (the reference's curr/next
modified sets). Termination = empty frontier (scalar count action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.pregel import (
    SuperstepResult, SuperstepRunner, choose_engine,
)


def sssp(
    g: Graph,
    source: int,
    weight_col: str | None = None,
    max_iter: int = 10_000,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    run_id: str | None = None,
    resume: bool = False,
    init_state: DataFrame | None = None,
    skew: str | None = "auto",
    engine: str = "auto",
    spill_dir: str | None = None,
) -> SuperstepResult:
    """Returns state ``(id, dist, changed)``; ``dist`` is NULL for
    unreachable vertices (the reference prints ∞/max — NULL is our
    relational spelling, filter or fillna at the edge).

    ``engine``: ``"block"`` = :func:`sssp_block` (with ``source``,
    ``weight_col``, ``max_iter`` and ``spill_dir``), ``"join"`` = the
    row-join engine below, ``"auto"`` (default) = the block engine unless
    the call needs the join engine — ``checkpoint_dir``, ``resume``,
    ``run_id`` or ``init_state`` — or the executors may run on other
    hosts (a master other than ``local[...]`` / ``local-cluster[...]``)
    and no shared ``spill_dir`` was given, or the vertex table misses an
    edge endpoint (pregel.choose_engine). Both engines return identical
    rows; ``skew`` shapes only the join plan.

    ``skew="auto"`` (default): when the measured hub set is non-empty
    (operators/skew.py measured_hub_keys — a source's edge block exceeds
    a partition's fair share), SALT those hubs' blocks: the min-combiner
    remedy of the policy table in operators/skew.py (the map-side partial
    min collapses hub-destination traffic; the straggler that remains is
    the task owning the hub's source block, which only a salt spreads).
    Float min is order-free, so the salted run is bit-identical. Empty
    hub set (uniform input) → plain path, no re-key. ``skew=None``
    disables the sensor.

    ``weight_col=None`` gives unit weights — which *is* BFS levels.

    ``init_state`` ((id, dist, changed), any subset of vertices)
    warm-starts the relaxation — the PIE IncEval pattern for edge
    INSERTIONS: distances from the previous fixpoint stay valid upper
    bounds, so re-relaxing only from the ``changed`` seed frontier
    reconverges in rounds proportional to the perturbation's reach, not
    the graph diameter. Vertices absent from init_state start unreached;
    the source is re-pinned to 0 (and seeded into the frontier if it was
    previously unreached) regardless of what init_state says, so a
    late-arriving source still triggers a full solve.
    """
    if choose_engine(
        g, engine, spill_dir, checkpoint_dir=checkpoint_dir, resume=resume,
        run_id=run_id, init_state=init_state is not None,
    ) == "block":
        return sssp_block(g, source, weight_col=weight_col,
                          max_iter=max_iter, spill_dir=spill_dir)
    spark = g.spark
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # undirected Graphs ALWAYS store both directions (graph.py canonicalizes
    # at construction) — re-symmetrizing here would double per-round message
    # volume (min-agg keeps it correct but wastes half the shuffle).
    edges = g.out_edges.select("src", "dst", w.alias("w"))
    salted = None
    if skew == "auto":
        from graphscope_spark.operators.skew import HubSaltedEdges

        # min-combiner → salt (operators/skew.py policy table); empty
        # measured hub set on uniform inputs (or a graph below the
        # sensor floor) → plain path, no re-key. Hub set from the CACHED
        # degree-derived sensor (Graph.measured_hubs) — no per-call edge
        # aggregation.
        hubs = g.measured_hubs("out")
        if hubs:
            salted = HubSaltedEdges(
                edges, key="src", n_salts=8,
                num_partitions=g.num_partitions, hub_keys=hubs,
            )

    init = g.vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    )
    if init_state is not None:
        init = (
            g.vertices.select("id")
            .join(init_state.select("id", F.col("dist").alias("_d"),
                                    F.col("changed").alias("_c")),
                  "id", "left")
            .select(
                "id",
                F.when(F.col("id") == source, F.lit(0.0))
                 .otherwise(F.col("_d")).alias("dist"),
                (
                    F.coalesce(F.col("_c"), F.lit(False))
                    | ((F.col("id") == source) & F.col("_d").isNull())
                ).alias("changed"),
            )
        )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        frontier = state.filter("changed").select("id", "dist")
        fr = frontier.withColumnRenamed("id", "src")
        sent = (
            salted.message_join(fr)
            if salted is not None
            else edges.join(fr, "src")
        )
        relaxed = (
            sent.groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return (
            state.select("id", "dist")
            .join(relaxed, "id", "left")
            .select(
                "id",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(float("inf"))),
                    F.coalesce(F.col("cand"), F.lit(float("inf"))),
                ).alias("ndist"),
                (
                    F.col("cand").isNotNull()
                    & (F.col("cand") < F.coalesce(F.col("dist"), F.lit(float("inf"))))
                ).alias("changed"),
            )
            .select(
                "id",
                F.when(F.col("ndist") != float("inf"), F.col("ndist")).alias("dist"),
                "changed",
            )
            .repartition(g.num_partitions, "id")
        )

    def metrics_fn(prev: DataFrame, new: DataFrame, rnd: int) -> dict:
        return {"frontier": int(new.filter("changed").count())}

    runner = SuperstepRunner(
        spark, name="sssp", checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every, run_id=run_id,
    )
    # distance relaxation is monotone — rounds past convergence are no-ops,
    # so the termination vote runs every 2 rounds (pregel.py check_every)
    res = runner.run(init, step, max_iter, metrics_fn=metrics_fn,
                     should_stop=lambda m: m["frontier"] == 0, resume=resume,
                     check_every=2)
    if salted is not None:
        salted.unpersist()
    return res


def sssp_block(
    g: Graph,
    source: int,
    weight_col: str | None = None,
    max_iter: int = 10_000,
    num_blocks: int | None = None,
    spill_dir: str | None = None,
) -> SuperstepResult:
    """SSSP over hash-partitioned weighted CSR blocks — identical
    semantics AND bit-identical fixpoint to :func:`sssp` (each relax
    candidate is the same two-operand double add, and float min is
    order-free), alternative physical plan on the block skeleton
    (pregel.run_block_program; see pagerank_block).

    A block's state is its distances (float64, +inf = unreached) and
    last-round change mask, packed and aligned with the spilled sorted
    vertex ids. A round is one grouped pass per block: keep the smaller
    of each distance and the inbox's per-destination candidate minimum,
    then relax the changed subset over the mmap'd weighted adjacency
    (dist(u)+w, the relax + min combiner of grape SSSPOpt) and ship the
    per-destination minima as ≤B packed (ids, mins) buffers. The
    frontier size is the round's vote; the run stops after the first
    round that improves no distance. Returns state ``(id, dist,
    changed)`` with NULL dist for unreachable vertices — the same surface
    as :func:`sssp`."""
    import numpy as np
    import pandas as pd

    from graphscope_spark import csr as csrmod
    from graphscope_spark.csr import merge_packed_fmin
    from graphscope_spark.pregel import BlockProgram, run_block_program

    if g.num_vertices == 0:
        empty = g.spark.createDataFrame([], "id long, dist double, changed boolean")
        return SuperstepResult(state=empty, rounds=0, metrics=[])

    def init(bk):
        changed = bk.vids == source
        # +inf spells "unreachable" inside the loop (NaN would poison
        # numpy mins); the unpack turns it into NULL
        dists = np.where(changed, 0.0, np.inf)
        return ({"dists": dists, "changed": changed},
                {"frontier": float(changed.sum())})

    def scatter(bk, state):
        mask = state["changed"]
        if not mask.any():
            return []
        dist_e, inv_m, emask = csrmod._frontier_edges(
            bk.csr, bk.vids[mask], state["dists"][mask])
        if inv_m.size == 0:
            return []
        ws = bk.csr.get("ws")
        if ws is None:  # packed without weight_col → unit weights (BFS)
            cand = dist_e + 1.0
        else:
            ws = np.asarray(ws)
            cand = dist_e + (ws if emask is None else ws[emask])
        sel, mins = csrmod._group_min(inv_m, cand)
        return csrmod._emit_packed(bk.blk, bk.csr["bounds"], bk.csr["uniq"],
                                   sel, {"mins": mins})

    def apply(bk, state, inbox, totals):
        dists = state["dists"]
        new = dists.copy()
        mids, mmins = merge_packed_fmin(inbox)
        pos = csrmod.vertex_slots(bk.vids, mids)
        new[pos] = np.minimum(new[pos], mmins)
        changed = new < dists
        return ({"dists": new, "changed": changed},
                {"frontier": float(changed.sum())})

    def unpack(bk, state):
        # NaN crosses Arrow as NULL
        dist = np.where(np.isinf(state["dists"]), np.nan, state["dists"])
        return pd.DataFrame({"id": bk.vids, "dist": dist,
                             "changed": state["changed"]})

    prog = BlockProgram(
        state={"dists": np.float64, "changed": np.bool_},
        messages=("ids", "mins"),
        init=init, apply=apply, scatter=scatter, unpack=unpack,
        unpack_schema="id long, dist double, changed boolean",
        votes=("frontier",), should_stop=lambda t: t["frontier"] == 0,
    )
    return run_block_program(g, prog, g.vertices.select("id"), max_iter,
                             num_blocks=num_blocks, weight_col=weight_col,
                             spill_dir=spill_dir)


def bfs(g: Graph, source: int, **kw) -> SuperstepResult:
    """BFS levels (apps/bfs/bfs_generic.h output_format='level'): unit-weight
    SSSP; state ``(id, dist)`` where dist = hop count, NULL = unreachable."""
    return sssp(g, source, weight_col=None, **kw)


def sssp_has_path(g: Graph, source: int, target: int) -> bool:
    """apps/sssp/sssp_has_path.h — reachability predicate."""
    res = sssp(g, source)
    return (
        res.state.filter((F.col("id") == target) & F.col("dist").isNotNull())
        .limit(1).count() > 0
    )


def sssp_average_length(g: Graph, source: int) -> float:
    """apps/sssp/sssp_average_length.h (single-source form): mean distance
    over reached vertices EXCLUDING the source itself — the reference
    averages over ordered pairs (sum / n(n-1), sssp_average_length.h:164),
    i.e. never counts a self-distance of 0; this single-source surface
    applies the same exclusion (denominator = reached vertices − source)."""
    res = sssp(g, source)
    return float(
        res.state.filter(F.col("id") != source).agg(F.avg("dist")).first()[0]
    )


def sssp_path(
    g: Graph,
    source: int,
    weight_col: str | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """SSSP with predecessor tracking (apps/sssp/sssp_path.h:1-174):
    state ``(id, dist, parent)``; parent = the neighbor the shortest path
    arrives from, ties broken by minimum parent id (the reference documents
    diamond-tie nondeterminism, app_tests.sh:349-356 — we pin the min-id
    choice so results are reproducible). Path reconstruction = walking
    ``parent`` (driver-side or via iterative self-join)."""
    spark = g.spark
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # undirected Graphs already store both directions (graph.py
    # canonicalizes at construction) — no re-symmetrization needed.
    edges = g.out_edges.select("src", "dst", w.alias("w"))

    init = g.vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).alias("dist"),
        F.lit(None).cast("long").alias("parent"),
        (F.col("id") == source).alias("changed"),
    )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        frontier = state.filter("changed").select("id", "dist")
        relaxed = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.min(
                    F.struct(
                        (F.col("dist") + F.col("w")).alias("d"),
                        F.col("src").alias("parent"),
                    )
                ).alias("cand")
            )
        )
        better = (
            F.col("cand").isNotNull()
            & (F.col("cand.d") < F.coalesce(F.col("dist"), F.lit(float("inf"))))
        )
        return (
            state.select("id", "dist", "parent")
            .join(relaxed, "id", "left")
            .select(
                "id",
                F.when(better, F.col("cand.d")).otherwise(F.col("dist")).alias("dist"),
                F.when(better, F.col("cand.parent")).otherwise(F.col("parent"))
                .alias("parent"),
                better.alias("changed"),
            )
        )

    def metrics_fn(prev: DataFrame, new: DataFrame, rnd: int) -> dict:
        return {"frontier": int(new.filter("changed").count())}

    runner = SuperstepRunner(spark, name="sssp_path")
    return runner.run(init, step, max_iter, metrics_fn=metrics_fn,
                      should_stop=lambda m: m["frontier"] == 0)


def sssp_delta_stepping(
    g: Graph,
    source: int,
    delta: float | None = None,
    weight_col: str | None = None,
    max_buckets: int = 10_000,
    max_inner: int = 200,
) -> DataFrame:
    """Delta-stepping SSSP (flash/traversal/sssp-dlt-step.h — Meyer &
    Sanders' Δ-stepping): process vertices in distance buckets of width Δ;
    relax LIGHT edges (w ≤ Δ) out of the active bucket to a fixpoint, then
    relax HEAVY edges once and advance to the next non-empty bucket.

    Converges to exactly the distances of :func:`sssp` (scheduling
    strategy, not different semantics). The scale property it buys: each
    superstep's frontier is ONE bucket, so shuffle volume per round is
    bounded by the bucket population instead of the whole changed set —
    the right trade when weights are heterogeneous and the plain frontier
    explodes. Returns ``(id, dist)`` with NULL for unreachable.

    Correctness of settling (why settled vertices are never re-relaxed):
    a vertex settled in bucket j has dist < (j+1)Δ ≤ kΔ for every later
    bucket k; any relaxation out of bucket k yields ≥ kΔ + w > kΔ, so it
    cannot improve — positive weights required, as in the reference.
    """
    from graphscope_spark.graph import materialized_checkpoint

    inf = float("inf")
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    edges = g.out_edges.select("src", "dst", w.alias("w")).persist()
    if delta is None:
        delta = float(edges.agg(F.avg("w")).first()[0] or 1.0)
    light = edges.filter(F.col("w") <= delta).persist()
    heavy = edges.filter(F.col("w") > delta).persist()

    state = materialized_checkpoint(
        g.vertices.select(
            "id",
            F.when(F.col("id") == source, F.lit(0.0)).alias("dist"),
            F.lit(False).alias("settled"),
        )
    )

    def relax(frontier: DataFrame, etab: DataFrame, st: DataFrame) -> DataFrame:
        cand = (
            etab.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return (
            st.join(cand, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("cand") < F.coalesce(F.col("dist"), F.lit(inf)),
                    F.col("cand"),
                )
                .otherwise(F.col("dist"))
                .alias("dist"),
                "settled",
                (
                    F.col("cand").isNotNull()
                    & (F.col("cand") < F.coalesce(F.col("dist"), F.lit(inf)))
                ).alias("improved"),
            )
        )

    bucket = F.floor(F.col("dist") / F.lit(delta))
    for _ in range(max_buckets):
        nxt = (
            state.filter(~F.col("settled") & F.col("dist").isNotNull())
            .agg(F.min(bucket))
            .first()[0]
        )
        if nxt is None:
            break
        k = int(nxt)
        active = ~F.col("settled") & F.col("dist").isNotNull() & (bucket == k)
        frontier = state.filter(active).select("id", "dist")
        # light-edge fixpoint inside bucket k
        for _ in range(max_inner):
            prev = state
            state = materialized_checkpoint(relax(frontier, light, state))
            prev.unpersist()
            re_front = state.filter(F.col("improved") & (bucket == k)).select(
                "id", "dist"
            )
            if re_front.isEmpty():
                break
            frontier = re_front
        # heavy edges once from the whole (now final) bucket, settle bucket
        bucket_members = state.filter(active).select("id", "dist")
        prev = state
        state = materialized_checkpoint(
            relax(bucket_members, heavy, state).select(
                "id",
                "dist",
                (F.col("settled") | (F.col("dist").isNotNull() & (bucket == k)))
                .alias("settled"),
            )
        )
        prev.unpersist()
    for t in (edges, light, heavy):
        t.unpersist()
    return state.select("id", "dist")
