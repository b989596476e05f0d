"""PageRank — both reference variants.

Semantics reproduced (SURVEY.md §2.2):

* fixed-round (the reference's default `pagerank` app,
  analytical_engine/benchmarks/apps/pagerank/pagerank.h:82-199 /
  libgrape-lite PageRankOpt): init 1/N; exactly ``max_iter`` synchronous
  rounds of  r'(v) = (1-d)/N + d·(Σ_{u→v} r(u)/outdeg(u) + dangling_sum/N)
  with dangling_sum = Σ_{outdeg=0} r(u) of the previous round.

* tolerance (`pagerank_nx`,
  analytical_engine/apps/pagerank/pagerank_networkx.h:36-164): identical
  update; stops when Σ_v |r'(v) − r(v)| < tol·N (pagerank_networkx.h:147)
  or after max_iter rounds. Directed graphs gather over in-edges; undirected
  over the symmetrized adjacency (:121-131). Dangling mass is carried across
  rounds pre-multiplied by α (:82-87,160) — algebraically identical to the
  formula above, which is what we compute.

Dataflow per round = exactly one shuffle (contribs ⋈ edges → groupBy(dst),
the message exchange of pagerank_networkx.h:70-73) + one scalar aggregation
(the Communicator::Sum allreduce at :146). Contributions are sent
pre-divided by out-degree, as the reference does, so no second join against
the degree table on the receive side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.pregel import (
    SuperstepResult, SuperstepRunner, choose_engine,
)


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    run_id: str | None = None,
    resume: bool = False,
    init_state: DataFrame | None = None,
    hub_salts: int = 0,
    hub_top_n: int = 16,
    hub_isolate: bool = False,
    skew: str | None = "auto",
    engine: str = "auto",
    spill_dir: str | None = None,
) -> SuperstepResult:
    """Returns SuperstepResult whose state is ``(id: long, rank: double,
    out_deg: long)`` (out_deg rides along so no per-round degree join).

    ``engine``: ``"block"`` = :func:`pagerank_block` (with ``alpha``,
    ``max_iter``, ``tol`` and ``spill_dir``), ``"join"`` = the row-join
    engine below, ``"auto"`` (default) = the block engine unless the call
    needs the join engine — ``checkpoint_dir``, ``resume``, ``run_id``,
    ``init_state``, ``hub_salts > 1`` or ``hub_isolate`` — or the
    executors may run on other hosts (a master other than ``local[...]``
    / ``local-cluster[...]``) and no shared ``spill_dir`` was given, or
    the vertex table misses an edge endpoint (pregel.choose_engine, the
    rule all four iterative engines share). The engines agree to ~1e-16
    relative; ``skew`` and ``hub_top_n`` shape only the join plan.

    ``hub_salts > 1`` statically splits the top ``hub_top_n`` out-degree
    hubs' edge blocks across that many salted partitions
    (operators/skew.py HubSaltedEdges — GRAPE's edge-cut hub mirroring):
    the per-round message join's straggler task shrinks from the hub's
    whole adjacency to 1/n_salts of it, for one extra edge shuffle at
    setup. Same fixpoint; float sum order within a destination may differ
    at the ulp level (partial-aggregation partitioning changes).

    ``hub_isolate=True`` instead splits off MEASURED hubs (edge block >
    a partition's share) into an evenly-spread cache joined per round by
    broadcasting the ≤hub_top_n hub message rows (operators/skew.py
    HubIsolatedEdges). Unlike salting it re-keys nothing on a
    skew-free input (empty hub set → exactly the plain join), so it's
    the default remedy to reach for; mutually exclusive with hub_salts.

    ``skew="auto"`` (default) applies hub-isolation automatically: a SUM
    combiner cannot pre-collapse a hub's messages, and isolation is the
    measured winner for pagerank (2.9× over plain on the 20M skewed bench
    input) while degrading to exactly the plain join on uniform inputs
    (empty measured hub set) — the policy table lives in
    operators/skew.py module docs. The sensor costs one count + one
    top-n aggregation at setup, amortized over every superstep. Pass
    ``skew=None`` to disable, or force a remedy with the explicit flags.

    ``tol=None`` reproduces the fixed-round app; ``tol`` set reproduces
    pagerank_nx L1 convergence (alpha=0.85, max_iter=100, tol=1e-6 defaults
    in python/graphscope/analytical/app/pagerank.py:91-121).

    ``init_state`` ((id, rank), any subset of vertices) warm-starts the
    power iteration — the PIE IncEval pattern: after a graph change,
    resume from the previous fixpoint and rounds-to-reconverge track the
    perturbation, not the graph size. Vertices absent from init_state
    start at 1/N; the vector is renormalized to unit mass (the fixed
    point is init-independent, so this only shortens convergence).
    """
    if choose_engine(
        g, engine, spill_dir, checkpoint_dir=checkpoint_dir, resume=resume,
        run_id=run_id, init_state=init_state is not None,
        hub_salts=hub_salts > 1, hub_isolate=hub_isolate,
    ) == "block":
        return pagerank_block(g, alpha=alpha, max_iter=max_iter, tol=tol,
                              spill_dir=spill_dir)
    spark = g.spark
    n = g.num_vertices
    if n == 0:
        empty = spark.createDataFrame([], "id long, rank double")
        return SuperstepResult(state=empty, rounds=0, metrics=[])

    # out_deg is static per vertex, so it rides IN the state row — the
    # per-round state⋈degrees joins disappear (the reference likewise
    # fuses out-degree into PEval once, benchmarks/apps/pagerank/
    # pagerank.h PEval, and never re-fetches it).
    edges = g.out_edges.select("src", "dst")
    salted = None
    from graphscope_spark.operators import skew as skewmod

    if hub_isolate or (
        skew == "auto" and hub_salts <= 1
        and g.num_edges >= skewmod.SKEW_SENSOR_MIN_EDGES
    ):
        from graphscope_spark.operators.skew import HubIsolatedEdges

        # explicit flag, or the auto policy (sum combiner → isolate; an
        # empty measured set means the tail IS the plain pre-partitioned
        # cache, untouched). The hub set comes from the CACHED
        # degree-derived sensor (Graph.measured_hubs — no edge
        # re-aggregation per call, and repeat calls on the same Graph
        # reuse it). out_edges is already src-partitioned+sorted: the
        # tail streams the existing cache through a filter, no new edge
        # shuffle at all.
        salted = HubIsolatedEdges(
            edges, key="src", top_n=hub_top_n,
            num_partitions=g.num_partitions, pre_partitioned=True,
            hub_keys=g.measured_hubs("out", top_n=hub_top_n),
        )
    elif hub_salts > 1:
        from graphscope_spark.operators.skew import HubSaltedEdges

        salted = HubSaltedEdges(
            edges, key="src", n_salts=hub_salts, top_n=hub_top_n,
            num_partitions=g.num_partitions,
        )
    init = (
        g.vertices.select("id")
        .join(g.degrees.select("id", "out_deg"), "id", "left")
        .select(
            "id",
            F.lit(1.0 / n).alias("rank"),
            F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
        )
    )
    if init_state is not None:
        seeded = (
            init.drop("rank")
            .join(init_state.select("id", F.col("rank").alias("_r")),
                  "id", "left")
            .select(
                "id", "out_deg",
                F.coalesce(F.col("_r"), F.lit(1.0 / n)).alias("rank"),
            )
        )
        mass = seeded.agg(F.sum("rank").alias("_m"))
        init = seeded.crossJoin(F.broadcast(mass)).select(
            "id", (F.col("rank") / F.col("_m")).alias("rank"), "out_deg"
        )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        # scalar "allreduce": dangling mass of the current ranks — the
        # grape::Communicator Sum of pagerank_networkx.h:85 — expressed as
        # a one-row aggregate CROSS-JOINED (broadcast) into the update
        # instead of a driver-side .first(). The round then has NO driver
        # action of its own: in fixed-round mode the kernel only
        # materializes every truncate_every rounds, so 4 supersteps fuse
        # into one Spark job (driver critical path ÷4 — the difference
        # between 0.72 and target scaling efficiency came largely from
        # per-round driver round-trips). Derived from state, not a driver
        # variable, so a resumed run matches an uninterrupted one; the
        # persisted previous round keeps each branch computed once.
        dang = state.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
        )
        contribs = state.filter(F.col("out_deg") > 0).select(
            F.col("id").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("contrib"),
        )
        # the message exchange: one shuffle of contribs onto edge.src
        # partitioning, then the groupBy(dst) partial-aggregates map-side
        # (Spark hash agg = the Pregel combiner, pagerank_pregel.h:85-95).
        sent = (
            salted.message_join(contribs)
            if salted is not None
            else edges.join(contribs, "src")
        )
        msgs = (
            sent.groupBy(F.col("dst").alias("id"))
            .agg(F.sum("contrib").alias("gathered"))
        )
        # the join on id re-partitions the new state by id; no extra
        # repartition exchange needed.
        return (
            state.select("id", "out_deg")
            .join(msgs, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit(alpha) * F.coalesce(F.col("gathered"), F.lit(0.0))
                    + F.lit((1.0 - alpha) / n)
                    + F.lit(alpha) * F.col("_dang") / n
                ).alias("rank"),
                "out_deg",
            )
        )

    metrics_fn = None
    should_stop = None
    if tol is not None:
        def metrics_fn(prev: DataFrame, new: DataFrame, rnd: int) -> dict:
            eps = (
                new.withColumnRenamed("rank", "rank_new")
                .join(prev.withColumnRenamed("rank", "rank_old"), "id")
                .agg(F.sum(F.abs(F.col("rank_new") - F.col("rank_old"))))
                .first()[0]
            )
            return {"l1_delta": float(eps)}

        def should_stop(m: dict) -> bool:
            return m["l1_delta"] < tol * n

    runner = SuperstepRunner(
        spark,
        name="pagerank",
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
    )
    res = runner.run(init, step, max_iter, metrics_fn=metrics_fn,
                     should_stop=should_stop, resume=resume)
    if salted is not None:
        salted.unpersist()
    return res


def pagerank_block(
    g: Graph,
    alpha: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    num_blocks: int | None = None,
    spill_dir: str | None = None,
) -> SuperstepResult:
    """PageRank over hash-partitioned CSR blocks — identical semantics
    (and fixpoint) to :func:`pagerank`, different physical plan.

    Where :func:`pagerank` expresses the gather as ``edges ⋈ contribs →
    groupBy(dst)`` (tuple-at-a-time over E rows in the JVM each round),
    this variant walks a packed indexed CSR with numpy inside Arrow-batched
    grouped UDFs — the gather-scatter loop of the reference's fragment
    kernel (benchmarks/apps/pagerank/pagerank.h:82-199 iterates the CSR
    column index directly). It runs on the block skeleton
    (pregel.run_block_program): the out-adjacency is packed once into
    mmap'd spill files, so edges cross the JVM↔Python Arrow boundary
    exactly once, and a round is ONE grouped pass over the box of B
    packed state rows and the messages addressed to them:

      * a block's state is its ranks buffer (Θ(V_b)·8 bytes) aligned with
        the spilled (vids, degs) arrays — never ids/degs, never edges;
      * the task merges its inbox in source-block order with one bincount
        into the vertex slots, applies the update with the previous
        round's dangling total, and scatters its next contributions:
        searchsorted + repeat + bincount over the mmap'd (srcs, indptr,
        inv), split by the dst-block index (uniq, bounds) precomputed at
        pack time, shipped as ≤B packed buffers;
      * the dangling mass is a vote: each state row carries its block's
        Σ rank over out_deg = 0, and the driver sums the B values in
        block order — the Communicator::Sum allreduce.

    Deterministic: reruns are bit-identical for any B (contributions
    accumulate in (src,dst)-sorted edge order, buffers merge in sblk
    order, the dangling total sums in block order). vs the join engine the
    per-destination float add order differs at the ulp level only (gate
    twin rounds to 8 decimals; rel diff ~1e-16 measured). Scale contract:
    a block must fit one core's memory (the reference's own per-fragment
    constraint) — size ``num_blocks`` ≈ E / 10⁷⁻⁸; ``spill_dir`` must be
    visible to every executor (node-local here; HDFS/NFS on a multi-node
    cluster — the same locality decision vineyard makes for fragments,
    docs/frag_intro.md) and is kept when the caller passes it.
    """
    import numpy as np
    import pandas as pd

    from graphscope_spark.pregel import BlockProgram, run_block_program
    from graphscope_spark.csr import vertex_slots

    n = g.num_vertices
    if n == 0:
        empty = g.spark.createDataFrame([], "id long, rank double")
        return SuperstepResult(state=empty, rounds=0, metrics=[])
    teleport = (1.0 - alpha) / n

    def votes(bk, rank, prev):
        v = {"dang": float(rank[bk.degs == 0].sum())}
        if tol is not None:
            v["l1_delta"] = float(np.abs(rank - prev).sum())
        return v

    def init(bk):
        ranks = np.full(bk.vids.size, 1.0 / n, np.float64)
        return {"ranks": ranks}, votes(bk, ranks, ranks)

    def scatter(bk, state):
        vals = np.divide(state["ranks"], bk.degs,
                         out=np.zeros(bk.vids.size), where=bk.degs > 0)
        c = bk.csr
        per_edge = np.repeat(vals[np.searchsorted(bk.vids, c["srcs"])],
                             np.diff(c["indptr"]))
        sums = np.bincount(c["inv"], weights=per_edge,
                           minlength=c["uniq"].size)
        bounds = c["bounds"]
        return [
            {"sblk": bk.blk, "dblk": d,
             "ids": np.ascontiguousarray(c["uniq"][lo:hi]).tobytes(),
             "sums": sums[lo:hi].tobytes()}
            for d, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
            if lo < hi  # no empty (sblk, dblk) pairs
        ]

    def apply(bk, state, inbox, totals):
        gathered = np.zeros(bk.vids.size)
        if len(inbox):
            mids = np.concatenate(
                [np.frombuffer(x, np.int64) for x in inbox["ids"]])
            msums = np.concatenate(
                [np.frombuffer(x, np.float64) for x in inbox["sums"]])
            gathered = np.bincount(vertex_slots(bk.vids, mids),
                                   weights=msums, minlength=bk.vids.size)
        rank = alpha * gathered + teleport + alpha * totals["dang"] / n
        return {"ranks": rank}, votes(bk, rank, state["ranks"])

    def unpack(bk, state):
        return pd.DataFrame({"id": bk.vids, "rank": state["ranks"],
                             "out_deg": bk.degs})

    prog = BlockProgram(
        state={"ranks": np.float64}, messages=("ids", "sums"),
        init=init, apply=apply, scatter=scatter, unpack=unpack,
        unpack_schema="id long, rank double, out_deg long",
        votes=("dang",) if tol is None else ("dang", "l1_delta"),
        should_stop=None if tol is None
        else (lambda t: t["l1_delta"] < tol * n),
    )
    # g.degrees already left-joins EVERY vertex and fills 0 (graph.py)
    return run_block_program(
        g, prog, g.degrees.select("id", "out_deg"), max_iter,
        num_blocks=num_blocks, spill_dir=spill_dir)


def pagerank_push(
    g: Graph,
    alpha: float = 0.85,
    max_iter: int = 10,
    eps: float = 0.0,
) -> SuperstepResult:
    """Push-style (residual/delta) PageRank — the registry's
    `pagerank_push` / `pagerank_push_opt` apps
    (coordinator/gscoordinator/builtin/app/.gs_conf.yaml:10,18; the
    implementations live in the external public libgrape-lite). Push
    engines send mass forward from ACTIVE vertices instead of gathering
    over in-edges, so the per-round shuffle is proportional to the
    frontier, not the graph.

    Synchronous forward-push recurrence (converges to the same fixed point
    as :func:`pagerank` — the power series (1-α)/N · Σ_k (αPᵀ)^k 1):

      res₀ = (1-α)/N  everywhere; rank₀ = 0
      active_k = res_k > eps              (eps=0 ⇒ everyone, exact series)
      rank_{k+1} = rank_k + res_k·[active]          (absorb when pushing)
      res_{k+1}(v) = res_k(v)·[¬active]             (retained mass)
                   + α·Σ_{active u→v} res_k(u)/outdeg(u)
                   + α·dang_k/N     (dangling active mass, redistributed)

    After R rounds with eps=0, rank_R = the R-term partial series —
    deterministic and SQL-unrollable (tpch_graphs.pagerank_push_sql);
    the tail shrinks by α per round, so rank converges to pagerank().
    Returns state ``(id, rank, res, out_deg)``.
    """
    spark = g.spark
    n = g.num_vertices
    if n == 0:
        empty = spark.createDataFrame([], "id long, rank double")
        return SuperstepResult(state=empty, rounds=0, metrics=[])

    edges = g.out_edges.select("src", "dst")
    init = (
        g.vertices.select("id")
        .join(g.degrees.select("id", "out_deg"), "id", "left")
        .select(
            "id",
            F.lit(0.0).alias("rank"),
            F.lit((1.0 - alpha) / n).alias("res"),
            F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
        )
    )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        active = F.col("res") > eps
        # dangling active mass — scalar allreduce, broadcast into the update
        dang = state.filter(active & (F.col("out_deg") == 0)).agg(
            F.coalesce(F.sum("res"), F.lit(0.0)).alias("_dang")
        )
        # frontier-proportional message exchange: only active vertices with
        # out-edges push (the point of the push variant)
        pushes = state.filter(active & (F.col("out_deg") > 0)).select(
            F.col("id").alias("src"),
            (F.lit(alpha) * F.col("res") / F.col("out_deg")).alias("m"),
        )
        msgs = (
            edges.join(pushes, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("m").alias("pushed"))
        )
        return (
            state.join(msgs, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                F.when(active, F.col("rank") + F.col("res"))
                .otherwise(F.col("rank")).alias("rank"),
                (
                    F.when(active, F.lit(0.0)).otherwise(F.col("res"))
                    + F.coalesce(F.col("pushed"), F.lit(0.0))
                    + F.lit(alpha) * F.col("_dang") / n
                ).alias("res"),
                "out_deg",
            )
        )

    runner = SuperstepRunner(spark, name="pagerank_push")
    return runner.run(init, step, max_iter)
