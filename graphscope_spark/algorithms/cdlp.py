"""CDLP / label propagation — LDBC Graphalytics community detection.

Reference semantics (`lpa` app → grape::CDLP of libgrape-lite, registered at
coordinator/gscoordinator/builtin/app/.gs_conf.yaml:79; LDBC-deterministic
per docs/performance_and_benchmark.md:14; exact-match golden `p2p-31-CDLP`,
python/graphscope/tests/conftest.py:778-781): init label = vertex id; each
synchronous round every vertex adopts the most frequent label among its
neighbors' previous-round labels — for directed graphs the neighbor multiset
is the union of in- and out-edges — with ties broken by the minimum label;
exactly ``max_iter`` rounds (default 10,
python/graphscope/analytical/app/lpa.py:29-55). Neighbor-less vertices keep
their label.

Spark dataflow per round: labels ⋈ edges (both directions) →
groupBy(id, label).count → deterministic argmax via a window ordered by
(count DESC, label ASC) — never `first()` without an order, which would be
partition-order nondeterministic (SURVEY.md §7.3 hard-part b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.pregel import (
    SuperstepResult, SuperstepRunner, choose_engine,
)


def _sensor_floor() -> int:
    # read at call time so tests can pin skew.SKEW_SENSOR_MIN_EDGES = 0
    from graphscope_spark.operators import skew as skewmod

    return skewmod.SKEW_SENSOR_MIN_EDGES


def cdlp(
    g: Graph,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    run_id: str | None = None,
    resume: bool = False,
    skew: str | None = "auto",
    engine: str = "auto",
    spill_dir: str | None = None,
) -> SuperstepResult:
    """Returns state ``(id: long, label: long)``.

    ``engine``: ``"block"`` = :func:`cdlp_block` (with ``max_iter`` and
    ``spill_dir``), ``"join"`` = the row-join engine below, ``"auto"``
    (default) = the block engine unless the call needs the join engine —
    ``checkpoint_dir``, ``resume`` or ``run_id`` — or the executors may
    run on other hosts (a master other than ``local[...]`` /
    ``local-cluster[...]``) and no shared ``spill_dir`` was given, or the
    vertex table misses an edge endpoint (pregel.choose_engine). Both
    engines return identical rows; ``skew`` shapes only the join plan.

    ``skew="auto"`` (default): when a measured hub's edge block exceeds a
    partition's fair share (operators/skew.py measured_hub_keys), SALT
    the hub blocks of the per-round label join — CDLP's count-argmax
    combiner partial-aggregates map-side like a min, so the straggler is
    the task owning the hub's edge block, the salting case of the policy
    table in operators/skew.py. Integer counting + deterministic
    (count DESC, label ASC) tie-break → salted runs are bit-identical.
    Empty hub set (uniform input) → plain path. ``skew=None`` disables."""
    if choose_engine(g, engine, spill_dir, checkpoint_dir=checkpoint_dir,
                     resume=resume, run_id=run_id) == "block":
        return cdlp_block(g, max_iter=max_iter, spill_dir=spill_dir)
    spark = g.spark
    edges = g.out_edges.select("src", "dst")
    salted_src = salted_dst = None
    if skew == "auto" and g.num_edges >= _sensor_floor():
        from graphscope_spark.operators.skew import HubSaltedEdges

        # hub sets from the CACHED degree-derived sensor
        # (Graph.measured_hubs) — no per-call edge aggregation
        hubs = g.measured_hubs("out")
        if hubs:
            salted_src = HubSaltedEdges(
                edges, key="src", n_salts=8,
                num_partitions=g.num_partitions, hub_keys=hubs,
            )
        if g.directed:
            # the in-direction join keys on dst — its own sensor + cache
            dhubs = g.measured_hubs("in")
            if dhubs:
                salted_dst = HubSaltedEdges(
                    edges, key="dst", n_salts=8,
                    num_partitions=g.num_partitions, hub_keys=dhubs,
                )

    init = g.vertices.select("id", F.col("id").alias("label"))

    def step(state: DataFrame, rnd: int) -> DataFrame:
        st_src = state.withColumnRenamed("id", "src")
        out_msgs = (
            salted_src.message_join(st_src)
            if salted_src is not None
            else edges.join(st_src, "src")
        ).select(F.col("dst").alias("id"), "label")
        msgs = out_msgs
        if g.directed:
            st_dst = state.withColumnRenamed("id", "dst")
            in_msgs = (
                salted_dst.message_join(st_dst)
                if salted_dst is not None
                else edges.join(st_dst, "dst")
            ).select(F.col("src").alias("id"), "label")
            msgs = out_msgs.union(in_msgs)

        counts = msgs.groupBy("id", "label").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("id").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        top = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("label").alias("new_label"))
        )
        return (
            state.join(top, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .repartition(g.num_partitions, "id")
        )

    runner = SuperstepRunner(
        spark,
        name="cdlp",
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
        truncate_every=3,
    )
    res = runner.run(init, step, max_iter, resume=resume)
    for s in (salted_src, salted_dst):
        if s is not None:
            s.unpersist()
    return res


def cdlp_block(
    g: Graph,
    max_iter: int = 10,
    num_blocks: int | None = None,
    spill_dir: str | None = None,
) -> SuperstepResult:
    """CDLP over hash-partitioned CSR blocks — identical semantics to
    :func:`cdlp` (LDBC most-frequent-neighbor-label, ties → min,
    synchronous fixed rounds), alternative physical plan on the block
    skeleton (pregel.run_block_program; see pagerank_block).

    The join engine's per-round ``groupBy(id, label).count`` + window
    argmax shuffles Θ(E) message rows then Θ(distinct (id,label)) count
    rows. Here a round is one grouped pass per block: finish the inbox's
    count-sum + (count DESC, label ASC) argmax into the block's labels,
    then run-length-count the block's own (dst, label) pairs in numpy
    against the mmap'd symmetric adjacency (direction 'both' — edges
    cross Arrow exactly once, at pack time) and ship them as ≤B packed
    (ids, labels, counts) buffers. Integer arithmetic throughout, so the
    result is deterministic and hash-matches the join engine's SQL twin
    exactly. Raises ValueError when the vertex table lacks an edge
    endpoint."""
    import numpy as np
    import pandas as pd

    from graphscope_spark import csr as csrmod
    from graphscope_spark.csr import argmax_packed_labels
    from graphscope_spark.pregel import BlockProgram, run_block_program

    if g.num_vertices == 0:
        empty = g.spark.createDataFrame([], "id long, label long")
        return SuperstepResult(state=empty, rounds=0, metrics=[])

    def msg_dtype(bk):
        # CDLP labels ARE vertex ids, so when every endpoint id fits
        # int32 (the pack manifest's id range — no scan of the vertex
        # table) the (ids, labels, counts) buffers ship as int32: HALF the
        # Arrow/shuffle bytes. Counts fit: a block holds < 2³¹ edges.
        return np.int32 if bk.manifest.fits_int32 else np.int64

    def scatter(bk, state):
        # Kernel shape: labels are DENSE-MAPPED block-locally (≤ n_src
        # distinct — a V-sized unique, not E-sized), each edge's
        # (dest-index, label-index) pair packs into ONE int64
        # `inv << 32 | lidx`, and a single in-place np.sort + run-length
        # pass counts the pairs. Label order inside each destination run
        # (index asc = label asc, np.unique sorts) is the argmax's order.
        dt = msg_dtype(bk)
        c = bk.csr
        # sources are checked against vids once, at PEval
        pos = np.searchsorted(bk.vids, c["srcs"])
        lab_u, lidx = np.unique(state["community"], return_inverse=True)
        pkey = (np.asarray(c["inv"]).astype(np.int64) << 32) | np.repeat(
            lidx[pos].astype(np.int32), np.diff(c["indptr"]))
        pkey.sort()
        first = np.concatenate(([True], pkey[1:] != pkey[:-1]))
        starts = np.flatnonzero(first)
        cnt = np.diff(np.append(starts, pkey.size)).astype(dt)
        ksel = pkey[starts]
        return csrmod._emit_packed(
            bk.blk, c["bounds"], np.asarray(c["uniq"]).astype(dt, copy=False),
            ksel >> 32,
            {"labels": lab_u.astype(dt, copy=False)[ksel & 0xFFFFFFFF],
             "counts": cnt},
        )

    def apply(bk, state, inbox, totals):
        dt = msg_dtype(bk)
        new = state["community"].copy()
        mids, mlabs = argmax_packed_labels(inbox, dtypes=(dt, dt, dt))
        new[csrmod.vertex_slots(bk.vids, mids)] = mlabs
        return {"community": new}, {}

    prog = BlockProgram(
        # the state buffer is each vertex's label; "labels" names the
        # message buffer of neighbor labels
        state={"community": np.int64}, messages=("ids", "labels", "counts"),
        init=lambda bk: ({"community": bk.vids}, {}),
        apply=apply, scatter=scatter,
        unpack=lambda bk, st: pd.DataFrame(
            {"id": bk.vids, "label": st["community"]}),
        unpack_schema="id long, label long",
    )
    return run_block_program(g, prog, g.vertices.select("id"), max_iter,
                             num_blocks=num_blocks, direction="both",
                             spill_dir=spill_dir)


def lpa_by_color(g: Graph, max_rounds: int = 10) -> DataFrame:
    """(id, label) — color-scheduled (Gauss–Seidel) label propagation,
    flash/clustering/lpa-by-color.h:44-146.

    A Jones–Plassmann coloring partitions the vertices into independent
    sets; within each super-round the color classes relabel SEQUENTIALLY,
    each class seeing the labels already updated by earlier classes in the
    same super-round (the reference's ``cset[j]`` loop at :119-137). The
    asynchronous schedule kills the 2-cycle label oscillation synchronous
    LPA suffers on bipartite-ish regions, and because each class is an
    independent set, updates WITHIN a class are order-free — so the
    algorithm stays deterministic and embarrassingly parallel per class.
    Ties break to the minimum label (the LDBC convention our cdlp uses;
    the reference's first-max in CSR order is machine-dependent —
    documented deviation). Stops after a super-round with no change or
    after ``max_rounds`` super-rounds.

    Scale shape: per class step = one frontier-sized join + window argmax;
    the edge table is pre-joined with target colors ONCE and persisted, so
    class filtering is a cached-scan predicate, not a per-step shuffle.
    """
    from graphscope_spark.algorithms.coloring import color as _color
    from graphscope_spark.graph import materialized_checkpoint
    from pyspark.sql import Window

    e = g.out_edges.select("src", "dst")
    both = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        if g.directed else e
    )
    colors = _color(g).localCheckpoint(eager=True)
    classes = sorted(r[0] for r in colors.select("color").distinct().collect())
    # edges annotated with the TARGET's color class, paid once
    ec = (
        both.join(
            colors.select(F.col("id").alias("dst"), F.col("color").alias("tc")),
            "dst",
        )
        .repartition(g.num_partitions, "src")
        .persist()
    )
    ec.count()

    state_ck = materialized_checkpoint(
        g.vertices.select("id", F.col("id").alias("label"))
        .join(colors, "id", "left")
        .fillna(0, ["color"])
        .withColumn("_chg", F.lit(False))
    )
    for _ in range(max_rounds):
        changed_any = 0
        for c in classes:
            state = state_ck.select("id", "label", "color")
            msgs = ec.filter(F.col("tc") == c).join(
                state.select(F.col("id").alias("src"), "label"), "src"
            ).select(F.col("dst").alias("id"), "label")
            counts = msgs.groupBy("id", "label").agg(
                F.count(F.lit(1)).alias("c")
            )
            w = Window.partitionBy("id").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
            top = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("id", F.col("label").alias("new_label"))
            )
            new_ck = materialized_checkpoint(
                state.join(top, "id", "left").select(
                    "id",
                    F.coalesce(F.col("new_label"), F.col("label"))
                    .alias("label"),
                    "color",
                    (
                        F.col("new_label").isNotNull()
                        & (F.col("new_label") != F.col("label"))
                    ).alias("_chg"),
                )
            )
            changed_any += new_ck.filter("_chg").limit(1).count()
            state_ck.unpersist()
            state_ck = new_ck
        if changed_any == 0:
            break
    ec.unpersist()
    return state_ck.select("id", "label")
