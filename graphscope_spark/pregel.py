"""Superstep kernel: the PIE/Pregel loop as driver-side DataFrame control flow.

Reference lifecycle (SURVEY.md §3): DefaultWorker::Query runs PEval once then
IncEval rounds until the termination vote passes
(analytical_engine/core/worker/default_worker.h:90-131); each round is one
MPI message exchange + one scalar allreduce (grape::Communicator Sum).

Spark re-expression: the "worker loop" is a driver `while`; a message
exchange is the shuffle inside `state ⋈ edges → groupBy(target)`; the
termination vote is a scalar `agg` collected to the driver. Two additions the
reference gets for free from MPI+vineyard that Spark needs explicitly:

  * lineage truncation — every round appends to the logical plan, so the
    kernel calls `localCheckpoint(eager=True)` every ``truncate_every``
    rounds (otherwise plan analysis time grows superlinearly) and frees
    each cut's checkpoint RDD once a later state no longer reads it;
  * durable checkpoint/resume (north rule) — every ``checkpoint_every``
    rounds the state DataFrame is written to
    ``{dir}/{run_id}/state/round=K/`` (Parquet; Iceberg when a catalog is
    on the classpath — same layout) together with a lineage record per
    partition ``(run_id, superstep, partition_id, rows, state_hash,
    metrics_json, wall_ms)`` so an interrupted run resumes mid-iteration
    with integrity evidence.

The kernel is algorithm-agnostic: a ``step(state, round_idx) ->
(new_state, metrics)`` callable plays IncEval; ``should_stop(metrics)``
plays ToTerminate. Scalars an algorithm carries across rounds (e.g.
PageRank's dangling mass) must be derivable from the state DataFrame so a
resumed run can reconstruct them — same constraint vineyard-stored contexts
satisfy in the reference.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark import csr
from graphscope_spark.graph import (
    Graph, materialized_checkpoint, release_checkpoint,
)


@dataclass
class SuperstepResult:
    state: DataFrame
    rounds: int
    metrics: list[dict] = field(default_factory=list)
    run_id: str | None = None


def _partition_lineage(state: DataFrame) -> list[dict]:
    """Per-partition (rows, content-hash). The hash is an order-independent
    sum of xxhash64 over all columns, so it is stable across task scheduling
    — the analog of the reference's per-fragment golden `cmp` check
    (analytical_engine/test/app_tests.sh:115-127) at partition granularity.
    """
    cols = [F.col(c) for c in state.columns]
    rows = (
        state.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("state_hash"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        name: str = "superstep",
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 0,
        truncate_every: int = 4,
        run_id: str | None = None,
        collect_lineage: bool = True,
    ):
        self.spark = spark
        self.name = name
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every if checkpoint_dir else 0
        self.truncate_every = max(truncate_every, 1)
        self.run_id = run_id or f"{name}-{uuid.uuid4().hex[:12]}"
        self.collect_lineage = collect_lineage

    # -------------------------------------------------------------- #
    def _state_path(self, rnd: int) -> str:
        return os.path.join(self.checkpoint_dir, self.run_id, "state", f"round={rnd}")

    def _lineage_path(self) -> str:
        return os.path.join(self.checkpoint_dir, self.run_id, "lineage")

    def _checkpoint(self, state: DataFrame, rnd: int, metrics: dict,
                    wall_ms: float) -> None:
        state.write.mode("overwrite").parquet(self._state_path(rnd))
        lineage = _partition_lineage(state)
        recs = [
            {
                "run_id": self.run_id,
                "superstep": rnd,
                "partition_id": p["partition_id"],
                "rows": p["rows"],
                "state_hash": str(p["state_hash"]),
                "metrics_json": json.dumps(metrics, default=float),
                "wall_ms": float(wall_ms),
            }
            for p in lineage
        ]
        (
            self.spark.createDataFrame(
                recs,
                schema="run_id string, superstep int, partition_id int, "
                "rows long, state_hash string, metrics_json string, wall_ms double",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(self._lineage_path())
        )

    def latest_checkpoint(self) -> tuple[int, DataFrame] | None:
        """Find the newest durable round for this run_id, for resume."""
        base = os.path.join(self.checkpoint_dir, self.run_id, "state")
        if not os.path.isdir(base):
            return None
        rounds = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("round=")
            and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        )
        if not rounds:
            return None
        rnd = rounds[-1]
        return rnd, self.spark.read.parquet(self._state_path(rnd))

    # -------------------------------------------------------------- #
    def run(
        self,
        init_state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        max_rounds: int,
        metrics_fn: Callable[[DataFrame, DataFrame, int], dict] | None = None,
        should_stop: Callable[[dict], bool] | None = None,
        resume: bool = False,
        check_every: int = 1,
    ) -> SuperstepResult:
        """PEval = ``init_state`` (already computed), IncEval = ``step``.

        ``step(state, round)`` returns the next state *lazily*; the kernel
        persists it, then runs ``metrics_fn(prev_state, new_state, round)``
        (the scalar-allreduce action of the round — convergence metric,
        frontier size, carried mass). If ``should_stop(metrics)`` is true
        the loop ends (ToTerminate vote). With ``resume=True`` and a
        checkpoint present, restarts from the newest durable round instead
        of ``init_state``.

        ``check_every > 1`` runs the termination vote only every k rounds —
        correct ONLY for monotone fixpoints (min-label, distance
        relaxation, peeling) where rounds past convergence are no-ops; the
        result may include up to k−1 extra no-op rounds. Between votes the
        rounds carry no driver action at all, so Spark fuses them into one
        job — the same driver-critical-path win the fixed-round PageRank
        path gets from truncate_every. Convergence metrics that compare
        CONSECUTIVE states (e.g. an L1 delta) must keep check_every=1;
        with k > 1 ``metrics_fn`` receives the state from the previous
        vote, k rounds back."""
        start_round = 0
        state = init_state
        if resume and self.checkpoint_dir:
            found = self.latest_checkpoint()
            if found is not None:
                start_round, state = found

        state = state.persist(StorageLevel.MEMORY_AND_DISK)
        all_metrics: list[dict] = []
        cut = None  # the latest lineage cut, until the next supersedes it
        rnd = start_round
        for rnd in range(start_round + 1, max_rounds + 1):
            t0 = time.monotonic()
            new_state = step(state, rnd).persist(StorageLevel.MEMORY_AND_DISK)

            vote_now = (
                metrics_fn is not None
                and (rnd % max(check_every, 1) == 0 or rnd == max_rounds)
            )
            metrics = metrics_fn(state, new_state, rnd) if vote_now else {}
            stop = vote_now and should_stop is not None and should_stop(metrics)

            if rnd % self.truncate_every == 0 and rnd < max_rounds and not stop:
                # eager lineage cut: materializes and drops the plan prefix.
                # materialized_checkpoint (not bare localCheckpoint) because
                # steps that reference `state` more than once (block-engine
                # frontier+receiver cogroups, pointer-jumping self-joins)
                # would otherwise square the inherited sizeInBytes estimate
                # every round — see graph.materialized_checkpoint's docstring.
                # The final round is never cut: the result stays a plain
                # persisted DataFrame that the caller's unpersist() frees.
                ckpt = materialized_checkpoint(new_state)
                new_state.unpersist()
                new_state = ckpt
                if cut is not None:  # nothing reads the previous cut now
                    release_checkpoint(cut)
                cut = ckpt
            wall_ms = (time.monotonic() - t0) * 1000.0
            metrics = {"superstep": rnd, "wall_ms": wall_ms, **metrics}
            all_metrics.append(metrics)

            if self.checkpoint_every and (
                rnd % self.checkpoint_every == 0 or rnd == max_rounds
            ):
                self._checkpoint(new_state, rnd, metrics, wall_ms)

            state.unpersist()
            state = new_state
            if stop:
                break
        if cut is not None:
            # the result reads the last cut until it is materialized
            state.count()
            release_checkpoint(cut)
        return SuperstepResult(state=state, rounds=rnd, metrics=all_metrics,
                               run_id=self.run_id)


def vertex_program(
    g,
    init: dict[str, "F.Column"],
    message: "F.Column",
    combine: Callable[["F.Column"], "F.Column"],
    update: dict[str, "F.Column"],
    max_rounds: int = 10,
    frontier: bool = True,
    runner: "SuperstepRunner | None" = None,
) -> SuperstepResult:
    """Declarative vertex-centric API — the ``@pregel`` decorator analog
    (python/graphscope/analytical/udf/decorators.py:51-202 /
    core/app/pregel/pregel_compute_context.h:93-106), vectorized: the four
    callbacks are COLUMN EXPRESSIONS, never per-row Python, so the whole
    superstep stays in whole-stage codegen.

    * ``init``: ``{state_col: expr over g.vertices}`` — Pregel ``Init``.
    * ``message``: expr over the sender's state columns + the edge's
      columns (``dst`` and any edge property, e.g. ``weight``) — the value
      sent along each out-edge (``SendMsgThroughOEdges``). Rows where it
      evaluates to NULL are not sent.
    * ``combine``: aggregate function applied to incoming messages per
      target (``F.min``/``F.sum``/…) — the Pregel combiner; Spark also
      applies it map-side automatically (partial aggregation).
    * ``update``: ``{state_col: expr over old state + 'msg'}`` — Pregel
      ``Compute``; ``msg`` is NULL for vertices with no inbox.
    * ``frontier=True``: only vertices whose state CHANGED last round send
      messages (vote_to_halt analog — unchanged vertices are halted and
      wake on delivery); the loop stops when the frontier empties.
      ``frontier=False`` sends from every vertex every round (fixed-round
      algorithms like PageRank).

    Runs on :class:`SuperstepRunner`, so lineage truncation, checkpoints
    and resume apply unchanged. Returns the runner's result; the state
    DataFrame has ``id`` + the ``init``/``update`` keys.
    """
    runner = runner or SuperstepRunner(g.spark)
    edges = g.edges.persist(StorageLevel.MEMORY_AND_DISK)
    keys = list(init)
    if set(update) != set(init):
        raise ValueError("update must define exactly the init state columns")

    state0 = g.vertices.select(
        "id", *[expr.alias(k) for k, expr in init.items()]
    ).withColumn("_active", F.lit(True))

    def step(state: DataFrame, rnd: int) -> DataFrame:
        senders = state.filter("_active") if frontier else state
        inbox = (
            senders.join(edges, senders["id"] == edges["src"])
            .select(F.col("dst").alias("_target"), message.alias("_m"))
            .filter(F.col("_m").isNotNull())
            .groupBy("_target")
            .agg(combine(F.col("_m")).alias("msg"))
        )
        joined = state.drop("_active").join(
            inbox, state["id"] == inbox["_target"], "left"
        )
        new_cols = [update[k].alias(f"_new_{k}") for k in keys]
        changed = None
        upd = joined.select("id", *keys, "msg", *new_cols)
        for k in keys:
            ne = ~F.col(f"_new_{k}").eqNullSafe(F.col(k))
            changed = ne if changed is None else (changed | ne)
        return upd.select(
            "id",
            *[F.col(f"_new_{k}").alias(k) for k in keys],
            changed.alias("_active"),
        )

    def metrics_fn(prev: DataFrame, new: DataFrame, rnd: int) -> dict:
        if not frontier:
            return {}
        return {"frontier": new.filter("_active").count()}

    res = runner.run(
        state0,
        step,
        max_rounds=max_rounds,
        metrics_fn=metrics_fn if frontier else None,
        should_stop=(lambda m: m.get("frontier", 1) == 0) if frontier else None,
    )
    edges.unpersist()
    return SuperstepResult(
        state=res.state.drop("_active"),
        rounds=res.rounds,
        metrics=res.metrics,
        run_id=res.run_id,
    )


# ------------------------------------------------------------------ #
# Block programs — the PIE loop over spilled CSR blocks
# ------------------------------------------------------------------ #


class Block(NamedTuple):
    """One block's fragment as its kernels see it: the block id, its
    sorted vertex ids and their out-degrees (zeros unless the program's
    vertex table has ``out_deg``), its spilled CSR buffers
    (csr.load_spilled_block; None when the block has no edges) and the
    pack's Θ(B) manifest (csr.SpillManifest)."""

    blk: int
    vids: np.ndarray
    degs: np.ndarray
    csr: dict | None
    manifest: csr.SpillManifest


@dataclass
class BlockProgram:
    """An algorithm on the block skeleton (:func:`run_block_program`):
    numpy kernels only — the skeleton owns the spill, the box, the rounds,
    the vote and the unpack.

    * ``state``: the block's state buffers, name → numpy dtype, each
      aligned with ``Block.vids``.
    * ``messages``: names of the packed message buffers (binary; ``ids``
      plus the payload, as csr._emit_packed writes them).
    * ``votes``: per-block scalars that the driver sums in block order
      after every round (PageRank's dangling mass, the WCC/SSSP frontier);
      the totals reach the next ``apply`` and ``should_stop``.
    * ``init(block) -> (state, votes)``: PEval's local computation.
    * ``apply(block, state, inbox, totals) -> (state, votes)``: IncEval's
      read of the inbox — the packed message rows addressed to the block,
      sorted by source block.
    * ``scatter(block, state) -> rows``: the outbox of ``state`` as
      packed message rows ``{sblk, dblk, ids, ...}``; only called for a
      block with edges.
    * ``unpack(block, state) -> pandas.DataFrame``: the block's result
      rows, of ``unpack_schema``.
    * ``should_stop(totals)``: the termination vote; None runs exactly
      ``max_rounds`` rounds.
    """

    state: dict
    messages: tuple
    init: Callable
    apply: Callable
    scatter: Callable
    unpack: Callable
    unpack_schema: str
    votes: tuple = ()
    should_stop: Callable | None = None


def run_block_program(
    g: Graph,
    prog: BlockProgram,
    vertices: DataFrame,
    max_rounds: int,
    num_blocks: int | None = None,
    direction: str = "out",
    weight_col: str | None = None,
    spill_dir: str | None = None,
) -> SuperstepResult:
    """Run ``prog`` over ``g``'s edges packed into spilled CSR blocks —
    GRAPE's PEval/IncEval loop (default_worker.h:90-131), one message
    exchange per superstep.

    The edges are packed once (csr.spill_csr_blocks_indexed;
    ``direction`` and ``weight_col`` as there) into ``spill_dir``, which
    the workers mmap, and ``vertices`` — ``(id[, out_deg])`` rows — is
    grouped by block once. From then on a superstep moves only the BOX:
    one DataFrame holding, per block, its self-addressed state row
    (``sblk = -1``: the state buffers and vote scalars) plus the packed
    messages addressed to it (``sblk`` = the sending block). A round is
    exactly one ``groupBy("dblk").applyInPandas`` over the box: each task
    applies its block's inbox to the state and, in the same task,
    scatters the next round's outbox from the new state, writing the next
    box. PEval is the init pass plus the first scatter; the last round of
    a fixed-round program skips the scatter and writes the unpacked result
    instead. A round is therefore one exchange, one Python task per block
    and one materialization, whose job also collects the B ``(blk,
    votes)`` rows that the driver sums in block order (deterministic for
    any B).

    Each box stays persisted until the next one is materialized, then is
    freed, and so is the last one once the result is. The spill dir is
    removed on exit — also when a kernel raises — unless the caller
    passed ``spill_dir``. A block whose spill file is missing raises
    instead of reading as edge-less (csr.SpillManifest)."""
    b = num_blocks or csr.default_num_blocks(g)
    sd = spill_dir or csr.default_spill_dir()
    cols = ["sblk", "dblk", *prog.state, *prog.messages, *prog.votes]
    box_schema = ", ".join(
        ["sblk int", "dblk int"]
        + [f"{c} binary" for c in (*prog.state, *prog.messages)]
        + [f"{v} double" for v in prog.votes]
    )
    fixed = prog.should_stop is None
    live: list[DataFrame] = []  # persisted here, not yet freed
    try:
        with csr.block_run_confs(g.spark, b):
            _, manifest = csr.spill_csr_blocks_indexed(
                g, b, sd, direction, weight_col)

            def block(blk: int, vids=None, degs=None) -> Block:
                if vids is None:
                    vb = csr.load_spilled_vertices(sd, blk)
                    if vb is None:
                        raise FileNotFoundError(
                            f"vertex arrays of block {blk} missing from {sd}")
                    vids, degs = np.asarray(vb["vids"]), np.asarray(vb["degs"])
                return Block(blk, vids, degs, csr.load_spilled_block(
                    sd, blk, int(manifest.n_edge[blk])), manifest)

            def decode(row) -> dict:
                return {k: np.frombuffer(row[k], dt)
                        for k, dt in prog.state.items()}

            def emit(bk: Block, state: dict, votes: dict, scatter: bool):
                rows = [{"sblk": -1, "dblk": bk.blk, **votes, **{
                    k: np.ascontiguousarray(v).tobytes()
                    for k, v in state.items()}}]
                if scatter and bk.csr is not None:
                    rows += prog.scatter(bk, state)
                return pd.DataFrame(rows, columns=cols)

            def peval(key, pdf):
                ids = pdf["id"].to_numpy(np.int64)
                o = np.argsort(ids, kind="stable")
                degs = (pdf["out_deg"].to_numpy(np.int64)[o]
                        if "out_deg" in pdf else np.zeros(ids.size, np.int64))
                bk = block(int(key[0]), ids[o], degs)
                csr.save_vertex_arrays(sd, bk.blk, bk.vids, bk.degs)
                if bk.csr is not None:  # every source must be a vertex
                    csr.vertex_slots(bk.vids, np.asarray(bk.csr["srcs"]))
                state, votes = prog.init(bk)
                return emit(bk, state, votes, max_rounds > 0)

            def superstep(totals: dict, final: bool):
                def fn(key, pdf):
                    blk = int(key[0])
                    own = pdf["sblk"].to_numpy() < 0
                    if not own.any():
                        raise ValueError(
                            f"messages addressed to block {blk}, which has "
                            "no vertices: the vertex table must hold every "
                            "edge endpoint")
                    bk = block(blk)
                    inbox = pdf[~own].sort_values("sblk", kind="mergesort")
                    state, votes = prog.apply(
                        bk, decode(pdf[own].iloc[0]), inbox, totals)
                    if final:
                        return prog.unpack(bk, state)
                    return emit(bk, state, votes, True)
                return fn

            def unpack(it):
                for pdf in it:
                    for row in pdf.to_dict("records"):
                        yield prog.unpack(block(int(row["dblk"])), decode(row))

            def materialize(df: DataFrame, vote: bool) -> dict:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                live.append(df)
                if not vote:
                    df.count()
                    return {}
                # the materializing job IS the vote: B (blk, votes) rows
                rows = sorted(df.filter(F.col("sblk") < 0)
                              .select("dblk", *prog.votes).collect())
                totals = {}
                for i, v in enumerate(prog.votes):
                    t = 0.0
                    for r in rows:  # block order: bit-stable for any B
                        t += r[i + 1]
                    totals[v] = t
                return totals

            def advance(df: DataFrame, vote: bool) -> dict:
                totals = materialize(df, vote)
                live.pop(0).unpersist()
                return totals

            totals = materialize(
                vertices.withColumn("blk", csr.block_expr("id", b))
                .groupBy("blk").applyInPandas(peval, box_schema), True)
            metrics: list[dict] = []
            rnd = 0
            for rnd in range(1, max_rounds + 1):
                t0 = time.monotonic()
                final = fixed and rnd == max_rounds
                totals = advance(
                    live[0].groupBy("dblk").applyInPandas(
                        superstep(totals, final),
                        prog.unpack_schema if final else box_schema),
                    not final)
                metrics.append({"superstep": rnd, "wall_ms":
                                (time.monotonic() - t0) * 1000.0, **totals})
                if not fixed and prog.should_stop(totals):
                    break
            if not (fixed and max_rounds > 0):
                advance(live[0].filter(F.col("sblk") < 0)
                        .select("dblk", *prog.state)
                        .mapInPandas(unpack, prog.unpack_schema), False)
            state = live.pop()
    finally:
        for df in live:
            df.unpersist()
        if spill_dir is None:
            csr.cleanup_spill(sd)
    return SuperstepResult(state=state, rounds=rnd, metrics=metrics)


# ------------------------------------------------------------------ #
# The engine rule — row joins or the block skeleton
# ------------------------------------------------------------------ #

ENGINES = ("auto", "join", "block")


def spill_visible(master: str, spill_dir: str | None) -> bool:
    """Whether every executor can read a block run's spill: always with
    a caller ``spill_dir`` (the caller's promise that it is shared), and
    with the default node-local dir (csr.default_spill_dir, /dev/shm)
    only when the executors run on the driver's host — a ``local`` or
    ``local-cluster`` master."""
    return spill_dir is not None or master == "local" or master.startswith(
        ("local[", "local-cluster["))


def choose_engine(g: Graph, engine: str, spill_dir: str | None = None,
                  **join_only) -> str:
    """The one engine rule of ``pagerank``, ``wcc``, ``cdlp``, ``sssp``
    and ``triangles``: returns ``"join"`` or ``"block"``.

    ``join_only`` names each argument that only the row-join engine
    implements (checkpoint/resume, warm starts, hub salting or
    isolation), mapped to whether this call uses it. ``engine="auto"``
    takes the block skeleton unless the call uses one of them, the spill
    is not visible to every executor (:func:`spill_visible`), or the
    vertex table misses an edge endpoint
    (:attr:`Graph.vertices_cover_edges`; the join engines drop such
    edges' messages, the block skeleton raises). There is no size
    threshold: the block skeleton won at every measured size, from 2k
    to 1M edges (ROADMAP item 6, "Engine crossover"). ``engine="block"``
    with a join-only argument raises ValueError."""
    if engine not in ENGINES:
        raise ValueError(f"engine must be one of {ENGINES}, not {engine!r}")
    used = sorted(k for k, v in join_only.items() if v)
    if engine == "block" and used:
        raise ValueError(
            f"engine='block' does not implement {', '.join(used)}; "
            "use engine='join' or 'auto'")
    if engine != "auto":
        return engine
    block = (not used
             and spill_visible(g.spark.sparkContext.master, spill_dir)
             and g.vertices_cover_edges)
    return "block" if block else "join"
