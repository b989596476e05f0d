"""Graph substrate: property graph as a pair of DataFrames.

Reference data model (SURVEY.md §1): GraphScope holds the graph as
edge-cut ArrowFragments — hash-partitioned by vertex, columnar property
tables, CSR adjacency per direction, dense GID = FID|OFFSET encoding
(docs/frag_intro.md:17-19, analytical_engine/core/utils/partitioner.h:43-54).

Spark-native re-expression:
  * vertices  DataFrame (id: long, props…)        — one row per vertex
  * edges     DataFrame (src: long, dst: long, …) — one row per edge
  * out_edges = edges hash-partitioned by src  (out-CSR analog)
  * in_edges  = edges hash-partitioned by dst  (in-CSR analog; the reference
    materializes both directions: LoadStrategy::kBothOutIn,
    apps/pagerank/pagerank_networkx.h:44-45)
  * degrees   DataFrame (id, out_deg, in_deg), cached — the reference
    precomputes out-degree in PEval (pagerank.h PEval) and GIE has a
    DegreeFusionRule; we keep one cached degree table per graph.
  * dense ids: GID = partition_id << 40 | per-partition offset — same
    bit-packing idea as the reference's FID|OFFSET, built with a shuffle by
    hash(key) + per-partition row_number (no global sort, no
    monotonically_increasing_id non-determinism across reruns of the same
    partitioning).

Everything is lazy DataFrames; `.persist()` is applied to the hot tables
(edges both ways + degrees) because every superstep re-reads them — the
analog of the fragment living pinned in vineyard shared memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: bits reserved for the per-partition offset in dense GIDs
_OFFSET_BITS = 40


def materialized_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint + persist + materialize — the required round-state
    truncation for iterative loops whose NEXT round references the result
    more than once (self-joins: pointer doubling/jumping, hook steps,
    alive-set semi-joins on both edge endpoints).

    Why persist+count on top of the checkpoint: Spark's ``localCheckpoint``
    truncates the plan TREE but copies the origin plan's *estimated*
    statistics into the new ``LogicalRDD``
    (``LogicalRDD.rewriteStatsAndConstraints``). A self-join's size
    estimate is the product of its two sides, so iterating
    checkpoint→self-join→checkpoint squares the stored ``sizeInBytes``
    every round — the BigInt's digit count doubles per round and stats
    arithmetic inside the next checkpoint call becomes the driver
    bottleneck (measured: 3× slower per round, exponential blow-up).
    A persisted-and-materialized ``InMemoryRelation`` instead reports its
    REAL cached size to the next round's stats rewrite, keeping estimates
    bounded forever. Callers should ``unpersist()`` the previous round's
    result once the new one is materialized.
    """
    out = df.localCheckpoint(eager=True).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist a :func:`materialized_checkpoint` result AND free the
    ``localCheckpoint`` RDD under it. ``unpersist()`` alone drops only
    the cache on top: the checkpoint's blocks stay persisted for as long
    as any plan still references them, which a caller holding a later
    round's DataFrame always does. Call it once nothing needs the
    checkpoint's rows — every later state that read them is materialized."""
    df.unpersist()
    df._jdf.logicalPlan().rdd().unpersist(False)  # the LogicalRDD's RDD


def persist_partitioned(df: DataFrame) -> DataFrame:
    """persist() with AQE disabled at cache-registration time.

    Under AQE the InMemoryRelation captures an AdaptiveSparkPlan child,
    whose output partitioning is unknown until execution — so EVERY
    consumer join re-exchanges the cached side, even though it was
    repartition()+sortWithinPartitions()'d on the join key. For the edge
    tables that means re-shuffling the BIG side of the message join every
    superstep (measured: the Exchange shows up above InMemoryTableScan in
    the per-round plan). Registering the cache with AQE momentarily off
    captures a static plan that reports HashPartitioning(key), and the
    per-round sort-merge join then streams the cache with no exchange and
    no sort on that side — the CSR-stays-put property the reference gets
    from pinned fragments. AQE is restored immediately; consumer queries
    still get AQE (skew joins, runtime coalescing) — only the cached
    plan's own registration is non-adaptive.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def assign_dense_ids(
    df: DataFrame, key_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Map an arbitrary key column to dense int64 ids.

    GID = partition_id << 40 | offset, mirroring the reference's
    FID|LABEL|OFFSET packing (docs/frag_intro.md:17-19) with one implicit
    label. Deterministic given (input rows, num_partitions): rows are
    hash-shuffled by key then ordered by key within the partition.

    Returns a vertex-map DataFrame ``(key_col, id)`` — the analog of the
    reference's o2g_<fid> hashmap (performance_tuning.md:22-40).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # fid = hash(key) % P — the reference's HashPartitioner::GetPartitionId
    # (partitioner.h:43-54). Derived from the KEY, never from the physical
    # partition (spark_partition_id/monotonically_increasing_id change
    # across recomputations and AQE coalescing; a vertex map must not).
    keys = df.select(key_col).distinct().select(
        F.col(key_col),
        F.pmod(F.xxhash64(key_col), F.lit(num_partitions)).alias("_fid"),
    )
    w = Window.partitionBy("_fid").orderBy(key_col)
    return keys.select(
        F.col(key_col),
        (
            (F.col("_fid") * F.lit(1 << _OFFSET_BITS))
            + F.row_number().over(w).cast("long")
            - F.lit(1)
        ).alias("id"),
    )


class Graph:
    """A (possibly directed) graph over two DataFrames.

    The analog of gs::ArrowProjectedFragment (SURVEY.md §1.2): one vertex
    "label", one edge "label", arbitrary extra property columns.
    """

    def __init__(
        self,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        directed: bool = True,
        num_partitions: int | None = None,
        persist: bool = True,
        assume_symmetric: bool = False,
        assume_src_bucketed: bool = False,
    ):
        self.spark: SparkSession = edges.sparkSession
        if num_partitions is None:
            num_partitions = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
        self.num_partitions = num_partitions
        self.directed = directed
        self._persist = persist

        if not directed and not assume_symmetric:
            # canonicalize: undirected Graphs ALWAYS store both directions
            # (the reference's LoadStrategy::kBothOutIn CSR does the same).
            # Every algorithm relies on this invariant (wcc/cdlp/paths skip
            # re-symmetrizing per call); enforcing it here once at load is
            # what makes that safe for caller-supplied one-direction edge
            # lists. ``assume_symmetric=True`` skips the dedup shuffle when
            # the caller already stores edges bidirectionally
            # (to_undirected, copurchase_edges).
            other = [c for c in edges.columns if c not in ("src", "dst")]
            rev = edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), *other
            )
            edges = edges.select("src", "dst", *other).unionByName(
                rev
            ).distinct()

        # True when the vertex table is derived from the edges; a
        # caller's table is checked on first use (vertices_cover_edges)
        self._covers: bool | None = True if vertices is None else None
        if vertices is None:
            vertices = (
                edges.select(F.col("src").alias("id"))
                .union(edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        self.vertices = vertices
        self.edges = edges

        # out-CSR / in-CSR analogs: one copy of the edge table per direction,
        # pre-shuffled AND pre-sorted on the join key each direction's
        # superstep uses. The sortWithinPartitions is the CSR build step:
        # the cached InMemoryRelation then reports both
        # HashPartitioning(key) and an ordering on the key, so the per-round
        # sort-merge join against the (much smaller) message/contribution
        # table streams the edge cache with NO per-round exchange and NO
        # per-round sort of the edges — only the vertex-sized side sorts.
        # Paid once at load, exactly like the reference's CSR construction
        # (docs/frag_intro.md).
        # ``assume_src_bucketed`` (load_bucketed): the scan of an edges
        # table bucketed+sorted by src into num_partitions buckets ALREADY
        # reports the hash distribution and ordering this repartition+sort
        # would build — skipping them makes the out-CSR load exchange-free
        # AND sort-free (the on-disk bucket layout is the CSR).
        self.out_edges = (
            edges if assume_src_bucketed
            else edges.repartition(num_partitions, "src")
                      .sortWithinPartitions("src")
        )
        self.in_edges = (
            edges.repartition(num_partitions, "dst").sortWithinPartitions("dst")
        )
        if persist:
            self.vertices = self.vertices.persist(StorageLevel.MEMORY_AND_DISK)
            self.out_edges = persist_partitioned(self.out_edges)
            self.in_edges = persist_partitioned(self.in_edges)

        self._degrees: DataFrame | None = None
        self._nv: int | None = None
        self._ne: int | None = None
        self._hub_cache: dict = {}

    # ------------------------------------------------------------------ #
    # construction helpers
    # ------------------------------------------------------------------ #

    @classmethod
    def from_edges(cls, edges: DataFrame, directed: bool = True, **kw) -> "Graph":
        return cls(edges, None, directed, **kw)

    def to_undirected(self) -> "Graph":
        """TRANSFORM_GRAPH(to_undirected) — dag_utils.py:583-637.

        Symmetrize: union of both directions, deduplicated.
        """
        sym = (
            self.edges.select("src", "dst")
            .union(self.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
        return Graph(sym, directed=False, num_partitions=self.num_partitions,
                     persist=self._persist, assume_symmetric=True)

    def to_directed(self) -> "Graph":
        """TRANSFORM_GRAPH(to_directed) — dag_utils.py:583-637 (the
        networkx to_directed convention: each undirected edge becomes two
        directed arcs; our undirected storage is already bidirectional, so
        this is a zero-copy flag flip over the same persisted edge table).
        Already-directed graphs return themselves unchanged."""
        if self.directed:
            return self
        return Graph(self.edges, self.vertices, directed=True,
                     num_partitions=self.num_partitions, persist=self._persist)

    def project(self, vertex_cols: list[str] | None = None,
                edge_cols: list[str] | None = None) -> "Graph":
        """PROJECT_GRAPH / project_to_simple (dag_utils.py:490-552) —
        column projection; Catalyst prunes the rest anyway, this makes the
        simple-graph contract explicit."""
        v = self.vertices.select("id", *(vertex_cols or []))
        e = self.edges.select("src", "dst", *(edge_cols or []))
        return Graph(e, v, self.directed, self.num_partitions, self._persist)

    def subgraph(self, vertex_pred) -> "Graph":
        """Induced subgraph on vertices satisfying ``vertex_pred`` (a Column).
        Derives from the PERSISTED out_edges copy, not the raw edges plan —
        otherwise every subgraph call re-reads/re-joins the source tables
        (round-1 verdict note)."""
        keep = self.vertices.filter(vertex_pred).select("id")
        e = (
            self.out_edges.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select(self.edges.columns)
        )
        return Graph(e, keep, self.directed, self.num_partitions, self._persist,
                     assume_symmetric=not self.directed)

    # ------------------------------------------------------------------ #
    # cached statistics
    # ------------------------------------------------------------------ #

    @property
    def degrees(self) -> DataFrame:
        """(id, out_deg, in_deg) — cached. Degree of the graph as loaded;
        for an undirected Graph built via to_undirected both columns equal
        the undirected degree."""
        if self._degrees is None:
            out_d = self.out_edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("out_deg")
            )
            in_d = self.in_edges.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("in_deg")
            )
            deg = (
                self.vertices.select("id")
                .join(out_d, "id", "left")
                .join(in_d, "id", "left")
                .fillna(0, ["out_deg", "in_deg"])
                .repartition(self.num_partitions, "id")
            )
            if self._persist:
                deg = persist_partitioned(deg)
            self._degrees = deg
        return self._degrees

    def measured_hubs(
        self, mode: str = "out", top_n: int = 16, min_share: float = 1.0
    ) -> list:
        """Measured-skew sensor, CACHED per (mode, top_n, min_share) on
        the Graph — the auto-policy entry point for every iterative
        algorithm (operators/skew.py module docs hold the policy table).

        Derives each key's edge-block size from the cached ``degrees``
        table instead of re-aggregating the edge table per algorithm
        call: the per-invocation count + top-n sensor cost ~5% scaling
        efficiency at small parallelism (round-4 2→8 runs: 0.810 auto vs
        0.849 plan-pinned), and repeated calls on the same Graph paid it
        every time. Block sizes per mode — ``out``: out-edge table keyed
        by src (out_deg); ``in``: keyed by dst (in_deg); ``sym``: the
        symmetrized union table wcc joins against (out_deg + in_deg for
        directed graphs; undirected Graphs already store both directions,
        so out_deg IS the symmetric block). Same threshold rule as
        :func:`operators.skew.measured_hub_keys` — a block bigger than
        ``min_share`` × (E_table / num_partitions) makes its key a hub —
        and the same sensor floor (below SKEW_SENSOR_MIN_EDGES the remedy
        can't pay for its own re-key; read dynamically so tests can pin
        it to 0)."""
        from graphscope_spark.operators import skew as skewmod

        ck = (mode, top_n, min_share)
        if ck in self._hub_cache:
            return self._hub_cache[ck]
        if self.num_edges < skewmod.SKEW_SENSOR_MIN_EDGES:
            self._hub_cache[ck] = []
            return []
        sym2 = mode == "sym" and self.directed
        deg = {
            "out": F.col("out_deg"),
            "in": F.col("in_deg"),
            "sym": (F.col("out_deg") + F.col("in_deg")) if sym2
            else F.col("out_deg"),
        }[mode]
        total = self.num_edges * (2 if sym2 else 1)
        if total == 0:
            self._hub_cache[ck] = []
            return []
        threshold = max(1.0, min_share * total / self.num_partitions)
        rows = (
            self.degrees.select("id", deg.alias("deg"))
            .orderBy(F.col("deg").desc(), "id")
            .limit(top_n)
            .collect()
        )
        hubs = sorted(r["id"] for r in rows if r["deg"] > threshold)
        self._hub_cache[ck] = hubs
        return hubs

    @property
    def vertices_cover_edges(self) -> bool:
        """Whether every edge endpoint is in the vertex table — cached.
        True without a job when the vertices were derived from the edges;
        for a caller's vertex table, one aggregate over the cached
        ``degrees``: their out- and in-degree sums count the edges whose
        source and target are vertices, so both equal the edge count
        exactly when no endpoint is missing (a duplicated vertex id that
        has edges makes them exceed it, which also reads False)."""
        if self._covers is None:
            row = self.degrees.agg(
                F.coalesce(F.sum("out_deg"), F.lit(0)).alias("o"),
                F.coalesce(F.sum("in_deg"), F.lit(0)).alias("i"),
            ).first()
            self._covers = row["o"] == row["i"] == self.num_edges
        return self._covers

    @property
    def num_vertices(self) -> int:
        """REPORT_GRAPH NODE_NUM (core/fragment/fragment_reporter.h:66-199)."""
        if self._nv is None:
            self._nv = self.vertices.count()
        return self._nv

    @property
    def num_edges(self) -> int:
        """REPORT_GRAPH EDGE_NUM."""
        if self._ne is None:
            self._ne = self.edges.count()
        return self._ne

    # ------------------------------------------------------------------ #
    # point-lookup reports (REPORT_GRAPH, dag_utils.py:413-489)
    # ------------------------------------------------------------------ #

    def selfloops_num(self) -> int:
        return self.edges.filter(F.col("src") == F.col("dst")).count()

    def has_node(self, vid: int) -> bool:
        return self.vertices.filter(F.col("id") == vid).limit(1).count() > 0

    def has_edge(self, src: int, dst: int) -> bool:
        return (
            self.edges.filter((F.col("src") == src) & (F.col("dst") == dst))
            .limit(1)
            .count()
            > 0
        )

    def successors(self, vid: int) -> DataFrame:
        """SUCCS_BY_NODE — out-neighbors of one vertex."""
        return self.out_edges.filter(F.col("src") == vid).select(
            F.col("dst").alias("id")
        )

    def predecessors(self, vid: int) -> DataFrame:
        """PREDS_BY_NODE — in-neighbors of one vertex."""
        return self.in_edges.filter(F.col("dst") == vid).select(
            F.col("src").alias("id")
        )

    # ------------------------------------------------------------------ #
    # context write-back
    # ------------------------------------------------------------------ #

    def add_column(self, ctx: DataFrame, col: str = "r") -> "Graph":
        """ADD_COLUMN (dag_utils.py:973-994): attach an algorithm result
        (a context DataFrame keyed by ``id``) as a new vertex property."""
        v = self.vertices.join(ctx.select("id", col), "id", "left")
        return Graph(self.edges, v, self.directed, self.num_partitions,
                     self._persist)

    # ------------------------------------------------------------------ #
    # batch mutation (MODIFY_VERTICES / MODIFY_EDGES, dag_utils.py:359-411)
    #
    # The reference mutates a DynamicFragment in place (NetworkX API,
    # grape_instance.cc:365-441). DataFrames are immutable, so the Spark
    # re-expression is BATCH mutation: each call returns a new Graph built
    # from a union / anti-join — the modeling decision recorded in
    # SURVEY.md §1.6 ("batch union instead"). Fine-grained per-call
    # add_node loops are an anti-pattern at any scale; callers accumulate
    # a mutation batch DataFrame and apply it once.
    # ------------------------------------------------------------------ #

    def add_vertices(self, new_vertices: DataFrame) -> "Graph":
        """NX_ADD_NODES — union new ``(id, props…)`` rows; existing ids keep
        their current row (first-writer-wins, like DynamicFragment which
        ignores re-adds of an existing oid)."""
        add = new_vertices.join(self.vertices.select("id"), "id", "left_anti")
        v = self.vertices.unionByName(add, allowMissingColumns=True)
        return Graph(self.edges, v, self.directed, self.num_partitions,
                     self._persist, assume_symmetric=not self.directed)

    def remove_vertices(self, ids: DataFrame) -> "Graph":
        """NX_DEL_NODES — drop the vertices AND their incident edges
        (DynamicFragment deletes adjacency rows with the vertex)."""
        ids = ids.select("id")
        v = self.vertices.join(ids, "id", "left_anti")
        e = (
            self.out_edges
            .join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select(self.edges.columns)
        )
        return Graph(e, v, self.directed, self.num_partitions,
                     self._persist, assume_symmetric=not self.directed)

    def add_edges(self, new_edges: DataFrame) -> "Graph":
        """NX_ADD_EDGES — union new ``(src, dst, props…)`` rows; endpoints
        missing from the vertex table are added (NetworkX add_edge
        semantics). Undirected graphs re-canonicalize so the
        both-directions invariant holds for the merged table."""
        e = self.edges.unionByName(new_edges, allowMissingColumns=True)
        ends = (
            new_edges.select(F.col("src").alias("id"))
            .union(new_edges.select(F.col("dst").alias("id")))
            .distinct()
            .join(self.vertices.select("id"), "id", "left_anti")
        )
        v = self.vertices.unionByName(ends, allowMissingColumns=True)
        # assume_symmetric=False: the constructor symmetrizes + dedups the
        # merged edge table for undirected graphs (also dedups re-added
        # existing edges, matching DynamicFragment upsert semantics for
        # prop-less edges)
        return Graph(e, v, self.directed, self.num_partitions, self._persist)

    def remove_edges(self, pairs: DataFrame) -> "Graph":
        """NX_DEL_EDGES — anti-join on (src, dst); for undirected graphs
        both orientations of each pair are removed."""
        pairs = pairs.select("src", "dst")
        if not self.directed:
            pairs = pairs.union(
                pairs.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))
            )
        e = self.out_edges.join(pairs, ["src", "dst"], "left_anti").select(
            self.edges.columns
        )
        return Graph(e, self.vertices, self.directed, self.num_partitions,
                     self._persist, assume_symmetric=not self.directed)

    # ------------------------------------------------------------------ #
    # graph-level serialize / deserialize (SERIALIZE_GRAPH /
    # DESERIALIZE_GRAPH, dag_utils.py:1085-1176; the GraphAr ARCHIVE_GRAPH
    # surface, dag_utils.py save_to/load_from) — vertex and edge tables as
    # parquet datasets plus a tiny JSON metadata table, all through the
    # Spark writers so the same call works on local disk, HDFS, or S3.
    # ------------------------------------------------------------------ #

    def save(self, path: str, mode: str = "error") -> None:
        """Archive this graph under ``path`` (three datasets:
        ``vertices/``, ``edges/``, ``meta/``)."""
        self.vertices.write.mode(mode).parquet(f"{path}/vertices")
        self.edges.write.mode(mode).parquet(f"{path}/edges")
        meta = self.spark.createDataFrame(
            [(self.directed, self.num_partitions, 1)],
            "directed boolean, num_partitions int, version int",
        )
        meta.coalesce(1).write.mode(mode).json(f"{path}/meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             num_partitions: int | None = None) -> "Graph":
        """Restore a graph archived by :meth:`save`. Edges were written
        post-canonicalization, so the undirected both-directions invariant
        already holds (``assume_symmetric=True`` skips the re-dedup)."""
        meta = spark.read.json(f"{path}/meta").first()
        return cls(
            spark.read.parquet(f"{path}/edges"),
            spark.read.parquet(f"{path}/vertices"),
            directed=bool(meta["directed"]),
            num_partitions=num_partitions or int(meta["num_partitions"]),
            assume_symmetric=True,
        )

    def save_to(self, path: str, format: str = "graphar", **kwargs) -> dict:
        """Reference-parity archive facade (python/graphscope/framework/
        graph.py save_to / dag_utils.py:1085-1113 save_to_graphar):
        ``format="graphar"`` emits the GraphAr v1 layout and returns
        ``{"type": "graphar", "URI": "graphar+file://..."}``; any other
        format falls back to the plain parquet archive (:meth:`save`).
        GraphAr knobs use the reference's kwarg names
        (``graphar_graph_name``, ``graphar_vertex_chunk_size``,
        ``graphar_edge_chunk_size`` — test_graphar.py:36-48)."""
        if format == "graphar":
            from graphscope_spark.sources.graphar import save_to_graphar

            uri = save_to_graphar(
                self, path,
                name=kwargs.get("graphar_graph_name", "graph"),
                vertex_chunk_size=kwargs.get(
                    "graphar_vertex_chunk_size", 1 << 18),
                edge_chunk_size=kwargs.get(
                    "graphar_edge_chunk_size", 1 << 20),
            )
            return {"type": "graphar", "URI": uri}
        self.save(path, mode=kwargs.get("mode", "error"))
        return {"type": format, "URI": f"file://{path}"}

    @classmethod
    def load_from(cls, uri: str, sess: SparkSession,
                  num_partitions: int | None = None) -> "Graph":
        """Reference-parity restore: ``graphar+file://`` URIs route to the
        GraphAr reader, anything else to the plain parquet archive."""
        if uri.startswith("graphar"):
            from graphscope_spark.sources.graphar import load_from_graphar

            return load_from_graphar(sess, uri, num_partitions)
        path = uri[len("file://"):] if uri.startswith("file://") else uri
        return cls.load(sess, path, num_partitions)

    def save_bucketed(self, name: str, mode: str = "error") -> None:
        """Archive this graph as BUCKETED catalog tables: edges bucketed +
        sorted by ``src`` into ``num_partitions`` buckets (``<name>_edges``),
        vertices bucketed by ``id`` (``<name>_vertices``), and a one-row
        ``<name>_meta``. The 100 TB cold-start lever the plain parquet
        archive (:meth:`save`) lacks: a bucketed scan already satisfies the
        hash distribution the superstep join/groupBy needs, so the first
        pass over a reloaded graph skips the edge-side Exchange entirely
        (plan-asserted in tests/test_graph_io.py) — the on-disk layout IS
        the fragment partitioning, exactly how the reference's persisted
        fragments reload pre-partitioned (docs/frag_intro.md:24-112).
        Requires a catalog (in-memory catalog locally; Hive/Glue on a
        cluster, where the registration also survives restarts)."""
        (self.edges.write.mode(mode)
         .bucketBy(self.num_partitions, "src").sortBy("src")
         .format("parquet").saveAsTable(f"{name}_edges"))
        (self.vertices.write.mode(mode)
         .bucketBy(self.num_partitions, "id")
         .format("parquet").saveAsTable(f"{name}_vertices"))
        meta = self.spark.createDataFrame(
            [(self.directed, self.num_partitions, 1)],
            "directed boolean, num_partitions int, version int",
        )
        meta.write.mode(mode).format("parquet").saveAsTable(f"{name}_meta")

    @classmethod
    def load_bucketed(cls, spark: SparkSession, name: str) -> "Graph":
        """Restore a graph archived by :meth:`save_bucketed`. The edge
        DataFrame comes from the bucketed catalog table, so downstream
        src-keyed joins/aggregations read it exchange-free."""
        meta = spark.table(f"{name}_meta").first()
        return cls(
            spark.table(f"{name}_edges"),
            spark.table(f"{name}_vertices"),
            directed=bool(meta["directed"]),
            num_partitions=int(meta["num_partitions"]),
            assume_symmetric=True,
            assume_src_bucketed=True,
        )

    def unpersist(self) -> None:
        for df in (self.vertices, self.out_edges, self.in_edges, self._degrees):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
