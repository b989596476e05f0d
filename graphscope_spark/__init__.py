"""graphscope_spark — a PySpark-native link-graph analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of
GraphScope's GRAPE analytical engine (reference: lnfjpt/GraphScope),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst,
iterative vertex-centric supersteps as join + groupBy stages, vectorized
pandas/Arrow UDFs for the few things built-ins can't express.

Layout:
  session     — SparkSession factory tuned for graph supersteps (AQE, Arrow)
  _zipguard   — in Spark's Python workers, re-read a zip's directory only
                when the zip changed (not on every task)
  graph       — Graph substrate: vertices/edges DataFrames, dense ids, degrees
  pregel      — superstep kernel + declarative vertex_program API
                (@pregel analog): message join/agg loop, convergence votes,
                checkpoint + per-partition lineage + resume
  algorithms  — PageRank, WCC, CDLP/LPA, triangles, SSSP, BFS, centralities…
  operators   — GIE-style relational/dataflow operator surface on DataFrames
  functions   — corpus pipeline ops: dedup (exact/MinHash/SimHash), ANN
                similarity (brute force / sign-LSH / IVF), text analysis,
                multimodal plumbing
  corpus      — deterministic synthetic source-repo corpus + edge extraction
  gremlin     — Gremlin-subset fluent traversal DSL → single Catalyst plans
  cypher      — Cypher-subset front end (MATCH/OPTIONAL MATCH/WHERE/RETURN)
  nx          — NetworkX-compat facade: Graph/DiGraph + builtin algorithms
  sampling    — GNN training-data sampling: k-hop fanouts, walks, negatives
  property_graph — multi-label property graph: project/flatten/bipartite
  streaming   — Structured-Streaming incremental WCC, windowed degrees,
                applyInPandasWithState stateful operators
"""

__version__ = "0.1.0"

from graphscope_spark import _zipguard
from graphscope_spark.graph import Graph  # noqa: F401
from graphscope_spark.session import get_spark  # noqa: F401

_zipguard.install()
