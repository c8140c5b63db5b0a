"""verum-spark: a PySpark-native link-graph analytics engine.

A from-scratch rebuild of the capabilities of vz-risk/Verum (a Python 2.7
NetworkX/Neo4j "context graph" security-analytics toolkit, see SURVEY.md) as
an idiomatic Spark engine:

- **derive**: vectorized (Arrow/pandas-UDF + builtin) derivation of an edge
  table (repo->path, path->lang, repo->commit, content-hash co-occurrence)
  from a source-code corpus table ``(repo, path, commit, lang, content)``.
- **graph**: columnar vertex/edge tables, dense long vertex ids, CSR-like
  hash-partitioned src-sorted Parquet layout, bucketed edge tables.
- **algos**: iterative DataFrame algorithms — PageRank (damped, with
  dangling-mass redistribution, optional personalization = Verum's
  topic-sensitive scoring, and warm starts from prior ranks), connected
  components (large-star/small-star), synchronous label propagation,
  degree-ordered triangle counting, Verum's k-hop context query (BFS with
  dont_follow vertex-type pruning), k-core decomposition (h-index
  fixpoint), link-prediction scores (common/Jaccard/Adamic–Adar),
  strongly connected components, topological layering, PPR sweep cuts,
  butterfly counting, and weighted multi-source shortest paths.
- **incremental**: batch-fold graph maintenance — stable vertex ids,
  per-hash co-occurrence deltas, exact equivalence to a full rebuild.
- **checkpointing**: every iteration persists state + per-partition lineage
  and convergence metrics; runs resume mid-iteration from the last committed
  checkpoint.

No RDD API in the engine, no per-row Python UDFs anywhere; all Python that
touches data is Arrow-vectorized. See SURVEY.md for the full blueprint and
the mapping to the reference's operators (Table A) — the reference mount was
empty, so reference citations are reconstructed [R] locations, e.g.
``[R verum/__init__.py::app.run_enrichments]``.
"""

__version__ = "0.1.0"
