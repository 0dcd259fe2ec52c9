"""spark-covergrid: a from-scratch PySpark-native spatial-join + tiling engine.

Rebuilds the computational semantics of ``gabe-raulet/ParallelCoverTree``
(level-batched cover-tree construction, farthest-point traversal, epsilon-radius
neighbor joins, brute-force-verified kNN) as idiomatic Spark DataFrame dataflow
over web-scale document tables, plus the training-data-pipeline operators a
100 TB corpus needs (dedup, similarity search, text analysis, multimodal
plumbing).

Nothing in here is a port of the reference's C++/MPI execution engine; MPI
collectives map to Spark shuffle/broadcast/aggregate primitives (see SURVEY.md
section 2 for the operator-by-operator mapping with reference citations).
"""

from parallelcovertree_spark import _worker_zipimport  # noqa: F401  (zipimport fix)
from parallelcovertree_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
