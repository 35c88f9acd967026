"""pcgraph — a PySpark-native partition-centric link-graph analytics engine.

A from-scratch re-expression (NOT a port) of the capabilities of
vasia/gelly-partition-centric (Flink/Gelly partition-centric iterations,
/root/reference) in idiomatic PySpark: DataFrames + Arrow-backed CSR
blocks + grouped-map pandas kernels that run many local supersteps per
global shuffle.
"""

from .engine import PCEngine
from .partition import GraphBlocks, degrees, vertex_ids
from .session import get_spark

__all__ = [
    "PCEngine",
    "GraphBlocks",
    "degrees",
    "vertex_ids",
    "get_spark",
]
