"""Graph sources/sinks.

The reference reads KONECT/SNAP whitespace edge-list text
(/root/reference/data/us_airport_network/README.opsahl-usairport:
"First column: ID of from node / Second column: ID of to node / Third
column: edge weight"; comment lines start with '%').  ``read_edge_list``
is the Spark-native equivalent — declarative split/filter so Catalyst
prunes and the text scan parallelizes by line ranges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_edge_list(
    spark: SparkSession, path: str, weighted: bool = False, comment: str = "%"
) -> DataFrame:
    """Read a KONECT-style whitespace edge list -> DataFrame[src, dst(,weight)].

    Lines starting with ``comment`` (KONECT metadata) or '#' (SNAP) are
    dropped; extra columns beyond the requested ones are ignored.
    """
    lines = spark.read.text(path)
    rows = lines.filter(
        ~F.col("value").startswith(comment)
        & ~F.col("value").startswith("#")
        & (F.trim(F.col("value")) != "")
    ).select(F.split(F.trim(F.col("value")), r"\s+").alias("f"))
    # F.get is null-safe on short rows (ANSI mode would make getItem throw)
    cols = [
        F.get(F.col("f"), 0).cast("long").alias("src"),
        F.get(F.col("f"), 1).cast("long").alias("dst"),
    ]
    if weighted:
        cols.append(
            F.coalesce(F.get(F.col("f"), 2).cast("double"), F.lit(1.0)).alias(
                "weight"
            )
        )
    out = rows.select(*cols)
    return out.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())


def write_edge_list(edges: DataFrame, path: str) -> None:
    """Write DataFrame[src, dst(, weight)] as whitespace text (KONECT shape)."""
    cols = [F.col(c).cast("string") for c in edges.columns]
    edges.select(F.concat_ws(" ", *cols).alias("value")).write.mode(
        "overwrite"
    ).text(path)

