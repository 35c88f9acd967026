"""Triangle counting — pure DataFrame two-hop join (Catalyst-optimized).

Mandated by the north rule (no reference counterpart).  Undirected
semantics, each triangle counted exactly once via canonical orientation:
symmetrize, keep ``src < dst``, then

    e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)   with a < b < c

This is the standard published approach; no pandas UDF needed — the
three-way equi-join stays entirely JVM-side (sort-merge/shuffled hash,
AQE re-plans at runtime), so it scales with the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set, one row per edge, oriented src < dst."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )


def triangle_count(edges: DataFrame) -> int:
    """Total number of distinct triangles in the undirected graph."""
    return int(triangles_df(edges).agg(F.count("*").alias("n")).collect()[0]["n"])


def triangles_df(edges: DataFrame) -> DataFrame:
    """DataFrame[a, b, c] of distinct triangles (one row per triangle).

    Edges are oriented from the lower-(degree, id) endpoint to the
    higher one before the two-hop join (node-iterator++ / Latapy
    orientation): every vertex's out-neighborhood in the oriented graph
    is O(sqrt(|E|))-bounded, so hub vertices don't explode the e1⋈e2
    intermediate the way plain id-ordering does (measured 260s -> ~10s
    on a 515k-edge Zipf import graph).  Triangle set is identical —
    each triangle has exactly one orientation-respecting (a->b->c,
    a->c) embedding.
    """
    canon = canonical_edges(edges)
    # one scan of canon for both endpoints (explode) instead of a
    # two-branch union — halves the pre-shuffle scans of the edge set;
    # the count per vertex is identical
    deg = (
        canon.select(F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        canon.join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "sdeg"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "ddeg"), "dst")
    )
    src_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = with_deg.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )
    # The oriented edge set feeds all three join legs; the legs' shuffle
    # stages run concurrently, so without an eagerly-filled cache each
    # leg re-executes the whole canonicalize+degree+orient subtree
    # (measured: duplicate 13 MB union/distinct stages per run).  A
    # local checkpoint, not a cache, so no entry outlives the call (the
    # near_duplicates pattern); its |E|-bounded blocks go with the result.
    oriented = oriented.localCheckpoint(eager=True)
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """DataFrame[id, triangles]: number of triangles incident to each vertex."""
    t = triangles_df(edges)
    stacked = (
        t.select(F.col("a").alias("id"))
        .union(t.select(F.col("b").alias("id")))
        .union(t.select(F.col("c").alias("id")))
    )
    return stacked.groupBy("id").agg(F.count("*").alias("triangles"))
