"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Graph queries derive deterministic link graphs from the TPC-H-ish
tables (part->supplier dependency edges, supplier co-occurrence edges,
nation co-trade edges) and run the pcgraph partition-centric engine on
them; the DuckDB oracles re-express the same semantics in ANSI SQL
(fixed-iteration unrolling for PageRank/LP, recursive CTE for CC).
Data-pipeline queries (dedup, minhash, jaccard, knn, text stats) run on
the documents/embeddings tables with engine-portable hashing (sha256).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DAMPING = 0.85
PR_ITERS = 5
LP_ITERS = 2
SUPP_OFFSET = 1000000


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- graphs
def _supplier_cooccurrence_edges(spark, sf_dir) -> DataFrame:
    """Directed-symmetric supplier co-occurrence: suppliers sharing a part."""
    ps = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    a = ps.select("l_partkey", F.col("l_suppkey").alias("src"))
    b = ps.select("l_partkey", F.col("l_suppkey").alias("dst"))
    return (
        a.join(b, "l_partkey")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


_COOC_SQL = """
ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM ps a JOIN ps b USING (l_partkey)
      WHERE a.l_suppkey <> b.l_suppkey)
"""

_SHINGLE_SQL = """
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents),
sh AS (SELECT DISTINCT a.doc_id AS id, a.t || ' ' || b.t || ' ' || c.t AS shingle
       FROM tok a
       JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
       UNION
       SELECT doc_id AS id, text AS shingle FROM documents
       WHERE len(string_split(text, ' ')) < 3),
sigs AS (SELECT id,
                min(sha256('s0|' || shingle)) AS sig0,
                min(sha256('s1|' || shingle)) AS sig1,
                min(sha256('s2|' || shingle)) AS sig2,
                min(sha256('s3|' || shingle)) AS sig3
         FROM sh GROUP BY id)
"""


def _strong_sigs_sql(n_perms: int = 64) -> str:
    """_SHINGLE_SQL variant with n_perms minhash signatures (seed
    strings s0..s{n-1}, mirroring dedup.make_seeds)."""
    sig_cols = ",\n                ".join(
        f"min(sha256('s{i}|' || shingle)) AS sig{i}" for i in range(n_perms)
    )
    base = _SHINGLE_SQL.rsplit("sigs AS", 1)[0]
    return base + f"""sigs AS (SELECT id,
                {sig_cols}
         FROM sh GROUP BY id)"""


def _near_duplicates_strong_sql(n_perms: int = 64, n_bands: int = 32) -> str:
    per = n_perms // n_bands
    band_cte = ",\n            ".join(
        f"b{b} AS (SELECT id, "
        + " || '|' || ".join(f"sig{b * per + j}" for j in range(per))
        + " AS band FROM sigs)"
        for b in range(n_bands)
    )
    pair_union = "\n                UNION\n                ".join(
        f"SELECT a.id AS id1, b.id AS id2 FROM b{b} a "
        f"JOIN b{b} b ON a.band = b.band AND a.id < b.id"
        for b in range(n_bands)
    )
    return f"""
            WITH {_strong_sigs_sql(n_perms)},
            {band_cte},
            pairs AS (
                {pair_union}),
            sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (SELECT p.id1, p.id2, count(*) AS n_inter
                      FROM pairs p
                      JOIN sh s1 ON s1.id = p.id1
                      JOIN sh s2 ON s2.id = p.id2 AND s2.shingle = s1.shingle
                      GROUP BY 1, 2)
            SELECT i.id1, i.id2,
                   round(n_inter::DOUBLE / (z1.n + z2.n - n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes z1 ON z1.id = i.id1
            JOIN sizes z2 ON z2.id = i.id2
            WHERE round(n_inter::DOUBLE / (z1.n + z2.n - n_inter), 6) >= 0.2
        """


def _pagerank_sql() -> str:
    body = f"""WITH {_COOC_SQL},
verts AS (SELECT s_suppkey AS id FROM supplier),
deg AS (SELECT src AS id, count(*)::DOUBLE AS deg FROM e GROUP BY 1),
nn AS (SELECT count(*)::DOUBLE AS n FROM supplier),
pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM verts)"""
    for k in range(1, PR_ITERS + 1):
        body += f""",
msg{k} AS (SELECT e.dst AS id, sum(p.pr / dg.deg) AS s
           FROM pr{k-1} p JOIN deg dg ON dg.id = p.id
           JOIN e ON e.src = p.id GROUP BY 1),
dang{k} AS (SELECT COALESCE(sum(p.pr), 0.0) AS d
            FROM pr{k-1} p LEFT JOIN deg dg ON dg.id = p.id
            WHERE dg.id IS NULL),
pr{k} AS (SELECT v.id,
                 (1 - {DAMPING}) / (SELECT n FROM nn)
                 + {DAMPING} * (COALESCE(m.s, 0.0)
                                + (SELECT d FROM dang{k}) / (SELECT n FROM nn)) AS pr
          FROM verts v LEFT JOIN msg{k} m ON m.id = v.id)"""
    body += f"\nSELECT id, round(pr, 9) AS pr FROM pr{PR_ITERS}"
    return body


# Injective remap putting ~half the vertex ids below zero — the
# production id space is xxhash64-derived (negative ~half the time), and
# LP labels ARE ids, so the gate must cover negative labels (the round-1
# '-1 sentinel' bug was invisible to all-positive oracles).
_HASH_MUL = 1000003


def _hashid_spark(col):
    return F.when(col % 2 == 0, -(col * _HASH_MUL)).otherwise(col * _HASH_MUL)


def _hashid_sql(x: str) -> str:
    return (
        f"CASE WHEN {x} % 2 = 0 THEN -({x} * {_HASH_MUL}) "
        f"ELSE {x} * {_HASH_MUL} END"
    )


def _labelprop_sql(hashed: bool = False) -> str:
    if hashed:
        body = f"""WITH {_COOC_SQL},
eh AS (SELECT {_hashid_sql('src')} AS src, {_hashid_sql('dst')} AS dst FROM e),
verts AS (SELECT {_hashid_sql('s_suppkey')} AS id FROM supplier),
lab0 AS (SELECT id, id AS label FROM verts)"""
        edge_rel = "eh"
    else:
        body = f"""WITH {_COOC_SQL},
verts AS (SELECT s_suppkey AS id FROM supplier),
lab0 AS (SELECT id, id AS label FROM verts)"""
        edge_rel = "e"
    for k in range(1, LP_ITERS + 1):
        body += f""",
cnt{k} AS (SELECT e.dst AS id, l.label, count(*) AS c
           FROM lab{k-1} l JOIN {edge_rel} e ON e.src = l.id GROUP BY 1, 2),
pick{k} AS (SELECT id, label FROM (
              SELECT id, label,
                     row_number() OVER (PARTITION BY id
                                        ORDER BY c DESC, label ASC) AS rn
              FROM cnt{k}) WHERE rn = 1),
lab{k} AS (SELECT v.id, COALESCE(p.label, l.label) AS label
           FROM verts v
           JOIN lab{k-1} l ON l.id = v.id
           LEFT JOIN pick{k} p ON p.id = v.id)"""
    body += f"\nSELECT id, label FROM lab{LP_ITERS}"
    return body


# ---------------------------------------------------------------- queries
def q_derive_edges(spark, sf_dir):
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .agg(F.count("*").alias("weight"))
    )


def q_symmetrize(spark, sf_dir):
    from pcgraph.algos.cc import symmetrize

    e = (
        _read(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    return symmetrize(e)


def q_degrees(spark, sf_dir):
    from pcgraph.partition import degrees

    e = (
        _read(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    return degrees(e)


def q_top_degree(spark, sf_dir):
    return (
        q_degrees(spark, sf_dir)
        .orderBy(F.col("out_deg").desc(), F.col("id").asc())
        .limit(10)
    )


def _nation_edges(spark, sf_dir) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_cc_nations(spark, sf_dir):
    from pcgraph.algos.cc import connected_components

    nation = _read(spark, sf_dir, "nation")
    result, _ = connected_components(
        spark,
        _nation_edges(spark, sf_dir),
        vertices=nation.select(F.col("n_nationkey").alias("id")),
        num_partitions=4,
    )
    return result


def q_cc_incremental(spark, sf_dir):
    """Same CC semantics through the INCREMENTAL state loop — since r4
    the delta-version store (engine._DeltaState + DeltaStateStore):
    each round appends ONLY its changed rows as a new version,
    min-reconciled on read — O(changed) rounds.  Gated by the same
    oracle as cc_nations; equality proves the versioned min-merge
    preserves the classic loop's semantics."""
    import tempfile

    from pcgraph.algos.cc import connected_components

    nation = _read(spark, sf_dir, "nation")
    result, _ = connected_components(
        spark,
        _nation_edges(spark, sf_dir),
        vertices=nation.select(F.col("n_nationkey").alias("id")),
        num_partitions=4,
        incremental=True,
        state_store_dir=tempfile.mkdtemp(prefix="pcgraph_q_cc_inc_"),
        n_buckets=8,
    )
    return result


def q_sssp_incremental(spark, sf_dir):
    """SSSP through the incremental state loop — since r4 the
    delta-version store (O(changed) appends, min-reconciled reads; the
    wavefront algorithm those rounds exist for); same oracle as
    sssp_nations."""
    import tempfile

    from pcgraph.algos.sssp import sssp

    result, _ = sssp(
        spark,
        _nation_weighted_edges(spark, sf_dir),
        source=0,
        num_partitions=4,
        incremental=True,
        state_store_dir=tempfile.mkdtemp(prefix="pcgraph_q_sssp_inc_"),
        n_buckets=8,
    )
    return result.filter(F.col("distance") != float("inf")).select(
        "id", "distance"
    )


def q_pagerank(spark, sf_dir):
    from pcgraph.algos.pagerank import pagerank

    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    supp = _read(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("id"))
    result, _ = pagerank(
        spark,
        edges,
        vertices=supp,
        damping=DAMPING,
        tol=0.0,  # run exactly PR_ITERS rounds to mirror the unrolled SQL
        max_iter=PR_ITERS,
        num_partitions=8,
    )
    return result.select("id", F.round("pagerank", 9).alias("pr"))


def q_label_prop(spark, sf_dir):
    from pcgraph.algos.labelprop import label_propagation

    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    supp = _read(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("id"))
    result, _ = label_propagation(
        spark,
        edges,
        vertices=supp,
        max_iter=LP_ITERS,
        num_partitions=8,
        directed=True,  # co-occurrence edges already contain both directions
    )
    return result


def q_label_prop_hashed(spark, sf_dir):
    """LPA on the same co-occurrence graph with ids remapped so ~half
    are NEGATIVE — the production (xxhash64-derived) id regime; guards
    the presence-mask fix in lp_kernel (labels are ids, so a positive-
    only oracle cannot see a dropped-negative-label bug)."""
    from pcgraph.algos.labelprop import label_propagation

    edges = _supplier_cooccurrence_edges(spark, sf_dir).select(
        _hashid_spark(F.col("src")).alias("src"),
        _hashid_spark(F.col("dst")).alias("dst"),
    )
    supp = _read(spark, sf_dir, "supplier").select(
        _hashid_spark(F.col("s_suppkey")).alias("id")
    )
    result, _ = label_propagation(
        spark,
        edges,
        vertices=supp,
        max_iter=LP_ITERS,
        num_partitions=8,
        directed=True,
    )
    return result


def q_triangles(spark, sf_dir):
    from pcgraph.algos.triangles import triangles_df

    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    return triangles_df(edges).agg(F.count("*").alias("n_triangles"))


def q_triangles_per_vertex(spark, sf_dir):
    from pcgraph.algos.triangles import triangle_count_per_vertex

    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    return triangle_count_per_vertex(edges)


def _nation_weighted_edges(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn(
            "weight",
            ((F.col("src") * 7 + F.col("dst") * 3) % 5 + 1).cast("double"),
        )
    )


def q_sssp_nations(spark, sf_dir):
    from pcgraph.algos.sssp import sssp

    result, _ = sssp(
        spark, _nation_weighted_edges(spark, sf_dir), source=0, num_partitions=4
    )
    return result.filter(F.col("distance") != float("inf")).select(
        "id", "distance"
    )


# Provable Bellman-Ford bound for the 25-node nation graph: any shortest
# path has <= n_vertices - 1 = 24 hops, so the unrolled oracle is exact
# regardless of data scale (an iteration-count-dependent oracle would
# silently become the wrong side of the comparison on a deeper graph).
_SSSP_ITERS = 24


def _sssp_sql() -> str:
    # MATERIALIZED: DuckDB inlines plain CTEs, so 24 unrolled rounds
    # would re-open the 4-table join's parquet files 24x (EMFILE).
    body = """WITH en AS MATERIALIZED (
           SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           WHERE c.c_nationkey <> s.s_nationkey),
e AS MATERIALIZED (
     SELECT a AS src, b AS dst, ((a*7 + b*3) % 5 + 1)::DOUBLE AS w FROM en),
d0 AS (SELECT CAST(0 AS BIGINT) AS id, 0.0 AS dist)"""
    # every round MATERIALIZED: d{k} references d{k-1} twice, so plain
    # (inlined) CTEs would blow the plan up 2^24-fold
    for k in range(1, _SSSP_ITERS + 1):
        body += f""",
d{k} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
           SELECT id, dist FROM d{k-1}
           UNION ALL
           SELECT e.dst AS id, d.dist + e.w AS dist
           FROM d{k-1} d JOIN e ON e.src = d.id) GROUP BY id)"""
    body += f"\nSELECT id, dist AS distance FROM d{_SSSP_ITERS}"
    return body


def q_dedup_exact(spark, sf_dir):
    from pcgraph.datapipe.dedup import exact_duplicates

    return exact_duplicates(_read(spark, sf_dir, "documents"))


def q_minhash_signatures(spark, sf_dir):
    from pcgraph.datapipe.dedup import minhash_signatures, word_shingles

    return minhash_signatures(word_shingles(_read(spark, sf_dir, "documents")))


def q_lsh_candidates(spark, sf_dir):
    from pcgraph.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    sigs = minhash_signatures(word_shingles(_read(spark, sf_dir, "documents")))
    return lsh_candidate_pairs(sigs)


def q_near_duplicates(spark, sf_dir):
    from pcgraph.datapipe.dedup import near_duplicates

    return near_duplicates(_read(spark, sf_dir, "documents"), threshold=0.2)


def q_near_duplicates_strong(spark, sf_dir):
    """The recall-grade MinHash config (64 perms / 32 bands -> 2 rows
    per band, LSH S-curve midpoint ~0.18) through the same pipeline —
    oracle-gates the n_perms/n_bands parameterization (dedup.py
    make_seeds/near_duplicates)."""
    from pcgraph.datapipe.dedup import near_duplicates

    return near_duplicates(
        _read(spark, sf_dir, "documents"), threshold=0.2,
        n_perms=64, n_bands=32,
    )


def q_simhash(spark, sf_dir):
    # sha256-parity formulation: bit-identical in any ANSI engine, so
    # the row gets a real value-hash oracle (the xxhash64 fast path in
    # dedup.simhash64 has no DuckDB counterpart).
    from pcgraph.datapipe.dedup import simhash_portable

    return simhash_portable(_read(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):
    from pcgraph.datapipe.textstats import token_stats

    stats = token_stats(_read(spark, sf_dir, "documents"))
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_quality_score(spark, sf_dir):
    from pcgraph.datapipe.textstats import quality_score

    return quality_score(_read(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    from pcgraph.datapipe.textstats import fingerprint

    return fingerprint(_read(spark, sf_dir, "documents"))


def q_knn_bruteforce(spark, sf_dir):
    from pcgraph.datapipe.similarity import cosine_topk_bruteforce

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_bruteforce(emb, queries, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_knn_ivf(spark, sf_dir):
    """ANN through the ENGINE-TRAINED quantizer: deterministic k-means
    (init = lowest-id vectors, fixed iterations, 6-decimal rounding)
    + 2-probe bucket join; the oracle unrolls the identical Lloyd's
    iterations in SQL."""
    from pcgraph.datapipe.similarity import cosine_topk_ivf

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf(
        emb, queries, k=3, n_centroids=_IVF_CENTROIDS, iters=_IVF_ITERS,
        n_probe=_IVF_PROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_knn_bucketed(spark, sf_dir):
    """Bucketed variant for corpora with a PRECOMPUTED cluster id (the
    upstream-assignment path; the trained path is q_knn_ivf)."""
    from pcgraph.datapipe.similarity import cosine_topk_bucketed

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_bucketed(emb, queries, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


_IVF_CENTROIDS = 8
_IVF_ITERS = 2
_IVF_PROBE = 2


def _knn_ivf_sql() -> str:
    """The same deterministic Lloyd's k-means + 2-probe IVF search,
    unrolled as DuckDB CTEs (one assign/update pair per iteration)."""
    body = f"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS bucket, v AS cvec
       FROM emb ORDER BY vec_id LIMIT {_IVF_CENTROIDS})"""
    for r in range(1, _IVF_ITERS + 1):
        body += f""",
a{r} AS (SELECT vec_id, bucket FROM (
    SELECT e.vec_id, c.bucket,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                                       c.bucket ASC) AS rn
    FROM emb e CROSS JOIN c{r-1} c) WHERE rn = 1),
m{r} AS (SELECT a.bucket, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS val
         FROM a{r} a JOIN emb e USING (vec_id)),
g{r} AS (SELECT bucket, pos, round(avg(val), 6) AS val FROM m{r} GROUP BY 1, 2),
n{r} AS (SELECT bucket, list(val ORDER BY pos) AS cvec FROM g{r} GROUP BY bucket),
c{r} AS (SELECT c.bucket, COALESCE(n.cvec, c.cvec) AS cvec
         FROM c{r-1} c LEFT JOIN n{r} n USING (bucket))"""
    body += f""",
corp AS (SELECT vec_id AS neighbor_id, bucket, v AS cv FROM (
    SELECT e.vec_id, e.v, c.bucket,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                                       c.bucket ASC) AS rn
    FROM emb e CROSS JOIN c{_IVF_ITERS} c) WHERE rn = 1),
qs AS (SELECT vec_id, v FROM emb WHERE vec_id < 5),
qp AS (SELECT vec_id AS query_id, v AS qv, bucket FROM (
    SELECT q.vec_id, q.v, c.bucket,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_cosine_similarity(q.v, c.cvec), 6) DESC,
                                       c.bucket ASC) AS rn
    FROM qs q CROSS JOIN c{_IVF_ITERS} c) WHERE rn <= {_IVF_PROBE}),
cand AS (SELECT DISTINCT q.query_id, p.neighbor_id,
                list_cosine_similarity(q.qv, p.cv) AS cos
         FROM qp q JOIN corp p USING (bucket)
         WHERE p.neighbor_id <> q.query_id)
SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM cand) WHERE rank <= 3"""
    return body


def q_knn_ivf_recall(spark, sf_dir):
    """Recall@3 of the trained IVF index vs exact brute force, PER
    QUERY — the honesty metric for the ANN trade promoted into the
    oracle-gated correctness surface (the oracle recomputes both top-k
    sets and the same intersection)."""
    from pcgraph.datapipe.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk_ivf(
        emb, queries, k=3, n_centroids=_IVF_CENTROIDS, iters=_IVF_ITERS,
        n_probe=_IVF_PROBE,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    totals = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return totals.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact"), 6
        ).alias("recall"),
    )


def _knn_ivf_recall_sql() -> str:
    return f"""
        WITH approx AS ({_knn_ivf_sql()}),
        q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) AS cos
                   FROM q CROSS JOIN embeddings c
                   WHERE c.vec_id <> q.vec_id),
        exact AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= 3),
        hits AS (SELECT e.query_id, count(*) AS n_hits
                 FROM exact e JOIN approx a
                   ON a.query_id = e.query_id
                  AND a.neighbor_id = e.neighbor_id
                 GROUP BY 1),
        totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1)
        SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits,
               round(COALESCE(h.n_hits, 0)::DOUBLE / t.n_exact, 6) AS recall
        FROM totals t LEFT JOIN hits h ON h.query_id = t.query_id
    """


def q_dedup_embedding(spark, sf_dir):
    # embedding-cosine leg of the dedup family (exact all-pairs is the
    # correctness baseline; pcgraph.datapipe.similarity.
    # cosine_near_duplicates(n_centroids=...) is the IVF-blocked scale path)
    from pcgraph.datapipe.similarity import cosine_near_duplicates

    return cosine_near_duplicates(
        _read(spark, sf_dir, "embeddings"), threshold=0.38
    )


def q_lang_id(spark, sf_dir):
    from pcgraph.datapipe.textstats import language_id

    lid = language_id(_read(spark, sf_dir, "documents"))
    return lid.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in lid.columns if c.startswith("score_")],
        "predicted_lang",
    )


def _lang_id_sql() -> str:
    # Generated from the same LANG_MARKERS dict the Spark op uses —
    # single source of truth for the marker lists and the
    # max-score/alphabetical tie-break.
    from pcgraph.datapipe.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = ",\n        ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({}))) AS score_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    values = ", ".join(f"('{lang}', score_{lang})" for lang in langs)
    return f"""
    WITH scored AS (
      SELECT doc_id,
        {score_cols}
      FROM documents)
    SELECT doc_id, {', '.join('score_' + lang for lang in langs)},
           (SELECT lang FROM (VALUES {values}) AS t(lang, s)
            ORDER BY s DESC, lang ASC LIMIT 1) AS predicted_lang
    FROM scored"""


def q_events_hourly(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_tpch_pricing(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------- contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: supplier co-occurrence graph at sf0.001 -> PageRank to
    L1 < 1e-6 -> ranked result."""
    from pcgraph.algos.pagerank import pagerank

    sf_dir = "/root/testdata/sf0.001"
    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    supp = _read(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("id"))
    result, _ = pagerank(
        spark, edges, vertices=supp, tol=1e-6, max_iter=50, num_partitions=8
    )
    return result.orderBy(F.col("pagerank").desc(), F.col("id").asc()).limit(20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "derive_edges": q_derive_edges,
        "symmetrize": q_symmetrize,
        "degrees": q_degrees,
        "top_degree": q_top_degree,
        "cc_nations": q_cc_nations,
        "cc_incremental": q_cc_incremental,
        "sssp_nations": q_sssp_nations,
        "sssp_incremental": q_sssp_incremental,
        "pagerank5": q_pagerank,
        "label_prop2": q_label_prop,
        "label_prop_hashed": q_label_prop_hashed,
        "triangles": q_triangles,
        "triangles_per_vertex": q_triangles_per_vertex,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidates": q_lsh_candidates,
        "near_duplicates": q_near_duplicates,
        "near_duplicates_strong": q_near_duplicates_strong,
        "simhash": q_simhash,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_ivf": q_knn_ivf,
        "knn_ivf_recall": q_knn_ivf_recall,
        "knn_bucketed": q_knn_bucketed,
        "dedup_embedding": q_dedup_embedding,
        "lang_id": q_lang_id,
        "events_hourly": q_events_hourly,
        "tpch_pricing": q_tpch_pricing,
    }


def oracle_sql() -> dict[str, str]:
    d = {
        "derive_edges": (
            "SELECT l_partkey AS src, l_suppkey AS dst, count(*) AS weight "
            "FROM lineitem GROUP BY 1, 2"
        ),
        "symmetrize": f"""
            WITH e AS (SELECT DISTINCT l_partkey AS src,
                                       l_suppkey + {SUPP_OFFSET} AS dst
                       FROM lineitem)
            SELECT src, dst FROM e UNION SELECT dst, src FROM e
        """,
        "degrees": f"""
            WITH e AS (SELECT DISTINCT l_partkey AS src,
                                       l_suppkey + {SUPP_OFFSET} AS dst
                       FROM lineitem),
            o AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY 1),
            i AS (SELECT dst AS id, count(*) AS in_deg FROM e GROUP BY 1)
            SELECT COALESCE(o.id, i.id) AS id,
                   COALESCE(out_deg, 0) AS out_deg,
                   COALESCE(in_deg, 0) AS in_deg
            FROM o FULL OUTER JOIN i ON o.id = i.id
        """,
        "top_degree": f"""
            WITH e AS (SELECT DISTINCT l_partkey AS src,
                                       l_suppkey + {SUPP_OFFSET} AS dst
                       FROM lineitem),
            o AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY 1),
            i AS (SELECT dst AS id, count(*) AS in_deg FROM e GROUP BY 1),
            d AS (SELECT COALESCE(o.id, i.id) AS id,
                         COALESCE(out_deg, 0) AS out_deg,
                         COALESCE(in_deg, 0) AS in_deg
                  FROM o FULL OUTER JOIN i ON o.id = i.id)
            SELECT id, out_deg, in_deg FROM d
            ORDER BY out_deg DESC, id ASC LIMIT 10
        """,
        "cc_nations": """
            WITH RECURSIVE
            en AS (SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
                   FROM lineitem l
                   JOIN orders o ON l.l_orderkey = o.o_orderkey
                   JOIN customer c ON o.o_custkey = c.c_custkey
                   JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   WHERE c.c_nationkey <> s.s_nationkey),
            e2 AS (SELECT a AS src, b AS dst FROM en
                   UNION SELECT b, a FROM en),
            verts AS (SELECT n_nationkey AS id FROM nation),
            reach(id, comp) AS (
                SELECT id, id FROM verts
                UNION
                SELECT e2.dst, r.comp FROM reach r JOIN e2 ON e2.src = r.id
            )
            SELECT id, min(comp) AS component FROM reach GROUP BY id
        """,
        "sssp_nations": _sssp_sql(),
        "pagerank5": _pagerank_sql(),
        "label_prop2": _labelprop_sql(),
        "label_prop_hashed": _labelprop_sql(hashed=True),
        "triangles": f"""
            WITH {_COOC_SQL},
            ce AS (SELECT DISTINCT least(src, dst) AS src,
                                   greatest(src, dst) AS dst FROM e)
            SELECT count(*) AS n_triangles
            FROM ce e1
            JOIN ce e2 ON e2.src = e1.dst
            JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst
        """,
        "triangles_per_vertex": f"""
            WITH {_COOC_SQL},
            ce AS (SELECT DISTINCT least(src, dst) AS src,
                                   greatest(src, dst) AS dst FROM e),
            t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                  FROM ce e1
                  JOIN ce e2 ON e2.src = e1.dst
                  JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst),
            stacked AS (SELECT a AS id FROM t UNION ALL SELECT b FROM t
                        UNION ALL SELECT c FROM t)
            SELECT id, count(*) AS triangles FROM stacked GROUP BY id
        """,
        "dedup_exact": (
            "SELECT sha256(text) AS content_sha, min(doc_id) AS canonical_id, "
            "count(*) AS n_copies FROM documents GROUP BY 1"
        ),
        "minhash_signatures": f"""
            WITH {_SHINGLE_SQL}
            SELECT id, sig0, sig1, sig2, sig3 FROM sigs
        """,
        "lsh_candidates": f"""
            WITH {_SHINGLE_SQL},
            b0 AS (SELECT id, sig0 || '|' || sig1 AS band FROM sigs),
            b1 AS (SELECT id, sig2 || '|' || sig3 AS band FROM sigs)
            SELECT a.id AS id1, b.id AS id2
            FROM b0 a JOIN b0 b ON a.band = b.band AND a.id < b.id
            UNION
            SELECT a.id, b.id
            FROM b1 a JOIN b1 b ON a.band = b.band AND a.id < b.id
        """,
        "near_duplicates": f"""
            WITH {_SHINGLE_SQL},
            b0 AS (SELECT id, sig0 || '|' || sig1 AS band FROM sigs),
            b1 AS (SELECT id, sig2 || '|' || sig3 AS band FROM sigs),
            pairs AS (
                SELECT a.id AS id1, b.id AS id2
                FROM b0 a JOIN b0 b ON a.band = b.band AND a.id < b.id
                UNION
                SELECT a.id, b.id
                FROM b1 a JOIN b1 b ON a.band = b.band AND a.id < b.id),
            sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (SELECT p.id1, p.id2, count(*) AS n_inter
                      FROM pairs p
                      JOIN sh s1 ON s1.id = p.id1
                      JOIN sh s2 ON s2.id = p.id2 AND s2.shingle = s1.shingle
                      GROUP BY 1, 2)
            SELECT i.id1, i.id2,
                   round(n_inter::DOUBLE / (z1.n + z2.n - n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes z1 ON z1.id = i.id1
            JOIN sizes z2 ON z2.id = i.id2
            WHERE round(n_inter::DOUBLE / (z1.n + z2.n - n_inter), 6) >= 0.2
        """,
        "near_duplicates_strong": _near_duplicates_strong_sql(),
        "token_stats": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                   length(text) AS n_chars
            FROM documents
        """,
        "quality_score": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                              length(text) AS n_chars FROM documents)
            SELECT doc_id,
                   round(len(list_filter(toks,
                         x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
                         / len(toks), 6) AS stop_ratio,
                   round(len(list_distinct(toks))::DOUBLE / len(toks), 6)
                         AS distinct_ratio,
                   round((n_chars - (len(toks) - 1))::DOUBLE / len(toks), 6)
                         AS mean_token_len,
                   (len(toks) >= 10 AND
                    len(list_distinct(toks))::DOUBLE / len(toks) >= 0.2) AS keep
            FROM t
        """,
        "fingerprint": """
            WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                                generate_subscripts(string_split(text, ' '), 1) AS i
                         FROM documents),
            sh AS (SELECT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS shingle
                   FROM tok a
                   JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                   JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
                   UNION ALL
                   SELECT doc_id, text FROM documents
                   WHERE len(string_split(text, ' ')) < 3)
            SELECT doc_id, min(sha256(shingle)) AS fingerprint
            FROM sh GROUP BY doc_id
        """,
        "knn_bruteforce": """
            WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
            scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                              list_cosine_similarity(q.embedding::DOUBLE[],
                                                     c.embedding::DOUBLE[]) AS cos
                       FROM q CROSS JOIN embeddings c
                       WHERE c.vec_id <> q.vec_id)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored) WHERE rank <= 3
        """,
        "knn_ivf": _knn_ivf_sql(),
        "dedup_embedding": """
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.38
        """,
        "lang_id": _lang_id_sql(),
        "knn_bucketed": """
            WITH q AS (SELECT vec_id, embedding, label FROM embeddings
                       WHERE vec_id < 5),
            scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                              list_cosine_similarity(q.embedding::DOUBLE[],
                                                     c.embedding::DOUBLE[]) AS cos
                       FROM q JOIN embeddings c ON c.label = q.label
                       WHERE c.vec_id <> q.vec_id)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored) WHERE rank <= 3
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS n
            FROM lineitem GROUP BY 1, 2
        """,
        "simhash": """
            WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                         FROM documents),
            th AS (SELECT doc_id, sha256(t) AS h FROM tok),
            bits AS (SELECT doc_id, j,
                            ((strpos('0123456789abcdef',
                                     substring(h, j + 1, 1)) - 1) % 2) * 2 - 1 AS v
                     FROM th, (SELECT unnest(generate_series(0, 63)) AS j) AS js),
            votes AS (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY 1, 2)
            SELECT doc_id AS id,
                   string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END,
                              '' ORDER BY j) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "knn_ivf_recall": _knn_ivf_recall_sql(),
    }
    # the incremental-state loop is gated by the SAME oracles as the
    # classic loop — equality proves the partition-wise upsert preserves
    # the reference semantics
    d["cc_incremental"] = d["cc_nations"]
    d["sssp_incremental"] = d["sssp_nations"]
    return d
