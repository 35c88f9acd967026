"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (cross join pruned to the
query set — fine when |queries| << |corpus|); the scale path is a REAL
IVF index: deterministic Lloyd's k-means trains the coarse quantizer
(``train_ivf_centroids``), every corpus vector lands in its nearest
centroid's bucket, and queries multi-probe their ``n_probe`` nearest
buckets — an equi-join on the bucket id instead of a cross join, i.e.
O(|Q|·|C|·n_probe/k) scanned pairs.  ``cosine_topk_bucketed`` remains
for corpora with a precomputed cluster id.  All vector math is built-in
``zip_with``/``aggregate`` expressions — JVM-side, no UDF; the trained
centroids are a tiny k x d model folded into the plan as literals, so
bucket assignment is map-only (no corpus shuffle, no broadcast build).

Determinism (the correctness gate runs the same algorithm in DuckDB):
centroid init = the k lowest-id vectors; assignment = max cosine
rounded to 6 decimals, ties to the smallest bucket; centroid updates
rounded to 6 decimals; empty buckets keep their previous centroid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _topk(q: DataFrame, c: DataFrame, k: int, on: str | None = None) -> DataFrame:
    """Exact cosine top-k of every query over its candidates:
    DataFrame[query_id, neighbor_id, rank].

    ``q`` is ``(query_id, qv[, on])`` and ``c`` is ``(neighbor_id,
    cv[, on])``.  ``on=None`` scores every pair (cross join); otherwise
    only the pairs that share ``on``.  Self-matches are excluded; rank
    ties broken by neighbor id (deterministic).
    """
    # Norms are hoisted BEFORE the join: computed once per vector
    # instead of once per (query, candidate) pair — bit-identical
    # (the per-pair expression was norm(qv) * norm(cv); the factors are
    # per-vector constants), and it removes two 64-element folds from
    # every scored pair (higher-order array functions are interpreted,
    # not codegen'd, so per-pair work dominates this operator).
    q = q.withColumn("qn", _norm(F.col("qv")))
    c = c.withColumn("cn", _norm(F.col("cv")))
    # The probe side of an equi-join is broadcast EXPLICITLY: bucketed
    # search assumes |queries| << |corpus| (the brute-force cross join
    # is right otherwise), but the planner cannot see that —
    # ``queries`` is usually a filter over the corpus table and
    # inherits its size estimate, so at corpus scale the join planned
    # sort-merge and shuffled the WHOLE corpus by bucket (measured: 0.5
    # GB of the 0.6 GB a 1M x 64 IVF search shuffled).  With the hint
    # the corpus is never shuffled: scan -> assign (map-only) ->
    # broadcast join -> per-partition top-k.
    pairs = q.crossJoin(c) if on is None else F.broadcast(q).join(c, on)
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: DataFrame[query_id, neighbor_id, rank].

    ``queries`` has the same schema as ``embeddings``.  Self-matches are
    excluded; rank ties broken by neighbor id (deterministic).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _topk(q, c, k)


def cosine_topk_bucketed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: only scan vectors in the query's
    bucket(s).  The equi-join on the bucket id replaces the cross join —
    at 100 TB this is the difference between O(|Q|·|C|) and
    O(|Q|·|C|/n_buckets) scanned pairs, with the probe side broadcast
    so the corpus itself is never shuffled."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(bucket_col).alias("bucket"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(bucket_col).alias("bucket"),
    )
    return _topk(q, c, k, on="bucket")


def _python_norm(vec: list[float]) -> float:
    """Driver-side mirror of ``_norm``: same left-to-right fold over
    IEEE binary64 as the Spark ``aggregate`` expression, so the literal
    norm fed back into a plan is bit-identical to what the JVM would
    have computed from the literal vector."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _double_literal_sql(x: float) -> str:
    """SQL text for one double, covering the non-finite values ``repr``
    would render unparseable (a degenerate corpus can push a centroid
    component or norm to inf/NaN; the old DataFrame path computed
    through them, so the literal path must too)."""
    import math

    x = float(x)
    if math.isnan(x):
        return "double('NaN')"
    if math.isinf(x):
        return "double('Infinity')" if x > 0 else "double('-Infinity')"
    return f"{x!r}D"


def _scored_array_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """One SQL expression: the k-element array of
    ``named_struct('ccos', round(cos(vec, centroid_b), 6), 'nb', -b)``
    structs with the centroid vectors and norms inlined as double
    literals.  Built as a single string so the whole k x d model costs
    ONE py4j call and one parse — per-element ``F.lit`` construction is
    ~1000x more driver time for a 8 x 64 model.  ``repr`` emits the
    shortest round-trip decimal for a binary64 and Spark's ``...D``
    literal parses it back with ``Double.parseDouble`` — bit-exact.
    The arithmetic mirrors ``_dot``/``_norm`` exactly: same zip_with
    multiply, same left-to-right aggregate fold, same 6-decimal round.
    """
    structs = []
    for b, c in enumerate(centroids):
        arr = "array(" + ", ".join(_double_literal_sql(x) for x in c) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        cn = _double_literal_sql(_python_norm(c))
        structs.append(
            f"named_struct('ccos', round({dot} / (`_vn` * {cn}), 6), "
            f"'nb', {-b})"
        )
    return "array(" + ", ".join(structs) + ")"


def _nearest_buckets(
    df: DataFrame, centroids: list[list[float]], n_probe: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Attach the ``n_probe`` nearest centroid buckets to each vector.

    Cosine rounded to 6 decimals + bucket-asc tie-break keeps the
    assignment identical across engines (floating-point sum order).

    The trained model is a tiny k x d table, so it is folded into the
    plan as LITERALS and the assignment becomes a map-only expression:
    no centroid DataFrame (``spark.createDataFrame`` on a driver list
    parallelizes across ``defaultParallelism`` Python tasks just to ship
    k rows), no broadcast cross join, and — the at-scale win — NO
    shuffle of the corpus: the previous formulation's ``groupBy(id)``
    argmax exchanged every corpus row once per assignment.

    The k ``(ccos, -bucket)`` structs are built into ONE array so each
    cosine is evaluated exactly once per row (a nested ``when`` fold
    would copy the accumulator into every level — exponential
    re-evaluation for interpreted higher-order expressions).

    ``n_probe == 1``: ``array_max`` over that array is the same argmax
    as the old ``max(struct(ccos, -bucket))`` grouped aggregate —
    struct comparison orders NaN largest and breaks ``ccos`` ties on
    ``-bucket`` (= smallest bucket) — without the corpus shuffle the
    ``groupBy(id)`` form required.

    ``n_probe > 1``: sort the array descending (NaN first, like the
    window's DESC order), take the first ``n_probe``, explode —
    replaces the ``row_number`` window (shuffle + sort) with a per-row
    expression.
    """
    arr = F.expr(_scored_array_sql(vec_col, centroids))
    withn = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_vn")
    )
    if n_probe == 1:
        return withn.select(
            id_col, vec_col, (-F.array_max(arr)["nb"]).alias("bucket")
        )
    ranked = F.sort_array(arr, asc=False)
    return (
        withn.select(
            id_col,
            vec_col,
            F.explode(F.slice(ranked, 1, n_probe)).alias("_pb"),
        )
        .select(id_col, vec_col, (-F.col("_pb.nb")).alias("bucket"))
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over cosine similarity.

    Init = the ``n_centroids`` lowest-id vectors (no RNG — resumable and
    engine-portable); ``iters`` fixed assign/update rounds; new centroid
    = element-wise mean of its members rounded to 6 decimals (empty
    buckets keep the old centroid).  Every driver collect is k- or
    k x d-bounded (the init vectors and each iteration's means — a few
    KB); the data-sized work (assignment + mean) stays distributed: a
    map-only literal-centroid assignment and one (bucket, dim)
    aggregation per iteration.
    """
    emb = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # Init: the k lowest-id vectors, collected once (k rows).  Each
    # Lloyd iteration is then ONE job: the assignment is a map-only
    # literal-centroid expression (see _nearest_buckets — no broadcast
    # build, no corpus shuffle), and the per-(bucket, dim) means come
    # back as a k x d collect (bounded: 512 doubles at the default
    # config).  Values are bit-identical to the previous lazy-chain
    # form: the same avg is rounded to 6 decimals either way, a
    # collected double re-fed as a literal is unchanged, and empty
    # buckets keep their previous centroid (no mean row arrives for
    # them).  The previous one-collected-job chain actually planned
    # ~17 tiny AQE stages (per-iteration broadcast builds + exchanges)
    # each paying the driver stage floor; 1 + iters simple jobs with
    # two stages each is strictly fewer.
    init = emb.orderBy("_id").limit(n_centroids).collect()
    centroids = [list(r["_v"]) for r in init]
    for _ in range(iters):
        assigned = _nearest_buckets(emb, centroids, 1, "_id", "_v")
        means = (
            assigned.select("bucket", F.posexplode("_v").alias("pos", "val"))
            .groupBy("bucket", "pos")
            .agg(F.round(F.avg("val"), 6).alias("val"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty buckets keep theirs
        for r in means:
            new[r["bucket"]][r["pos"]] = r["val"]
        centroids = new
    return centroids


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN cosine top-k through the trained IVF index:
    DataFrame[query_id, neighbor_id, rank].

    Corpus vectors sit in exactly one bucket; each query probes its
    ``n_probe`` nearest buckets, so the candidate join is an equi-join
    on ``bucket`` with the probe side broadcast — the corpus is scanned
    once and never shuffled (assignment is a map-only literal-centroid
    expression; |queries| << |corpus| is this operator's contract) —
    followed by exact cosine ranking of the candidates.  Pass
    ``centroids`` to reuse a trained quantizer.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids=n_centroids, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    c = _nearest_buckets(c, centroids, 1, "neighbor_id", "cv")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    q = _nearest_buckets(q, centroids, n_probe, "query_id", "qv")
    # No ``.distinct()`` on the candidates: a corpus vector sits in
    # EXACTLY one bucket and a query's probe buckets are distinct by
    # construction (slice of a sorted struct array), so each (query,
    # neighbor) pair is scored at most once — the dedup was a full
    # exchange of every scored candidate for structurally impossible
    # duplicates.
    return _topk(q, c, k, on="bucket")


def ivf_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **ivf_kwargs,
) -> float:
    """Recall@k of the IVF index vs exact brute force: |ANN ∩ exact| /
    |exact|, averaged over queries — ONE joined aggregate (both top-k
    plans + an inner join on (query_id, neighbor_id)).  This is the
    honesty metric for the ANN trade: report it whenever the IVF path
    replaces brute force."""
    exact = cosine_topk_bruteforce(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    approx = cosine_topk_ivf(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col, **ivf_kwargs
    ).select("query_id", "neighbor_id")
    row = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count("*").alias("hit"))
        .crossJoin(exact.agg(F.count("*").alias("total")))
        .collect()[0]
    )
    return float(row["hit"]) / float(row["total"]) if row["total"] else 1.0


def cosine_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    iters: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: DataFrame[a_id, b_id] with
    ``a_id < b_id`` and ``cosine(a, b) >= threshold``.

    The embedding leg of the dedup family (exact sha256 / MinHash-LSH /
    SimHash live in ``dedup.py``).  Default is the exact all-pairs
    comparison — the correctness baseline, O(n^2) scanned pairs, fine up
    to ~10^5 vectors.  At corpus scale pass ``n_centroids``: vectors are
    blocked by their trained IVF bucket (``train_ivf_centroids``'s
    deterministic k-means) and only same-bucket pairs are compared —
    O(n^2 / k) scanned pairs, the standard ANN-blocking trade
    (cross-bucket near-dups are missed; near-identical vectors land in
    the same bucket except exactly on a centroid boundary).
    """
    v = embeddings.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).cast("array<double>").alias("av"),
    )
    w = embeddings.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).cast("array<double>").alias("bv"),
    )
    if n_centroids:
        cent = train_ivf_centroids(
            embeddings, n_centroids=n_centroids, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
        v = _nearest_buckets(v, cent, 1, "a_id", "av")
        w = _nearest_buckets(w, cent, 1, "b_id", "bv")
    # per-vector norms hoisted above the pair join (bit-identical;
    # see _topk)
    v = v.withColumn("an", _norm(F.col("av")))
    w = w.withColumn("bn", _norm(F.col("bv")))
    if n_centroids:
        pairs = v.join(w, "bucket")
    else:
        pairs = v.crossJoin(w)
    # The cosine is rounded to 6 decimals before the threshold compare
    # (mirroring _nearest_buckets): summation order differs between
    # engines, and an unrounded compare can flip pairs sitting exactly
    # on the threshold between Spark and the DuckDB oracle.
    return (
        pairs.filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.round(
                _dot(F.col("av"), F.col("bv"))
                / (F.col("an") * F.col("bn")),
                6,
            )
            >= F.lit(float(threshold))
        )
        .select("a_id", "b_id")
    )
