import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pcgraph.datapipe.dedup import (
    exact_duplicates,
    jaccard_similarity,
    lsh_candidate_pairs,
    minhash_signatures,
    near_duplicates,
    simhash64,
    simhash_portable,
    word_shingles,
)
from pcgraph.datapipe.multimodal import (
    extract_features,
    frame_sample_plan,
    media_metadata,
    real_decoder,
)
from pcgraph.datapipe.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_bucketed,
    cosine_topk_ivf,
    train_ivf_centroids,
)
from pcgraph.datapipe.textstats import (
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "completely different text about spark engines"),
        (4, "der die und der die und der die und"),
        (5, "a b"),  # shorter than shingle size
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_exact_duplicates(docs):
    out = {r["canonical_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert out[0] == 2  # docs 0 and 2
    assert sum(out.values()) == 6


def test_shingles_and_minhash(docs):
    sh = word_shingles(docs)
    per_doc = (
        sh.groupBy("id").count().toPandas().set_index("id")["count"].to_dict()
    )
    assert per_doc[0] == 7  # 9 tokens -> 7 distinct 3-shingles
    # shorter than k -> the whole text IS the shingle (short docs must
    # still participate in near-dup detection; matches the oracle SQL)
    assert per_doc[5] == 1
    assert sh.filter("id = 5").collect()[0]["shingle"] == "a b"
    sigs = minhash_signatures(sh)
    pdf = sigs.toPandas().set_index("id")
    # identical docs -> identical signatures
    assert (pdf.loc[0] == pdf.loc[2]).all()
    # near-dups share most shingles -> likely equal min on some seed
    assert pdf.shape[1] == 4


def test_lsh_and_jaccard(docs):
    sh = word_shingles(docs)
    sigs = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sigs)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (0, 2) in got  # exact dups always collide
    jac = jaccard_similarity(sh, pairs).toPandas()
    row = jac[(jac.id1 == 0) & (jac.id2 == 2)]
    assert float(row["jaccard"].iloc[0]) == 1.0


def test_near_duplicates_pipeline(docs):
    nd = near_duplicates(docs, threshold=0.5).toPandas()
    assert {(r.id1, r.id2) for r in nd.itertuples()} >= {(0, 2)}
    assert (nd.jaccard >= 0.5).all()


def test_simhash_properties(docs):
    pdf = simhash64(docs).toPandas().set_index("id")
    assert pdf.loc[0, "simhash"] == pdf.loc[2, "simhash"]  # exact dups equal
    # near-dup (0 vs 1) closer in hamming distance than unrelated (0 vs 3)
    def ham(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    h = pdf["simhash"]
    assert ham(h[0], h[1]) < ham(h[0], h[3])


# Exact SimHash values.  The inputs cover null text, the empty string,
# runs of spaces (empty tokens), a single token, two tokens (tied votes,
# which set the bit) and a long document; two records per Arrow batch
# make the kernel see several batches.
SIMHASH_TEXTS = [
    None,
    "",
    "a  b   c ",
    "single",
    "alpha beta",
    "the quick brown fox jumps over the lazy dog",
    " ".join(f"w{i % 977}" for i in range(5000)),
]


@pytest.fixture
def simhash_docs(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        yield spark.createDataFrame(
            list(enumerate(SIMHASH_TEXTS)), schema="doc_id int, text string"
        )
    finally:
        spark.conf.set(key, old)


def _reference_votes(token_bits):
    """Sum of +/-1 votes over tokens, each token given as 64 bits."""
    votes = np.zeros(64, dtype=np.int64)
    for bits in token_bits:
        votes += 2 * np.asarray(bits, dtype=np.int64) - 1
    return votes


def _portable_reference(text):
    """hashlib reference: bit j of a token = hex digit j of sha256 odd;
    bit j of the simhash = (vote sum >= 0)."""
    if text is None:
        return None, None
    votes = _reference_votes(
        [int(c, 16) % 2 for c in hashlib.sha256(t.encode()).hexdigest()]
        for t in text.split(" ")
    )
    return "".join("1" if v >= 0 else "0" for v in votes), votes


def _simhash64_reference(hashes):
    votes = _reference_votes([(h >> j) & 1 for j in range(64)] for h in hashes)
    want = sum(1 << j for j in range(64) if votes[j] >= 0)
    return want - (1 << 64 if want >> 63 else 0)


def test_simhash_portable_exact_values(simhash_docs):
    out = simhash_portable(simhash_docs)
    assert dict(out.dtypes) == {"id": "int", "simhash": "string"}
    got = dict(out.collect())
    assert sorted(got) == list(range(len(SIMHASH_TEXTS)))
    for i, text in enumerate(SIMHASH_TEXTS):
        want, _ = _portable_reference(text)
        assert got[i] == want, (i, text and text[:40])
    _, tied = _portable_reference("alpha beta")
    assert (tied == 0).any()  # the tie case is really exercised


def test_simhash64_exact_values(simhash_docs):
    """Reference from Spark's own per-token xxhash64 (collected) plus
    Python bit votes; bit 63 is the sign bit of the long."""
    docs = simhash_docs.withColumn("doc_id", F.col("doc_id").cast("long"))
    token_hashes = dict(
        docs.select(
            "doc_id",
            F.transform(F.split("text", " "), lambda t: F.xxhash64(t)),
        ).collect()
    )
    out = simhash64(docs)
    assert dict(out.dtypes) == {"id": "bigint", "simhash": "bigint"}
    got = dict(out.collect())
    for i, hashes in token_hashes.items():
        if hashes is None:
            assert got[i] is None
            continue
        assert got[i] == _simhash64_reference(hashes), i


def test_simhash_kernels_honour_arrow_slices():
    """Both batch kernels read the list and child offsets of sliced
    Arrow arrays: a child sliced past a junk token, batches sliced from
    one record batch, and a null list in the middle."""
    import pyarrow as pa

    from pcgraph.datapipe.dedup import _simhash64_batches, _simhash_portable_batches

    texts = SIMHASH_TEXTS[:6]
    tokens = [[] if t is None else t.split(" ") for t in texts]
    offsets = pa.array(np.cumsum([0] + [len(t) for t in tokens]), pa.int32())
    mask = pa.array([t is None for t in texts])
    ids = pa.array(range(len(texts)), pa.int64())

    def run(kernel, child):
        lists = pa.ListArray.from_arrays(offsets, child, mask=mask)
        batch = pa.RecordBatch.from_arrays([ids, lists], names=["id", "hashes"])
        out = pa.Table.from_batches(
            list(kernel(iter([batch.slice(0, 2), batch.slice(2, 3), batch.slice(5)])))
        )
        assert out.column("id").to_pylist() == list(range(len(texts)))
        return out.column("simhash").to_pylist()

    digests = [hashlib.sha256(t.encode()).digest() for ts in tokens for t in ts]
    child = pa.array([b"\xff" * 32] + digests, pa.binary()).slice(1)
    assert run(_simhash_portable_batches, child) == [
        _portable_reference(t)[0] for t in texts
    ]

    rng = np.random.default_rng(5)
    flat = rng.integers(-(1 << 63), (1 << 63) - 1, size=len(digests) + 1)
    child = pa.array(flat, pa.int64()).slice(1)
    it = iter(flat[1:].tolist())
    want = [
        None if t is None else _simhash64_reference([next(it) for _ in ts])
        for t, ts in zip(texts, tokens)
    ]
    assert run(_simhash64_batches, child) == want


def test_near_duplicates_releases_shingle_cache(spark, docs):
    """Repeated calls leave the SQL cache manager as it was and return
    equal results."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    first = near_duplicates(docs, threshold=0.5).toPandas()
    second = near_duplicates(docs, threshold=0.5).toPandas()
    assert cache.isEmpty()
    key = ["id1", "id2"]
    pd.testing.assert_frame_equal(
        first.sort_values(key).reset_index(drop=True),
        second.sort_values(key).reset_index(drop=True),
    )
    assert len(first) > 0


def test_token_stats_and_quality(docs):
    ts = token_stats(docs).toPandas().set_index("doc_id")
    assert ts.loc[0, "n_tokens"] == 9
    assert ts.loc[5, "n_tokens"] == 2
    q = quality_score(docs).toPandas().set_index("doc_id")
    assert not q.loc[5, "keep"]  # too short
    assert abs(q.loc[0, "stop_ratio"] - round(2 / 9, 6)) < 1e-9


def test_language_id(docs):
    out = language_id(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "predicted_lang"] == "en"
    assert out.loc[4, "predicted_lang"] == "de"


def test_fingerprint_dups_collide(docs):
    fp = fingerprint(docs).toPandas().set_index("doc_id")
    assert fp.loc[0, "fingerprint"] == fp.loc[2, "fingerprint"]
    assert fp.loc[0, "fingerprint"] != fp.loc[3, "fingerprint"]


# ------------------------------------------------------------ similarity
def test_knn_bruteforce_matches_numpy(spark):
    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(50, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": (np.arange(50) % 4).astype(np.int32),
        }
    )
    df = spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>, label int"
    )
    out = cosine_topk_bruteforce(df, df.filter(F.col("vec_id") < 3), k=3).toPandas()
    # numpy oracle
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    cos = (v @ v.T) / np.outer(norms, norms)
    for q in range(3):
        order = [
            i
            for i in sorted(range(50), key=lambda i: (-cos[q, i], i))
            if i != q
        ][:3]
        got = out[out.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert got == order, (q, got, order)


def test_knn_bucketed_restricts_to_bucket(spark):
    rng = np.random.default_rng(14)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(40, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": (np.arange(40) % 4).astype(np.int32),
        }
    )
    df = spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>, label int"
    )
    out = cosine_topk_bucketed(df, df.filter(F.col("vec_id") < 4), k=3).toPandas()
    for r in out.itertuples():
        assert r.neighbor_id % 4 == r.query_id % 4  # same bucket only


# ------------------------------------------------------------ multimodal
@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNGfake1", 64, 48, None, None),
        (2, "image", b"\x89PNGfake2", 32, 32, None, None),
        (3, "audio", b"RIFFfake", None, None, 16000, None),
        (4, "video", b"\x00\x00ftypfake", 640, 480, None, 95),
    ]
    return spark.createDataFrame(
        rows,
        schema=(
            "media_id long, kind string, payload binary, width int, "
            "height int, sample_rate int, n_frames int"
        ),
    )


def test_media_metadata(media):
    out = media_metadata(media).toPandas().set_index("media_id")
    assert out.loc[1, "n_bytes"] == 9
    assert len(out.loc[1, "payload_sha"]) == 64


def test_extract_features_deterministic(media):
    out = extract_features(media).toPandas().set_index("media_id")
    assert all(len(f) == 8 for f in out["feature"])
    out2 = extract_features(media).toPandas().set_index("media_id")
    assert out.loc[1, "feature"] == pytest.approx(out2.loc[1, "feature"])


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        real_decoder("image", b"x")


def test_frame_sample_plan(media):
    out = frame_sample_plan(media, every_n=10).toPandas()
    assert set(out.media_id) == {4}
    assert out.frame_index.tolist() == list(range(0, 95, 10))


def test_simhash_portable_properties(docs):
    """sha256-parity simhash: 64-char bitstring, dup-equal, near-dups
    Hamming-closer than unrelated docs (the DuckDB-portable variant —
    exact cross-engine equality is enforced by the correctness gate)."""
    pdf = simhash_portable(docs).toPandas().set_index("id")
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in pdf["simhash"])
    assert pdf.loc[0, "simhash"] == pdf.loc[2, "simhash"]

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    near = ham(pdf.loc[0, "simhash"], pdf.loc[1, "simhash"])  # 1-word diff
    far = ham(pdf.loc[0, "simhash"], pdf.loc[3, "simhash"])  # unrelated
    assert near < far


def _clustered_vectors(n_per=40, dim=8, k=3, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim)) * 5
    rows = []
    vid = 0
    for c in range(k):
        for _ in range(n_per):
            rows.append((vid, (centers[c] + rng.normal(size=dim)).tolist()))
            vid += 1
    return rows


def test_ivf_trained_recall_vs_bruteforce(spark):
    """The trained IVF index (deterministic k-means + 2-probe) must
    recover most true neighbors: recall@3 >= 0.8 on well-clustered data
    (exact equality is not expected — ANN by design)."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 17 == 0)

    exact = cosine_topk_bruteforce(df, queries, k=3).toPandas()
    approx = cosine_topk_ivf(
        df, queries, k=3, n_centroids=6, iters=2, n_probe=2
    ).toPandas()
    truth = exact.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    got = approx.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.8, f"recall@3 = {recall:.2f}"


def test_ivf_centroids_deterministic_and_reusable(spark):
    """Training twice gives identical centroids (no RNG anywhere), and a
    pre-trained quantizer can be passed back in."""
    rows = _clustered_vectors(n_per=20)
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    c1 = train_ivf_centroids(df, n_centroids=4, iters=2)
    c2 = train_ivf_centroids(df, n_centroids=4, iters=2)
    assert c1 == c2
    queries = df.filter(F.col("vec_id") < 2)
    a = cosine_topk_ivf(df, queries, k=3, centroids=c1).toPandas()
    b = cosine_topk_ivf(df, queries, k=3, n_centroids=4, iters=2).toPandas()
    key = lambda d: sorted(map(tuple, d[["query_id", "neighbor_id", "rank"]].values))
    assert key(a) == key(b)


def test_lsh_bucket_cap_on_degenerate_corpus(spark):
    """1,000 identical documents: every band bucket holds all 1,000 docs
    (the m^2 blowup shape at corpus scale).  With max_bucket set, LSH
    completes WITHOUT emitting the ~500k candidate pairs, and the
    duplicates are still caught by exact dedup — the documented
    degenerate-cluster path."""
    n = 1000
    rows = [(i, "exactly the same boilerplate text in every document") for i in range(n)]
    degenerate = spark.createDataFrame(rows, schema="doc_id long, text string")
    sh = word_shingles(degenerate)
    sigs = minhash_signatures(sh)

    capped = lsh_candidate_pairs(sigs, max_bucket=100)
    assert capped.count() == 0  # all buckets oversized -> dropped, no m^2

    exact = exact_duplicates(degenerate).collect()
    assert len(exact) == 1 and exact[0]["n_copies"] == n

    # and the cap does not disturb a healthy corpus
    healthy = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "umber sienna ochre teal")],
        schema="doc_id long, text string",
    )
    pairs = lsh_candidate_pairs(
        minhash_signatures(word_shingles(healthy)), max_bucket=100
    )
    assert {(r["id1"], r["id2"]) for r in pairs.collect()} == {(0, 1)}


def test_lsh_n_bands_validation(spark):
    sigs = spark.createDataFrame(
        [(1, "a", "b", "c", "d")], schema="id long, sig0 string, sig1 string, sig2 string, sig3 string"
    )
    with pytest.raises(ValueError, match="must be within"):
        lsh_candidate_pairs(sigs, n_bands=5)
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sigs, n_bands=3)


def test_cosine_near_duplicates_exact_and_blocked(spark):
    from pcgraph.datapipe.similarity import cosine_near_duplicates

    rng = np.random.default_rng(7)
    # 4 well-separated cluster directions; members = direction + tiny noise
    dirs = rng.normal(size=(4, 16))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    vecs = np.vstack([
        dirs[i % 4] + 0.01 * rng.normal(size=16) for i in range(40)
    ]).astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(40, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")

    # numpy oracle for the exact path
    v = vecs.astype(np.float64)
    cos = (v @ v.T) / np.outer(
        np.linalg.norm(v, axis=1), np.linalg.norm(v, axis=1)
    )
    expect = {
        (a, b) for a in range(40) for b in range(a + 1, 40) if cos[a, b] >= 0.99
    }
    got = {
        (r.a_id, r.b_id)
        for r in cosine_near_duplicates(df, threshold=0.99).collect()
    }
    assert got == expect and len(expect) > 0

    # IVF-blocked path: same-cluster members share a bucket here, so the
    # blocked candidate set recovers every exact pair
    blocked = {
        (r.a_id, r.b_id)
        for r in cosine_near_duplicates(
            df, threshold=0.99, n_centroids=4, iters=3
        ).collect()
    }
    assert blocked == expect
