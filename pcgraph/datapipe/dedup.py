"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Designed for 100 TB document corpora: every stage is a shuffle on a
bounded key (content hash, band key, shingle) with map-side partial
aggregation; no driver-side collection, no per-row Python.  MinHash uses
portable string-min over sha2 hex digests so the same signature is
computable in any engine (our DuckDB oracles reproduce it verbatim).

SimHash is map-only: the JVM splits each text and hashes every token,
and one numpy kernel per Arrow batch (``mapInArrow``, at the scan's
width) turns the token hashes into 64 bit votes and sums them per
document.  Its working memory is bounded by the Arrow batch — one uint8
per (token, bit) and int32 sums per document — and null text gives a
null SimHash through the Arrow validity mask.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ._util import k_shingles

log = logging.getLogger("pcgraph.dedup")

DEFAULT_SEEDS = ("s0", "s1", "s2", "s3")


def make_seeds(n_perms: int) -> tuple[str, ...]:
    """Deterministic seed strings s0..s{n-1} for an n-permutation
    MinHash.  The 4-perm default keeps oracle parity cheap; real
    recall targets want 64-128 perms (use ``n_perms``/``n_bands`` on
    ``near_duplicates``) — the LSH S-curve at r rows per band and b
    bands crosses 1/2 at similarity ~ (1/b)^(1/r)."""
    return tuple(f"s{i}" for i in range(n_perms))


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    canonical (minimum) id and the duplicate count."""
    return (
        docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct k-word shingles per document: DataFrame[id, shingle].

    Pure SQL: split + slide via transform/sequence (JVM-side,
    ``_util.k_shingles``, shared with ``textstats.fingerprint``);
    documents shorter than k words shingle as their full text —
    dropping them entirely would silently bypass near-dup detection
    for short docs.

    The ONE exchange here hash-partitions the raw documents BY ID
    before the explode: Generate/Project preserve partitioning, so the
    ``.distinct()`` (grouping on (id, shingle) ⊇ id) needs no second
    exchange, and every downstream ``groupBy("id")`` — the signature
    aggregation, computed on BOTH sides of the LSH band self-join; the
    jaccard size counts — runs exchange-free on the cached layout.
    Shuffling pre-explode text also moves ~k x fewer bytes than the
    previous post-explode (id, shingle) distinct exchange.  The
    explicit width (max(scan partitions, default parallelism)) keeps
    tiny inputs spread across the cluster for the downstream sha256
    work (AQE would coalesce a keyless small exchange to one task) and
    never narrows an at-scale scan.  Trade: one document's shingles
    now deduplicate on one task — per-task work is bounded by the
    largest single document, which corpus pipelines cap upstream.
    """
    shingles = k_shingles(F.col(text_col), k)
    base = docs.select(F.col(id_col), F.col(text_col))
    sc = docs.sparkSession.sparkContext
    width = max(base.rdd.getNumPartitions(), sc.defaultParallelism)
    return (
        base.repartition(width, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.explode(shingles).alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, seeds: tuple[str, ...] = DEFAULT_SEEDS
) -> DataFrame:
    """MinHash signature per document: for each seed, the minimum
    sha2-hex of (seed || '|' || shingle).  String-min over hex digests is
    a valid uniform minhash and is engine-portable."""
    aggs = [
        F.min(F.sha2(F.concat_ws("|", F.lit(seed), F.col("shingle")), 256)).alias(
            f"sig{i}"
        )
        for i, seed in enumerate(seeds)
    ]
    return shingles.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, n_bands: int = 2, max_bucket: int | None = None
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing any band key.

    Bands = consecutive signature groups concatenated.  All bands go
    through ONE (band_idx, band) self-join (a single shuffle), not one
    join per band.  A single giant bucket (boilerplate / empty docs at
    corpus scale) makes the self-join m² — ``max_bucket`` caps it:
    buckets larger than the cap are dropped from candidate generation
    (their members are still caught by exact dedup, which is how a
    100 TB pipeline handles degenerate clusters).  The cap check is one
    aggregation over (band_idx, band) — one tiny driver action total,
    reported through the ``pcgraph.dedup`` logger, never silent.
    """
    sig_cols = [c for c in signatures.columns if c.startswith("sig")]
    if not 1 <= n_bands <= len(sig_cols):
        raise ValueError(
            f"n_bands={n_bands} must be within [1, {len(sig_cols)}] signature columns"
        )
    if len(sig_cols) % n_bands != 0:
        raise ValueError(
            f"n_bands={n_bands} must divide the {len(sig_cols)} signature columns "
            "(trailing signatures would be silently dropped)"
        )
    per_band = len(sig_cols) // n_bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[F.col(c) for c in sig_cols[b * per_band : (b + 1) * per_band]],
                ).alias("band"),
            )
            for b in range(n_bands)
        ]
    )
    banded = signatures.select(
        "id", F.explode(band_structs).alias("bk")
    ).select("id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.band").alias("band"))
    banded_cached = None
    if max_bucket is not None:
        # The cap check is the pipeline's first action; persisting the
        # banded signatures means the shingle->minhash work runs ONCE
        # (the check materializes the cache, the self-join reads it) —
        # without this the whole upstream pipeline executes twice.
        # MEMORY_AND_DISK, LRU-evictable; ~|docs|*n_bands small rows.
        banded = banded_cached = banded.persist()
        oversized = (
            banded.groupBy("band_idx", "band")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
        )
        dropped = oversized.agg(
            F.count("*").alias("buckets"), F.sum("n").alias("members")
        ).collect()[0]
        if dropped["buckets"]:
            log.warning(
                "lsh_candidate_pairs: dropping %d bucket(s) (%d member rows) "
                "larger than max_bucket=%d — members remain covered by "
                "exact dedup",
                dropped["buckets"], dropped["members"], max_bucket,
            )
        banded = banded.join(
            oversized.select("band_idx", "band"), ["band_idx", "band"], "left_anti"
        )
    left = banded.select(F.col("id").alias("id1"), "band_idx", "band")
    right = banded.select(F.col("id").alias("id2"), "band_idx", "band")
    pairs = (
        left.join(right, ["band_idx", "band"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    if banded_cached is not None:
        # Materialize the (small, deduped) pairs so the banded cache can
        # be released NOW instead of leaking until ContextCleaner gets to
        # it across repeated pipeline invocations.  The checkpoint blocks
        # are |pairs|-bounded and freed when the result is gc'd.
        pairs = pairs.localCheckpoint(eager=True)
        banded_cached.unpersist()
    return pairs


def jaccard_similarity(
    shingles: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B|.

    The candidate ``pairs`` join runs FIRST: ``pairs ⋈ shingles(id1) ⋈
    shingles(id2, shingle)`` bounds the intermediate by |pairs| × the
    per-doc shingle count.  The reverse order — shingles self-joined on
    ``shingle`` before the pair restriction — is Σ_shingle count² rows:
    one boilerplate trigram shared by 10⁶ docs would produce 10¹² rows
    before the pair filter ever applied (Catalyst does not reorder inner
    joins without CBO stats).  Sizes via per-doc counts; integer
    arithmetic until the final division (deterministic across engines).
    """
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    a = shingles.select(F.col("id").alias("id1"), "shingle")
    b = shingles.select(F.col("id").alias("id2"), "shingle")
    inter = (
        pairs.join(a, "id1")  # |pairs| × shingles-of-id1
        .join(b, ["id2", "shingle"])  # keep shingles present in BOTH docs
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n", "n1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n", "n2"), "id2")
        .select(
            "id1",
            "id2",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


def near_duplicates(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = 4,
    n_bands: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pipeline: shingle -> minhash ->
    band-bucket join -> exact Jaccard verify -> threshold filter.

    ``max_bucket`` is an OPT-IN guard for the band self-join against
    degenerate buckets (m² blowup on boilerplate-heavy corpora).  It is
    deliberately off by default: a capped bucket silently drops genuinely
    near-but-not-identical documents (only byte-identical members stay
    covered by ``exact_duplicates``), so capping is a recall trade the
    caller must choose — and the uncapped default keeps results equal to
    an uncapped oracle.  At corpus scale set ``max_bucket`` (e.g. 1024)
    together with the recall-grade LSH config.  ``n_perms``/``n_bands``
    tune the LSH S-curve — the 4/2 default is the cheap oracle-parity
    config; 64-128 perms with 16-32 bands is the recall-grade
    configuration.

    The pipeline runs inside the call: the result is a local checkpoint
    of the thresholded pairs, and no persisted intermediate is left in
    the session.
    """
    # The distinct shingle set is referenced four times downstream (the
    # signature branch and three jaccard/size branches); without a cache
    # each reference re-runs the explode+distinct subtree — the plan's
    # identical exchanges are NOT reused across the band self-join's two
    # sides in practice (measured: two full duplicate shingle stages per
    # run).  The persist is |distinct shingles|-bounded and released
    # before returning; it also means the signature min-hash
    # hashes each distinct shingle once instead of every raw occurrence.
    sh = word_shingles(docs, k=k, id_col=id_col, text_col=text_col).persist()
    try:
        # Fill the cache NOW: the downstream branches run as parallel
        # stages of one job, and a not-yet-filled cache is computed by
        # every branch that reaches it concurrently (measured: two full
        # duplicate shingle stages per run without this).  One narrow
        # count over the cached partitions is far cheaper than the
        # duplicated explode+distinct.
        sh.count()
        sigs = minhash_signatures(sh, seeds=make_seeds(n_perms))
        cands = lsh_candidate_pairs(sigs, n_bands=n_bands, max_bucket=max_bucket)
        jac = jaccard_similarity(sh, cands)
        # Materialize the |pairs|-bounded result so the shingle cache can
        # be released before returning (the lsh_candidate_pairs
        # pattern); the checkpoint blocks are freed when the result is
        # gc'd.
        return jac.filter(F.col("jaccard") >= threshold).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


# --------------------------------------------------------------- SimHash
# The batch kernels are module-level so the workers import them by
# reference (see the module docstring for the split of work).


def _token_bits(hashes: pa.ListArray) -> np.ndarray:
    """The 64 vote bits of every token in one batch column, as
    ``uint8[n_tokens, 64]``, read in place from the Arrow buffers.  Rows
    are the tokens ``hashes.offsets[0]:hashes.offsets[-1]`` of the child
    array: the list offsets honour the batch's slice offset, and the
    child's own offset is applied here.

    Token bit j is: xxhash64 (long tokens) — ``(h >> j) & 1``; portable
    (32-byte sha256 tokens) — hex digit j is odd, where digit 2i is the
    high nibble of byte i, 2i+1 the low one, and a nibble is odd when its
    lowest bit is set.
    """
    offsets = hashes.offsets.to_numpy()
    first, last = int(offsets[0]), int(offsets[-1])
    values = hashes.values
    if first == last:  # no tokens: the child buffers may be absent
        return np.empty((0, 64), dtype=np.uint8)
    if pa.types.is_integer(values.type):
        raw = values.to_numpy()[first:last].astype("<i8", copy=False)
        return np.unpackbits(raw.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    off_type = np.int64 if pa.types.is_large_binary(values.type) else np.int32
    _, off_buf, data_buf = values.buffers()
    voff = np.frombuffer(off_buf, dtype=off_type)[values.offset :]
    start, end = int(voff[first]), int(voff[last])
    if end - start != 32 * (last - first):
        raise ValueError("sha256 token hashes must be 32 bytes each")
    raw = np.frombuffer(data_buf, dtype=np.uint8)[start:end].reshape(-1, 32)
    bits = np.empty((len(raw), 64), dtype=np.uint8)
    high = bits[:, 0::2]
    np.right_shift(raw, 4, out=high)
    np.bitwise_and(high, 1, out=high)
    np.bitwise_and(raw, 1, out=bits[:, 1::2])
    return bits


def _simhash_bits(hashes: pa.ListArray) -> np.ndarray:
    """SimHash of every document in one batch: ``bool[n_docs, 64]``, bit
    j set when the +/-1 votes of the document's tokens on bit j sum to
    >= 0 (an empty or null token list votes 0, so every bit is set).
    Working memory is one uint8 per (token, bit) plus int32 sums per
    document.
    """
    bits = _token_bits(hashes)
    offsets = hashes.offsets.to_numpy()
    lengths = np.diff(offsets)
    # Segmented sum of set bits per document.  reduceat over the
    # non-empty segments only: an empty segment would otherwise return
    # the row at its start index instead of 0.
    ones = np.zeros((len(lengths), 64), dtype=np.int32)
    full = lengths > 0
    if full.any():
        starts = offsets[:-1][full] - offsets[0]
        ones[full] = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
    # votes_j = ones_j - (n - ones_j) >= 0
    return 2 * ones >= lengths[:, None]


def _validity(hashes: pa.ListArray) -> pa.Buffer | None:
    """Validity bitmap of the output: a null token list (null text)
    gives a null SimHash."""
    if hashes.null_count == 0:
        return None
    valid = hashes.is_valid().to_numpy(zero_copy_only=False)
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def _simhash_portable_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (id, list<binary sha256>) -> (id, 64-char
    '0'/'1' string)."""
    from ..workerenv import optimize_worker

    optimize_worker()
    for batch in batches:
        hashes = batch.column(1)
        n = len(hashes)
        chars = _simhash_bits(hashes).view(np.uint8) + np.uint8(ord("0"))
        sim = pa.Array.from_buffers(
            pa.string(),
            n,
            [
                _validity(hashes),
                pa.py_buffer(np.arange(0, 64 * (n + 1), 64, dtype=np.int32)),
                pa.py_buffer(chars),
            ],
            null_count=hashes.null_count,
        )
        yield pa.RecordBatch.from_arrays([batch.column(0), sim], names=["id", "simhash"])


def _simhash64_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (id, list<long xxhash64>) -> (id, long), bit
    63 of the SimHash being the sign bit."""
    from ..workerenv import optimize_worker

    optimize_worker()
    for batch in batches:
        hashes = batch.column(1)
        packed = np.packbits(_simhash_bits(hashes), axis=1, bitorder="little")
        sim = pa.Array.from_buffers(
            pa.int64(),
            len(hashes),
            [_validity(hashes), pa.py_buffer(packed)],
            null_count=hashes.null_count,
        )
        yield pa.RecordBatch.from_arrays([batch.column(0), sim], names=["id", "simhash"])


def _simhash(docs, id_col, text_col, token_hash, kernel, out_type) -> DataFrame:
    """Split and hash the tokens in the JVM, then run ``kernel`` over
    the Arrow batches of (id, token hashes)."""
    hashes = F.transform(F.split(F.col(text_col), " "), token_hash)
    pre = docs.select(F.col(id_col).alias("id"), hashes.alias("hashes"))
    schema = StructType([pre.schema["id"], StructField("simhash", out_type)])
    return pre.mapInArrow(kernel, schema)


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over word tokens: DataFrame[id, simhash long].

    Per doc: for each of 64 bit positions, sum +/-1 over the bits of the
    tokens' ``xxhash64``; bit j of the simhash = (sum_j >= 0), bit 63
    being the sign bit.  The JVM splits and hashes; one numpy kernel per
    Arrow batch (``mapInArrow``, at the scan's width) derives and sums
    the votes — no explode, no per-row Python.  Working memory is
    bounded by the Arrow batch: one uint8 per (token, bit) and int32
    sums per document.  Null text gives a null simhash.  Hamming-close
    simhashes = near-duplicate candidates."""
    return _simhash(
        docs, id_col, text_col, lambda t: F.xxhash64(t), _simhash64_batches, LongType()
    )


def simhash_portable(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash with engine-portable hashing: DataFrame[id,
    simhash string].

    Bit j of a token = parity of hex digit j of sha256(token); the result
    is a 64-char '0'/'1' string (no 2^63 signed overflow, reproducible
    verbatim in DuckDB/any ANSI engine — the correctness-oracle variant
    of ``simhash64``).  The JVM ships each token's sha256 as 32 raw bytes
    (``unhex(sha2(t, 256))``); the same Arrow batch kernel as
    ``simhash64`` sums the votes, with the same memory bound and null
    rule."""
    return _simhash(
        docs, id_col, text_col,
        lambda t: F.unhex(F.sha2(t, 256)), _simhash_portable_batches, StringType(),
    )
