"""Shared datapipe helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def k_shingles(text: Column, k: int) -> Column:
    """The k-word shingles of ``text`` (split on single spaces) as an
    array; a text shorter than k words is its own single shingle.  The
    DuckDB minhash and fingerprint oracles mirror this expression."""
    toks = F.split(text, " ")
    return F.when(F.size(toks) < k, F.array(text)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def widen_small_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive input widening for CPU-heavy per-row operators.

    A tiny input (e.g. one small parquet file) plans a single-task scan,
    which serializes the operator's per-row work — 4x sha256 per shingle,
    interpreted array folds per vector pair — on one core while the rest
    of the cluster idles (measured: the sf0.1 minhash shingle+sha stage
    ran 1.7 s on 1 task with 31 cores idle).  Repartition up to the
    session's default parallelism ONLY when the scan has fewer
    partitions; at scale inputs already carry >= cores splits, so this
    is a no-op and no shuffle is ever added.  Row placement does not
    affect any operator's result (their outputs are aggregations/joins
    keyed by id, insensitive to physical distribution).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
