"""Deterministic synthetic fixtures (specs: /root/repo/FIXTURES.md).

All generators are seeded numpy — no wall-clock, no randomness leaks —
mirroring the reference's seeded test generators
(/root/reference/src/test/java/.../GraphGenerator.java:38-63,
ConnectedComponentsData.java:25-80).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


# ----------------------------------------------------------------- F1
def source_table(spark: SparkSession, n_repos: int = 50, seed: int = 42) -> DataFrame:
    """Iceberg-style source-code table (repo, path, commit, lang, content).

    Content embeds ``import pkg{k}.mod{m}`` lines referencing other
    fixture modules — that's what edge derivation extracts.  Fully
    deterministic so sha256(content) is a stable row-wise invariant.
    """
    rng = np.random.default_rng(seed)
    langs = ["py", "java", "scala", "go"]
    rows = []
    # Pre-compute the global module universe so imports can cross repos.
    files = []
    for i in range(n_repos):
        n_files = max(5, int(200 / (1 + i)))
        for j in range(n_files):
            files.append((i, j))
    n_total = len(files)
    for idx, (i, j) in enumerate(files):
        repo = f"org{i % 7}/repo{i}"
        path = f"src/pkg{j % 13}/mod{j}.py"
        commit = hashlib.sha256(f"{repo}:{path}:c".encode()).hexdigest()[:40]
        lang = langs[hash_path(path) % 4]
        n_imports = int(rng.integers(0, 6))
        targets = rng.integers(0, n_total, size=n_imports)
        imports = "\n".join(
            f"import pkg{files[t][1] % 13}.mod{files[t][1]}" for t in targets
        )
        body = f"def f_{idx}():\n    return {idx}\n"
        content = f"{imports}\n{body}" if imports else body
        rows.append((repo, path, commit, lang, content))
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return spark.createDataFrame(
        pdf, schema="repo string, path string, commit string, lang string, content string"
    )


def hash_path(path: str) -> int:
    """Deterministic string hash (python's hash() is salted per-process)."""
    return int.from_bytes(hashlib.sha256(path.encode()).digest()[:4], "big")


def bench_source_pdf(
    n_files: int = 100_000, n_repos: int = 500, seed: int = 42, zipf_a: float = 1.5
) -> pd.DataFrame:
    """Scalable deterministic source-code table for benchmarks (same
    schema as F1, sized by ``n_files``).  Import targets are Zipf-
    distributed over files, so the derived link graph has realistic
    heavy-tailed in-degree skew (out-hubs after symmetrization)."""
    rng = np.random.default_rng(seed)
    idx = np.arange(n_files)
    n_pkgs = 997
    pkg = idx % n_pkgs
    mod = idx // n_pkgs
    repo_of = idx % n_repos
    n_imports = rng.poisson(8, size=n_files)
    targets = np.minimum(rng.zipf(zipf_a, size=int(n_imports.sum())), n_files) - 1
    bounds = np.concatenate([[0], np.cumsum(n_imports)])
    t_pkg = pkg[targets]
    t_mod = mod[targets]
    import_strs = np.char.add(
        np.char.add("import pkg", t_pkg.astype(str)),
        np.char.add(".mod", t_mod.astype(str)),
    )
    contents = [
        "\n".join(import_strs[bounds[i] : bounds[i + 1]]) + f"\ndef f_{i}():\n    return {i}\n"
        for i in range(n_files)
    ]
    return pd.DataFrame(
        {
            "repo": [f"org{r % 7}/repo{r}" for r in repo_of],
            "path": [f"src/pkg{p}/mod{m}.py" for p, m in zip(pkg, mod)],
            "commit": [
                hashlib.sha256(f"{i}:c".encode()).hexdigest()[:40] for i in idx
            ],
            "lang": ["py", "java", "scala", "go"] * (n_files // 4)
            + ["py"] * (n_files % 4),
            "content": contents,
        }
    )


def bench_source_df(
    spark: SparkSession, n_files: int, n_repos: int = 5000, imports_per_file: int = 8
) -> DataFrame:
    """Distributed deterministic source-table generator (same schema as
    F1) for large-scale benchmarks — pure Spark SQL, no driver bottleneck.

    Import targets are log-uniform over file ids (Zipf-like skew toward
    low ids), derived from ``xxhash64(id, k)`` so the table is identical
    for a given ``n_files`` regardless of parallelism.
    """
    from pyspark.sql import functions as F

    n_pkgs = 997
    df = spark.range(n_files).select(F.col("id"))
    # u_k in [0,1) per (file, import slot); target = floor(n_files^u) - 1
    imports = F.transform(
        F.sequence(F.lit(1), F.lit(imports_per_file)),
        lambda k: F.concat(
            F.lit("import pkg"),
            (
                F.floor(
                    F.pow(
                        F.lit(float(n_files)),
                        F.pmod(F.xxhash64(F.col("id"), k), F.lit(1_000_000))
                        / F.lit(1_000_000.0),
                    )
                ).cast("long")
                - 1
            )
            % n_pkgs,
            F.lit(".mod"),
            F.floor(
                (
                    F.floor(
                        F.pow(
                            F.lit(float(n_files)),
                            F.pmod(F.xxhash64(F.col("id"), k), F.lit(1_000_000))
                            / F.lit(1_000_000.0),
                        )
                    ).cast("long")
                    - 1
                )
                / n_pkgs
            ).cast("long"),
        ),
    )
    return df.select(
        F.concat(
            F.lit("org"), (F.col("id") % n_repos) % 7, F.lit("/repo"), F.col("id") % n_repos
        ).alias("repo"),
        F.concat(
            F.lit("src/pkg"),
            F.col("id") % n_pkgs,
            F.lit("/mod"),
            F.floor(F.col("id") / n_pkgs).cast("long"),
            F.lit(".py"),
        ).alias("path"),
        F.substring(F.sha2(F.concat(F.lit("c:"), F.col("id")), 256), 1, 40).alias(
            "commit"
        ),
        F.element_at(
            F.array(F.lit("py"), F.lit("java"), F.lit("scala"), F.lit("go")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.concat_ws("\n", imports),
            F.lit("\ndef f_"),
            F.col("id"),
            F.lit("():\n    return "),
            F.col("id"),
            F.lit("\n"),
        ).alias("content"),
    )


# ----------------------------------------------------------------- F4
def odd_even_graph(n: int = 500, seed: int = 0) -> pd.DataFrame:
    """Odd/even CC oracle graph (port of the reference's only automated
    test — PCConnectedComponentsTest.java:42-50 + GraphGenerator.java).

    Backbone i-2 -> i keeps each parity class connected; extra random
    same-parity edges; both directions of every edge; dedup.
    Oracle: odd ids -> component 1, even ids -> component 2.
    """
    rng = np.random.default_rng(seed)
    n_edges = 2 * n
    src = list(range(1, n - 1))
    dst = list(range(3, n + 1))
    extra = n_edges - len(src)
    a = rng.integers(1, n + 1, size=extra)
    off = rng.integers(0, n // 2, size=extra)
    b = ((a - 1 + 2 * off) % n) + 1
    # force same parity: b has same parity as a by construction (step 2)
    src = np.concatenate([np.asarray(src, dtype=np.int64), a])
    dst = np.concatenate([np.asarray(dst, dtype=np.int64), b])
    both_src = np.concatenate([src, dst])
    both_dst = np.concatenate([dst, src])
    pdf = pd.DataFrame({"src": both_src, "dst": both_dst}).drop_duplicates()
    pdf = pdf[pdf["src"] != pdf["dst"]]
    return pdf.reset_index(drop=True)


# ----------------------------------------------------------------- F5
def tiny_example_graph() -> tuple[pd.DataFrame, pd.DataFrame]:
    """The reference example graph
    (example/PartitionCentricConnectedComponent.java:37-58): vertices
    1..10, directed edges; expected CC after symmetrization:
    {1,2,3,4}->1, {5,6,7}->5, 8->8, 9->9, 10->10."""
    vertices = pd.DataFrame({"id": np.arange(1, 11, dtype=np.int64)})
    edges = pd.DataFrame(
        {
            "src": np.asarray([1, 2, 3, 3, 5, 7], dtype=np.int64),
            "dst": np.asarray([2, 3, 1, 4, 6, 6], dtype=np.int64),
        }
    )
    return vertices, edges


TINY_EXPECTED_CC = {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9, 10: 10}


# ----------------------------------------------------------------- F7
def skew_graph(n: int = 2000, seed: int = 42) -> pd.DataFrame:
    """Star-heavy graph: one hub with degree ~0.3*|E|, rest sparse random."""
    rng = np.random.default_rng(seed)
    n_sparse = 3 * n
    src = rng.integers(0, n, size=n_sparse)
    dst = rng.integers(0, n, size=n_sparse)
    hub_deg = int(0.3 * n_sparse / 0.7)
    hub_dst = rng.integers(1, n, size=hub_deg)
    src = np.concatenate([src, np.zeros(hub_deg, dtype=np.int64)])
    dst = np.concatenate([dst, hub_dst])
    pdf = pd.DataFrame({"src": src, "dst": dst})
    pdf = pdf[pdf["src"] != pdf["dst"]].drop_duplicates()
    return pdf.reset_index(drop=True)


def to_spark_edges(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    schema = "src long, dst long" + (
        ", weight double" if "weight" in pdf.columns else ""
    )
    return spark.createDataFrame(pdf, schema=schema)
