"""Independent answers to every benchmarked operation, and the checks
that compare pcgraph's outputs against them.

PageRank, connected components and SSSP are numpy iterations of the
textbook definitions; edge derivation, triangles, label propagation and
near-duplicate pairs are DuckDB SQL; SimHash is hashlib; cosine top-k is
numpy brute force.  None of these share code with pcgraph.
"""

from __future__ import annotations

import hashlib
import tempfile

import duckdb
import numpy as np
import pandas as pd

DAMPING = 0.85
PR_TOL = 1e-6
LPA_ROUNDS = 5


def _duckdb():
    con = duckdb.connect()
    # its progress bar would write into the benchmark's stdout, and it
    # spills to ./.tmp unless told otherwise
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def derive_edges(src: pd.DataFrame) -> pd.DataFrame:
    """File-level import edges with row-number vertex ids: importer ->
    defining file, weight = import count, self-edges dropped."""
    con = _duckdb()
    con.register("source", src)
    return con.sql(
        r"""
        WITH files AS (SELECT row_number() OVER () AS fid, path, content FROM source),
        catalog AS (
          SELECT fid, regexp_replace(regexp_replace(regexp_replace(path,
                   '^(src|lib|main)/', ''), '\.(py|java|scala|go)$', ''), '/', '.', 'g') AS module
          FROM files),
        imports AS (
          SELECT fid AS importer,
                 unnest(regexp_extract_all(content, 'import\s+([A-Za-z_][\w\.]*)', 1)) AS module
          FROM files)
        SELECT importer AS src, catalog.fid AS dst, count(*)::DOUBLE AS weight
        FROM imports JOIN catalog USING (module)
        WHERE importer <> catalog.fid
        GROUP BY 1, 2
        """
    ).df()


def _digest(a: np.ndarray) -> str:
    return hashlib.sha1(np.ascontiguousarray(a).tobytes()).hexdigest()[:16]


def edge_summary(edges: pd.DataFrame) -> dict:
    """Id-free fingerprint of an edge table: counts, total weight and the
    sorted degree and weight sequences."""
    return {
        "edges": int(len(edges)),
        "vertices": int(pd.concat([edges["src"], edges["dst"]]).nunique()),
        "weight_sum": float(edges["weight"].sum()),
        "out_degrees": _digest(np.sort(edges.groupby("src").size().to_numpy())),
        "in_degrees": _digest(np.sort(edges.groupby("dst").size().to_numpy())),
        "weights": _digest(np.sort(edges["weight"].to_numpy())),
    }


def symmetric_edges(edges: pd.DataFrame) -> int:
    """Rows of the undirected edge set: both directions, deduplicated."""
    con = _duckdb()
    con.register("e0", edges[["src", "dst"]])
    return int(con.sql("SELECT count(*) FROM (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)")
               .fetchone()[0])


def triangles(edges: pd.DataFrame) -> int:
    con = _duckdb()
    con.register("e0", edges[["src", "dst"]])
    return int(
        con.sql(
            """
            WITH e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                       FROM e0 WHERE src <> dst)
            SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a
                                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            """
        ).fetchone()[0]
    )


def near_duplicate_pairs(docs: pd.DataFrame, k: int, threshold: float) -> np.ndarray:
    """Every document pair whose k-word-shingle Jaccard is at least
    ``threshold``: float64 rows (id1, id2, jaccard rounded to 6)."""
    con = _duckdb()
    con.register("docs", docs[["doc_id", "text"]])
    rows = con.sql(
        f"""
        WITH t AS (SELECT doc_id AS id, text, string_split(text, ' ') AS toks FROM docs),
        sh AS (
          SELECT DISTINCT id, CASE WHEN len(toks) < {k} THEN text
                 ELSE array_to_string(toks[i:i + {k - 1}], ' ') END AS shingle
          FROM (SELECT *, unnest(range(1, greatest(len(toks) - {k - 1}, 1) + 1)) AS i FROM t)),
        n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        inter AS (SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
                  GROUP BY 1, 2)
        SELECT id1, id2, round(n_inter::DOUBLE / (n1.n + n2.n - n_inter), 6) AS j
        FROM inter JOIN n n1 ON n1.id = id1 JOIN n n2 ON n2.id = id2
        WHERE round(n_inter::DOUBLE / (n1.n + n2.n - n_inter), 6) >= {threshold}
        ORDER BY 1, 2
        """
    ).fetchnumpy()
    return np.stack([rows["id1"], rows["id2"], rows["j"]], axis=1).astype(np.float64).reshape(-1, 3)


def simhash_portable(texts: pd.Series) -> np.ndarray:
    """64-char bit strings: bit j votes +1 when hex digit j of the
    token's sha256 is odd; a bit is 1 when its vote sum is >= 0."""
    memo: dict[str, np.ndarray] = {}
    out = []
    for text in texts:
        votes = np.zeros(64, dtype=np.int64)
        for tok in text.split(" "):
            v = memo.get(tok)
            if v is None:
                digits = hashlib.sha256(tok.encode()).hexdigest()
                v = memo[tok] = np.array([int(c, 16) % 2 * 2 - 1 for c in digits[:64]])
            votes += v
        out.append("".join("1" if s >= 0 else "0" for s in votes))
    return np.array(out)


def cosine_topk(vecs: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k neighbours (self excluded, ties to the smaller id):
    (ids[q, k], all cosines[q, n])."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit[queries] @ unit.T
    cos[np.arange(len(queries)), queries] = -np.inf
    order = np.lexsort((np.broadcast_to(np.arange(len(vecs)), cos.shape), -cos), axis=1)
    return order[:, :k], cos


# ------------------------------------------------------------------ graph
def _index(edges: pd.DataFrame):
    src = edges["src"].to_numpy(np.int64)
    dst = edges["dst"].to_numpy(np.int64)
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(n: int, si: np.ndarray, di: np.ndarray) -> tuple[np.ndarray, int]:
    outdeg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    pr = np.full(n, 1.0 / n)
    steps = 0
    while True:
        steps += 1
        msg = np.bincount(di, weights=pr[si] / outdeg[si], minlength=n)
        new = (1 - DAMPING) / n + DAMPING * (msg + pr[dangling].sum() / n)
        l1 = np.abs(new - pr).sum()
        pr = new
        if l1 < PR_TOL:
            return pr, steps


def min_label_components(n: int, si: np.ndarray, di: np.ndarray) -> np.ndarray:
    """Index of the smallest vertex in each vertex's undirected component."""
    label = np.arange(n)
    a = np.concatenate([si, di])
    b = np.concatenate([di, si])
    while True:
        new = label.copy()
        np.minimum.at(new, b, label[a])
        new = new[new]  # pointer jumping
        if np.array_equal(new, label):
            return label
        label = new


def bellman_ford(n: int, si, di, w, source: int) -> np.ndarray:
    dist = np.full(n, np.inf)
    dist[source] = 0.0
    while True:
        new = dist.copy()
        np.minimum.at(new, di, dist[si] + w)
        if np.array_equal(new, dist):
            return dist
        dist = new


def label_propagation(ids: np.ndarray, edges: pd.DataFrame, rounds: int) -> np.ndarray:
    """Synchronous LPA on the symmetrised graph: each vertex takes the
    most frequent in-neighbour label, ties to the smallest label."""
    con = _duckdb()
    con.register("e0", edges[["src", "dst"]])
    con.register("v", pd.DataFrame({"id": ids}))
    con.execute(
        "CREATE TABLE e AS SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"
    )
    con.execute("CREATE TABLE lab AS SELECT id, id AS label FROM v")
    for _ in range(rounds):
        con.execute(
            """
            CREATE OR REPLACE TABLE lab AS
            WITH cnt AS (SELECT e.dst AS id, l.label, count(*) AS c
                         FROM lab l JOIN e ON e.src = l.id GROUP BY 1, 2),
            pick AS (SELECT id, label FROM (
                       SELECT id, label, row_number() OVER (
                                PARTITION BY id ORDER BY c DESC, label ASC) AS rn
                       FROM cnt) WHERE rn = 1)
            SELECT l.id, coalesce(p.label, l.label) AS label
            FROM lab l LEFT JOIN pick p USING (id)
            """
        )
    return con.sql("SELECT label FROM lab ORDER BY id").fetchnumpy()["label"].astype(np.int64)


def graph_answers(edges: pd.DataFrame) -> tuple[dict, dict]:
    ids, si, di = _index(edges)
    n = len(ids)
    pr, pr_steps = pagerank(n, si, di)
    source = int(np.searchsorted(ids, edges["src"].min()))
    dist = bellman_ford(n, si, di, edges["weight"].to_numpy(np.float64), source)
    scalars = {
        "pagerank_supersteps": pr_steps,
        "sssp_source": int(ids[source]),
        "sssp_reached": int(np.isfinite(dist).sum()),
    }
    arrays = {
        "ids": ids,
        "pagerank": pr,
        "component": ids[min_label_components(n, si, di)],
        "distance": dist,
        "label": label_propagation(ids, edges, LPA_ROUNDS),
    }
    return scalars, arrays


# ----------------------------------------------------------------- checks
def _aligned(result: pd.DataFrame, ids: np.ndarray, col: str) -> np.ndarray | None:
    """Result column in ``ids`` order, or None if the id sets differ."""
    r = result.sort_values("id")
    if len(r) != len(ids) or not np.array_equal(r["id"].to_numpy(np.int64), ids):
        return None
    return r[col].to_numpy()


def check_graph_result(op: str, result: pd.DataFrame, history: list, oracle) -> str | None:
    """None when ``result`` (the algorithm's output DataFrame collected
    to pandas) matches the oracle; else a one-line reason."""
    ids = oracle.arrays["ids"]
    col = {"pagerank": "pagerank", "cc": "component", "sssp": "distance",
           "sssp_delta": "distance", "lpa": "label"}[op]
    got = _aligned(result, ids, col)
    if got is None:
        return f"{op}: vertex set differs ({len(result)} rows, expected {len(ids)})"
    want = oracle.arrays[col]
    if op == "pagerank":
        if len(history) != oracle.scalars["pagerank_supersteps"]:
            return f"pagerank: {len(history)} supersteps, oracle {oracle.scalars['pagerank_supersteps']}"
        err = float(np.abs(got - want).max())
        return None if err <= 1e-10 else f"pagerank: max abs error {err:.3g}"
    if not np.array_equal(got, want):
        return f"{op}: {int((got != want).sum())} of {len(ids)} values differ"
    return None
