"""Reference results the benchmark checks every operation against.

Nothing here imports Spark: references are computed from the generated
input files with DuckDB (for operations the package declares an ORACLE
SQL for, plus the seeded Cypher queries), networkx (connected components
exactly, the household cliques louvain must recover), numpy (PageRank
within a stated tolerance, k-means, exact nearest neighbours, Jaccard,
image statistics), and an in-memory model of every lakehouse table. A check raises
``CheckFailed``; the runner counts that, like an exception from the
operation itself, in ``failed``.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow.parquet as pq

import params as P
from graph_db_clustering_spark.oracle import canonical_rows, has_toplevel_order_by

# PageRank: the reference runs the same power steps; the L1 distance
# allows for float summation order only.
PAGERANK_L1_TOLERANCE = 1e-9
KMEANS_MIN_AGREEMENT = 0.999  # share of points assigned as numpy assigns them
# An ideal minhash LSH with 16 bands of 4 rows finds a pair of Jaccard 0.7
# with p = 0.988. operators.dedup's affine family (a*x + b) mod (2^61 - 1)
# seldom wraps for 32-bit shingle hashes, so its 64 hashes pick only ~11
# distinct minima and recall of the planted pairs measures ~0.8. The floor
# catches a broken pipeline; the measured recall is reported per run.
NEAR_DUP_MIN_RECALL = 0.5
# recall@5 of IVF-PQ (16 cells, nprobe 4, 64 codewords, 4x re-rank)
# against exact top-5 measures 0.45-0.6 on these embeddings, whose
# neighbours inside a label cluster are nearly equidistant; random
# answers score ~0.001. The floor catches a broken search.
IVFPQ_MIN_RECALL = 0.25
# declared queries whose ORACLE SQL the references run (inputs.version
# hashes their text)
ORACLE_USED = ("pipeline_corpus", "nb_language")
# the text-quality pipeline runs on the first 500 base documents: its
# DuckDB reference is regex-heavy and would dominate input generation
QUALITY_DOCS = "doc_id < 500"


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ---------------------------------------------------------------------------
# DuckDB over the generated files
# ---------------------------------------------------------------------------


def duck(input_dir: str, where: dict | None = None):
    """A DuckDB connection with one view per generated parquet file;
    ``where`` maps a view to a row filter."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            cond = (where or {}).get(f[:-8], "TRUE")
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(input_dir, f)}') WHERE {cond}"
            )
    return con


def sql_rows(con, sql: str) -> tuple[list[tuple], bool]:
    """Canonical rows of a reference query (oracle.py's canonicalisation)
    and whether row order is part of the answer."""
    ordered = has_toplevel_order_by(sql)
    return canonical_rows(con.execute(sql).df(), sort=not ordered), ordered


def check_rows(pdf, expected: tuple[list[tuple], bool], what: str) -> None:
    rows, ordered = expected
    got = canonical_rows(pdf, sort=not ordered)
    expect(len(got) == len(rows), f"{what}: {len(got)} rows, expected {len(rows)}")
    expect(got == rows, f"{what}: rows differ from the DuckDB reference")


# ---------------------------------------------------------------------------
# graph_iterative
# ---------------------------------------------------------------------------


def link_graph(input_dir: str):
    import networkx as nx

    cust = pq.read_table(os.path.join(input_dir, "customer.parquet"), columns=["c_custkey"])
    links = pq.read_table(os.path.join(input_dir, "links.parquet")).to_pydict()
    g = nx.DiGraph()
    g.add_nodes_from(cust.column(0).to_pylist())
    g.add_edges_from(zip(links["src"], links["dst"]))
    return g


def min_id_labels(g) -> dict[int, int]:
    """Each vertex's weakly connected component, labelled by its smallest
    vertex id: connected_components' answer, and louvain's on disjoint
    cliques."""
    import networkx as nx

    out = {}
    for comp in nx.weakly_connected_components(g) if g.is_directed() else nx.connected_components(g):
        m = min(comp)
        out.update((v, m) for v in comp)
    return out


def household_graph(input_dir: str):
    import networkx as nx

    h = pq.read_table(os.path.join(input_dir, "households.parquet")).to_pydict()
    return nx.Graph(zip(h["src"], h["dst"]))


def check_labels(pdf, col: str, expected: dict[int, int], what: str) -> None:
    """Every vertex carries exactly the expected label."""
    got = dict(zip(pdf["id"].tolist(), pdf[col].tolist()))
    expect(len(got) == len(pdf), f"{what}: a vertex appears twice")
    expect(set(got) == set(expected), f"{what}: vertex set differs")
    wrong = sum(got[v] != c for v, c in expected.items())
    expect(wrong == 0, f"{what}: {wrong} vertices labelled unlike networkx")


def pagerank(g, steps: int, alpha: float = 0.85) -> dict[int, float]:
    """``steps`` PageRank power steps from uniform ranks over the networkx
    graph ``g``, as graph_algos.pagerank runs them: uniform teleport,
    dangling vertices' rank spread uniformly. NumPy, because networkx's
    own solver needs scipy (not a dependency) and iterates to
    convergence."""
    nodes = list(g)
    pos = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([pos[a] for a, _ in g.edges()], dtype=np.int64)
    dst = np.array([pos[b] for _, b in g.edges()], dtype=np.int64)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = deg == 0
    x = np.full(n, 1.0 / n)
    for _ in range(steps):
        share = np.where(dangling, 0.0, x / np.where(dangling, 1.0, deg))
        x = (1.0 - alpha) / n + alpha * (
            np.bincount(dst, weights=share[src], minlength=n) + x[dangling].sum() / n
        )
    return dict(zip(nodes, x.tolist()))


def check_pagerank(pdf, expected: dict[int, float]) -> None:
    got = dict(zip(pdf["id"].tolist(), pdf["rank"].tolist()))
    expect(set(got) == set(expected), "pagerank: vertex set differs")
    l1 = sum(abs(got[v] - r) for v, r in expected.items())
    expect(l1 <= PAGERANK_L1_TOLERANCE, f"pagerank: L1 distance {l1:.2e} to numpy")


def kmeans(vecs: np.ndarray, ids: np.ndarray, k: int, max_iter: int) -> np.ndarray:
    """Lloyd's loop as operators.kmeans.fit runs it: the same deterministic
    initial sample, cosine assignment (ties to the lowest cluster id),
    mean update, stop when the cluster sizes repeat. Returns each point's
    cluster in ``ids`` order."""
    order = np.lexsort((ids, (ids * 2654435761) % 4294967296))[:k]
    cents = vecs[order[np.argsort(ids[order])]].astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    prev = None
    assign = None
    for _ in range(max_iter):
        cu = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(unit @ cu.T, axis=1)
        sizes = np.bincount(assign, minlength=k)
        if prev is not None and np.array_equal(sizes, prev):
            break
        prev = sizes
        for c in range(k):
            if sizes[c]:
                cents[c] = vecs[assign == c].mean(axis=0)
    return assign


def check_kmeans(pdf, ref_ids: np.ndarray, ref_assign: np.ndarray) -> None:
    got = dict(zip(pdf["id"].tolist(), pdf["cid"].tolist()))
    expect(len(got) == len(ref_ids), "kmeans: point set differs")
    agree = np.mean([got.get(int(i)) == int(c) for i, c in zip(ref_ids, ref_assign)])
    expect(agree >= KMEANS_MIN_AGREEMENT, f"kmeans: {agree:.4f} agreement with numpy")


# ---------------------------------------------------------------------------
# corpus_batch
# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> set:
    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def check_near_dups(pairs, texts: dict, planted: set, threshold: float) -> float:
    """Every reported pair clears the threshold at its exact word-3-gram
    Jaccard (reported value within hash-collision noise), and the planted
    pairs of true Jaccard >= 0.7 are found at NEAR_DUP_MIN_RECALL or
    better. Returns that recall."""
    found = set()
    for a, b, j in pairs:
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        exact = len(sa & sb) / len(sa | sb)
        expect(exact >= threshold - 0.01, f"near dups: pair ({a},{b}) Jaccard {exact:.3f}")
        expect(abs(exact - j) <= 0.02, f"near dups: pair ({a},{b}) reported {j} vs {exact:.3f}")
        found.add((a, b))
    similar = [
        (a, b) for a, b in planted
        if len((sa := _shingles(texts[a])) & (sb := _shingles(texts[b]))) / len(sa | sb) >= 0.7
    ]
    expect(bool(similar), "near dups: no planted pair to recall")
    recall = sum(p in found for p in similar) / len(similar)
    expect(recall >= NEAR_DUP_MIN_RECALL, f"near dups: recall {recall:.3f} of planted pairs")
    return recall


def check_near_dups_against(pairs, texts: dict, planted: set, threshold: float) -> float:
    """near_dups_against of the odd-id base documents against the index
    of the even-id ones: the same checks as check_near_dups, over the
    planted base pairs that straddle the two sides. Returns the recall."""
    for a, b, _ in pairs:
        expect(a % 2 == 1 and b % 2 == 0, f"near dups against: pair ({a},{b}) not batch x index")
    straddle = {(a, b) if a % 2 else (b, a) for a, b in planted if (a + b) % 2 and a < 1_000_000}
    return check_near_dups(pairs, texts, straddle, threshold)


def image_features(input_dir: str, resize: int) -> dict[int, tuple]:
    """The seven statistics of every generated image after a
    nearest-neighbour resize to ``resize`` x ``resize``: mean, std,
    median, min, max, the row-0 self-correlation (1.0) and the row-0
    sample variance, as the pipeline this operator reproduces stores them."""
    t = pq.read_table(os.path.join(input_dir, "images.parquet")).to_pydict()
    out = {}
    for iid, content, meta in zip(t["image_id"], t["content"], t["meta"]):
        h, w = meta["height"], meta["width"]
        img = np.frombuffer(content, dtype=np.uint8).reshape(h, w)
        g = img[np.arange(resize) * h // resize][:, np.arange(resize) * w // resize].astype(np.float64)
        out[iid] = (g.mean(), g.std(), np.median(g), g.min(), g.max(), 1.0, np.var(g[0], ddof=1))
    return out


def check_image_features(pdf, expected: dict[int, tuple]) -> None:
    expect(sorted(pdf["id"].tolist()) == sorted(expected), "image features: image set differs")
    cols = ["mean", "std", "median", "min", "max", "corrcoef", "covariance"]
    got = pdf[cols].to_numpy()
    want = np.array([expected[i] for i in pdf["id"].tolist()])
    err = float(np.abs(got - want).max())
    expect(err < 1e-6, f"image features: max error {err:.2e} against numpy")


def check_ivfpq(pdf, ids: np.ndarray, mat: np.ndarray, k: int) -> float:
    """Scores are exact cosines of the returned pairs, and recall@k
    against exact top-k clears IVFPQ_MIN_RECALL. ``mat`` holds the unit
    vectors of ``ids``, row for row. Returns the recall."""
    pos = {int(v): n for n, v in enumerate(ids)}
    hits = total = 0
    for q, grp in pdf.groupby("query_id"):
        sims = mat @ mat[pos[q]]
        sims[pos[q]] = -np.inf
        exact = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
        for cand, score in zip(grp["id"].tolist(), grp["score"].tolist()):
            expect(cand != q, "ivfpq: query returned itself")
            expect(abs(float(mat[pos[cand]] @ mat[pos[q]]) - score) < 1e-4, "ivfpq: score is not the cosine")
        hits += len(exact & set(grp["id"].tolist()))
        total += k
    expect(total > 0, "ivfpq: no results")
    expect(hits / total >= IVFPQ_MIN_RECALL, f"ivfpq: recall@{k} {hits / total:.3f}")
    return hits / total


# ---------------------------------------------------------------------------
# results tables
# ---------------------------------------------------------------------------


class TableModel:
    """In-memory model of one lakehouse table: key -> value in cents."""

    def __init__(self, keys=(), values=()):
        self.rows = {int(k): round(float(v) * 100) for k, v in zip(keys, values)}
        self.aux: dict = {}  # key -> the row's other integer column, if any

    def upsert(self, keys, values) -> None:
        for k, v in zip(keys, values):
            self.rows[int(k)] = round(float(v) * 100)

    def summary(self, lo=None, hi=None) -> tuple[int, int, int]:
        """(count, key sum, sum of values in cents) over keys in [lo, hi]."""
        sel = [
            (k, c) for k, c in self.rows.items() if (lo is None or lo <= k <= hi)
        ]
        return len(sel), sum(k for k, _ in sel), sum(c for _, c in sel)


def batch_summary(frames) -> tuple[int, int, int]:
    """(rows, key sum, sum of values in cents) over (key, value) frames:
    what a change feed of exactly those writes carries."""
    n = ks = cs = 0
    for keys, values in frames:
        n += len(keys)
        ks += sum(int(k) for k in keys)
        cs += sum(round(float(v) * 100) for v in values)
    return n, ks, cs


def check_summary(got: tuple, model: TableModel, what: str, lo=None, hi=None) -> None:
    exp = model.summary(lo, hi)
    expect(tuple(int(x or 0) for x in got) == exp, f"{what}: read {got}, model {exp}")


# ---------------------------------------------------------------------------
# computed once per seed, in a child process, by inputs.ensure_inputs
# ---------------------------------------------------------------------------


def _texts(path: str) -> dict:
    t = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


def _graph_iterative(d: str, manifest: dict) -> dict:
    from params import CYPHER

    g = link_graph(d)
    t = pq.read_table(os.path.join(d, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    households = household_graph(d)
    con = duck(d)
    try:
        cypher = [
            sql_rows(con, CYPHER[i % len(CYPHER)][1].format(**p))
            for i, p in enumerate(manifest["cypher_params"])
        ]
    finally:
        con.close()
    return {
        "pagerank": pagerank(g, P.PAGERANK_MAX_ITER),
        "components": min_id_labels(g),
        "households": min_id_labels(households),
        "kmeans_ids": ids,
        "kmeans": kmeans(vecs, ids, P.KMEANS_K, P.KMEANS_MAX_ITER),
        "cypher": cypher,
    }


def _corpus_batch(d: str, manifest: dict) -> dict:
    from graph_db_clustering_spark.queries import ORACLE

    e = pq.read_table(os.path.join(d, "embeddings.parquet"))
    mat = np.stack(e.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    oracle = {}
    for q in ORACLE_USED:
        con = duck(d, {"documents": QUALITY_DOCS} if q == "pipeline_corpus" else None)
        try:
            oracle[q] = sql_rows(con, ORACLE[q])
        finally:
            con.close()
    return {
        "vec_ids": e.column("vec_id").to_numpy(),
        "unit_vecs": mat,
        "texts": _texts(os.path.join(d, "documents.parquet")),
        "planted": {tuple(x) for x in manifest["planted_pairs"]},
        "oracle": oracle,
        "images": image_features(d, P.IMAGE_RESIZE),
    }


def prepare(workload: str, input_dir: str, manifest: dict) -> dict:
    """Every reference one workload's checks need, from its inputs."""
    return {"graph_iterative": _graph_iterative, "corpus_batch": _corpus_batch}[workload](
        input_dir, manifest
    )
