"""Output checks that share no code with the engine: DuckDB reads the
parquet the engine wrote, and BM25 and IVF top-k are recomputed here in
plain Python and numpy from the generated inputs."""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _parquet_glob(table_dir: str) -> str:
    # part files at any depth: flat tables, ``__batch_id=N/`` partitions
    # and ``cluster=C/__batch_id=N/`` leaves alike
    return os.path.join(table_dir, "**", "*.parquet")


def table_digest(con, table_dir: str) -> tuple[int, str]:
    """(row count, order-independent content hash) of a parquet table."""
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash(t)), 0)::VARCHAR "
        f"FROM read_parquet('{_parquet_glob(table_dir)}') t"
    ).fetchone()
    return int(n), h


def column_values(con, table_dir: str, col: str) -> list:
    return [
        r[0]
        for r in con.sql(
            f"SELECT {col} FROM read_parquet('{_parquet_glob(table_dir)}', "
            f"hive_partitioning = false)"
        ).fetchall()
    ]


def parquet_files(path: str) -> int:
    n = 0
    for _dirpath, _dirs, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


# ------------------------------------------------------------------ BM25
def _fround(x: float, scale: int = 6) -> float:
    p = float(10**scale)
    return math.floor(x * p + 0.5) / p


def bm25_reference(
    docs: dict[int, str],
    queries: list[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> dict[int, list[tuple[int, float]]]:
    """query id → [(doc id, score)] best first, ties by ascending doc id.
    Lower-case whitespace tokens; idf = ln(1 + (N − df + 0.5)/(df + 0.5));
    idf and each term's contribution rounded half-up to 1e-6, and the
    contributions summed exactly."""
    tfs = {d: Counter(t.lower().split()) for d, t in docs.items()}
    dl = {d: float(sum(c.values())) for d, c in tfs.items()}
    n_docs = float(len(docs))
    avgdl = sum(dl.values()) / n_docs
    df = Counter(term for c in tfs.values() for term in c)
    out = {}
    for qid, text in queries:
        terms = set(text.lower().split())
        scores: dict[int, int] = {}
        for term in terms:
            if term not in df:
                continue
            idf = _fround(math.log(1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5)))
            for d, c in tfs.items():
                tf = c.get(term)
                if tf is None:
                    continue
                tf = float(tf)
                contrib = idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * ((1.0 - b) + b * dl[d] / avgdl)
                )
                scores[d] = scores.get(d, 0) + round(_fround(contrib) * 1e6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        out[qid] = [(d, s / 1e6) for d, s in ranked]
    return out


# ------------------------------------------------------------------- IVF
def ivf_reference(
    ids: np.ndarray,
    vecs: np.ndarray,
    queries: np.ndarray,
    query_ids: list[int],
    centroids: list[list[float]],
    k: int,
    nprobe: int,
) -> dict[int, list[tuple[int, float]]]:
    """Brute-force cosine top-k over the landed vectors of each query's
    ``nprobe`` nearest cells — exactly the candidates an IVF probe scores.
    query id → [(vector id, cosine)] best first, ties by ascending id."""
    cents = np.asarray(centroids, dtype=np.float64)
    u = vecs.astype(np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    cell = np.argmax(u @ cents.T, axis=1)
    out = {}
    for qid, q in zip(query_ids, queries.astype(np.float64)):
        qu = q / np.linalg.norm(q)
        probed = np.argsort(-(cents @ qu), kind="stable")[:nprobe]
        mask = np.isin(cell, probed)
        cos = u[mask] @ qu
        cand = ids[mask]
        order = np.lexsort((cand, -cos))[:k]
        out[qid] = [(int(cand[i]), float(cos[i])) for i in order]
    return out


def same_ranking(
    got: dict[int, list[tuple[int, float]]],
    want: dict[int, list[tuple[int, float]]],
    tol: float,
) -> str | None:
    """None when the rankings agree: same ids in the same order, scores
    within ``tol``; an id may differ only where the two scores at that
    rank tie within ``tol``. Otherwise a description of the first
    difference."""
    if set(got) != set(want):
        return f"query sets differ: {sorted(got)} vs {sorted(want)}"
    for q in want:
        g, w = got[q], want[q]
        if len(g) != len(w):
            return f"query {q}: {len(g)} results, want {len(w)}"
        for r, ((gi, gs), (wi, ws)) in enumerate(zip(g, w)):
            if abs(gs - ws) > tol:
                return f"query {q} rank {r}: score {gs} vs {ws}"
            if gi != wi and not any(
                abs(gs - s) <= tol for i, s in w if i == gi
            ):
                return f"query {q} rank {r}: id {gi} vs {wi}"
    return None
