"""Seeded input generators. Every input the engine sees comes from here;
the same seed gives the same inputs."""

from __future__ import annotations

import importlib.util
import os

import numpy as np

# ----------------------------------------------------------------- KG
# The four multi-source gold tables of the core build, and the sources
# each one reads (names as in scripts/kg_build.py's gen_sources).
KG_TABLES = ("protein_nodes", "ppi_edges", "dti_edges", "gda_edges")
DTI_SOURCES = ("drugbank", "chembl", "pharos", "dgidb", "stitch", "kegg")
GDA_SOURCES = (
    "opentargets", "diseases_knowledge", "diseases_experimental", "kegg",
    "clinvar", "humsavar", "disgenet_gda", "disgenet_vda",
)


def load_kg_build(root: str):
    """scripts/kg_build.py as a module (it is a script, not a package)."""
    path = os.path.join(root, "scripts", "kg_build.py")
    spec = importlib.util.spec_from_file_location("crossbench_kg_build", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def kg_sources(spark, kb, scale: float, seed: int) -> dict:
    """gen_sources at ``scale`` with ``seed`` mixed into every hash
    stream: each ``h(i, salt)`` becomes ``xxhash64(i, salt, seed)``, so
    a seed changes every generated id and value while keeping the
    generator's id spaces and join structure."""
    from pyspark.sql import functions as F

    def seeded_h(col, salt: int, m: int):
        return F.pmod(F.xxhash64(col, F.lit(salt), F.lit(seed)), F.lit(m))

    kb._h = seeded_h
    return kb.gen_sources(spark, scale)


# ----------------------------------------------------------------- text
VOCAB_SIZE = 20_000
ZIPF_S = 1.07
_HEAD_WORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
    "with", "as", "was", "at", "by", "an", "be", "this", "that", "are",
    "from", "or", "had", "but", "not", "have", "they", "his", "her", "we",
]


class TextGen:
    """Zipf-distributed documents (scripts/ingest_probe.py's generator
    family) in constant-size batches with a planted mix:

    - ``fresh`` share: new documents — the only ones that should land;
    - ``exact`` share: verbatim re-ingests of already-landed documents;
    - ``near`` share: landed documents with two tokens appended (word
      3-shingle Jaccard ≥ 0.97, far above the sink's 0.2 threshold, so
      LSH misses them with probability < 1e-7 each);
    - the rest: verbatim copies of this batch's own fresh documents,
      under higher ids (the min-id witness is the fresh one).
    """

    def __init__(self, seed: int, doc_len: tuple[int, int] = (100, 200)):
        self.rng = np.random.default_rng([seed % 2**64, 0x7E47])
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        probs = ranks**-ZIPF_S
        self.probs = probs / probs.sum()
        self.vocab = np.array(
            _HEAD_WORDS + [f"w{i}" for i in range(VOCAB_SIZE - len(_HEAD_WORDS))]
        )
        self.doc_len = doc_len
        self.landed: list[str] = []
        self.next_id = 0

    def fresh(self, n: int) -> list[str]:
        lens = self.rng.integers(self.doc_len[0], self.doc_len[1] + 1, n)
        draws = self.vocab[
            self.rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=self.probs)
        ]
        out, off = [], 0
        for ln in lens:
            out.append(" ".join(draws[off : off + ln]))
            off += int(ln)
        return out

    def seed_corpus(self, n: int) -> list[tuple[int, str]]:
        texts = self.fresh(n)
        return self._issue(texts, n)

    def batch(self, rows: int) -> tuple[list[tuple[int, str]], int]:
        """(rows of (doc_id, text), number of fresh docs that should land)."""
        n_fresh = int(rows * 0.80)
        n_exact = int(rows * 0.10)
        n_near = int(rows * 0.05)
        texts = self.fresh(n_fresh)
        pick = self.rng.integers(0, len(self.landed), n_exact + n_near)
        texts += [self.landed[i] for i in pick[:n_exact]]
        tail = self.vocab[self.rng.integers(30, VOCAB_SIZE, (n_near, 2))]
        texts += [
            f"{self.landed[i]} {a} {b}" for i, (a, b) in zip(pick[n_exact:], tail)
        ]
        own = self.rng.integers(0, n_fresh, rows - len(texts))
        texts += [texts[i] for i in own]
        return self._issue(texts, n_fresh), n_fresh

    def _issue(self, texts: list[str], n_land: int) -> list[tuple[int, str]]:
        rows = [(self.next_id + i, t) for i, t in enumerate(texts)]
        self.next_id += len(texts)
        self.landed.extend(texts[:n_land])
        return rows

    def queries(self, n: int, terms: int = 3) -> list[tuple[int, str]]:
        """Queries of ``terms`` mid-frequency words drawn from landed docs."""
        out = []
        for q in range(n):
            toks = self.landed[int(self.rng.integers(0, len(self.landed)))].split()
            mid = [t for t in toks if t[0] == "w" and t[1:].isdigit() and int(t[1:]) > 100]
            pick = self.rng.choice(len(mid), size=min(terms, len(mid)), replace=False)
            out.append((q, " ".join(mid[i] for i in sorted(pick))))
        return out


# --------------------------------------------------------------- vectors
def unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


class VectorGen:
    """Gaussian vectors in constant-size batches with planted copies:

    - ``fresh`` share: new random vectors — the only ones that should land
      (two random 32-d directions are never within cosine 0.95);
    - exact and near copies of already-landed vectors;
    - exact and near copies of this batch's own fresh vectors, under
      higher ids (the min-id survivor is the fresh one).

    A near copy is its original plus noise at cosine ≥ 0.999. The sink
    compares vectors within one IVF cell only, so near copies are drawn
    inside their original's cell, with a margin over the runner-up
    centroid; ``set_centroids`` must be called before the first batch.
    """

    MARGIN = 1e-3

    def __init__(self, seed: int, dim: int = 32):
        self.rng = np.random.default_rng([seed % 2**64, 0x5EC7])
        self.dim = dim
        self.landed: list[np.ndarray] = []
        self.next_id = 0
        self.cents: np.ndarray | None = None

    def set_centroids(self, centroids: list[list[float]]) -> None:
        self.cents = np.asarray(centroids, dtype=np.float64)

    def fresh(self, n: int) -> np.ndarray:
        return self.rng.standard_normal((n, self.dim)).astype(np.float32)

    def _cell(self, v: np.ndarray) -> tuple[int, float]:
        s = self.cents @ unit(v.astype(np.float64))
        top2 = np.sort(s)[-2:]
        return int(np.argmax(s)), float(top2[1] - top2[0])

    def _near(self, v: np.ndarray) -> np.ndarray:
        cell, margin = self._cell(v)
        if margin <= self.MARGIN:
            return v.copy()  # the original sits near a cell boundary
        scale = 0.02 * float(np.linalg.norm(v)) / np.sqrt(self.dim)
        for _ in range(64):
            c = (v + scale * self.rng.standard_normal(self.dim)).astype(np.float32)
            c_cell, c_margin = self._cell(c)
            if c_cell == cell and c_margin > self.MARGIN:
                return c
            scale /= 2
        return v.copy()

    def batch(self, rows: int) -> tuple[list[int], np.ndarray, int]:
        """(ids, vectors, number of fresh vectors that should land)."""
        n_fresh = int(rows * 0.85)
        n_landed_copies = int(rows * 0.10) if self.landed else 0
        fresh = self.fresh(n_fresh)
        pool = np.concatenate(self.landed) if self.landed else fresh
        pick = self.rng.integers(0, len(pool), n_landed_copies)
        half = n_landed_copies // 2
        copies = [pool[i].copy() for i in pick[:half]]
        copies += [self._near(pool[i]) for i in pick[half:]]
        own = self.rng.integers(0, n_fresh, rows - n_fresh - len(copies))
        half = len(own) // 2
        copies += [fresh[i].copy() for i in own[:half]]
        copies += [self._near(fresh[i]) for i in own[half:]]
        vecs = np.concatenate([fresh, np.asarray(copies, dtype=np.float32)])
        ids = list(range(self.next_id, self.next_id + rows))
        self.next_id += rows
        self.landed.append(fresh)
        return ids, vecs, n_fresh
