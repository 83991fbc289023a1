"""Seeded synthetic corpus in the testdata layout, plus NumPy ground truth.

The corpus has the shape of the ``sf0.1`` testdata the engine is tuned on:
5,000 ``documents`` rows and 2,000 ``embeddings`` rows of 64 float32 dims,
written as ``documents.parquet`` and ``embeddings.parquet`` so the engine's
loaders read it unchanged. Vectors come from a Gaussian mixture and are
L2-normalised; documents 2000..4999 have metadata but no vector, which is
where the ingest workload upserts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_LABELS = 32
#: mixture noise norm relative to the unit centres: neighbours cross
#: index cells often enough that ANN recall is below 1
SPREAD = 1.5
LANGS = ("en", "de", "fr", "es", "zh")
WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data"
).split()


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


class Corpus:
    """The generated tables, kept in memory for ground truth."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        centers = unit_rows(rng.standard_normal((N_LABELS, DIM)))
        labels = rng.integers(0, N_LABELS, N_VECS)
        vecs = centers[labels] + SPREAD * rng.standard_normal((N_VECS, DIM)) / np.sqrt(DIM)
        # float32 at rest, like the testdata; truth is computed on the
        # stored values widened to float64, as the engine reads them
        self.vecs32 = unit_rows(vecs).astype(np.float32)
        self.labels = labels.astype(np.int32)
        self.centers = centers
        self.langs = np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)]
        self.sources = np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, N_DOCS)
        ]
        n_words = rng.integers(20, 60, N_DOCS)
        word_ids = rng.integers(0, len(WORDS), int(n_words.sum()))
        texts, at = [], 0
        for n in n_words:
            texts.append(" ".join(WORDS[w] for w in word_ids[at : at + n]))
            at += n
        self.texts = texts

    def write(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        docs = pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
                "text": pa.array(self.texts),
                "lang": pa.array(self.langs.tolist()),
                "source": pa.array(self.sources.tolist()),
                "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
            }
        )
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
        embs = pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
                "embedding": pa.array(
                    list(self.vecs32), pa.list_(pa.float32())
                ),
                "label": pa.array(self.labels),
            }
        )
        pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))

    def new_vectors(self, n: int, rng: np.random.Generator) -> np.ndarray:
        """Fresh vectors from the same mixture (for upserts), float32."""
        labels = rng.integers(0, N_LABELS, n)
        v = self.centers[labels] + SPREAD * rng.standard_normal((n, DIM)) / np.sqrt(DIM)
        return unit_rows(v).astype(np.float32)

    def perturbed_query(self, rng: np.random.Generator) -> list[float]:
        """A distinct query: a random corpus vector, perturbed."""
        return perturb(self.vecs32[rng.integers(0, N_VECS)], rng)


def perturb(vec: np.ndarray, rng: np.random.Generator) -> list[float]:
    """``vec`` plus seeded Gaussian noise of norm about 0.15."""
    q = vec.astype(np.float64) + 0.15 * rng.standard_normal(DIM) / np.sqrt(DIM)
    return [float(x) for x in q]


class Truth:
    """Brute-force cosine top-k in float64, ties broken by ascending id,
    over the live vector set (``ids``, ``vecs``). A boolean ``mask`` over
    that set restricts it, for filtered truth."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.asarray(ids, dtype=np.int64)
        self.unit = unit_rows(np.asarray(vecs, dtype=np.float64))

    def scores(self, q) -> np.ndarray:
        qv = np.asarray(q, dtype=np.float64)
        return self.unit @ (qv / (np.linalg.norm(qv) or 1.0))

    def topk(self, q, k: int, mask: np.ndarray | None = None) -> tuple[list[int], np.ndarray]:
        s = self.scores(q)
        ids = self.ids
        if mask is not None:
            s, ids = s[mask], ids[mask]
        order = np.lexsort((ids, -s))[:k]
        return [int(i) for i in ids[order]], s[order]

    def matches(self, q, got_ids: list[int], k: int, mask: np.ndarray | None = None) -> bool:
        """True when ``got_ids`` is the brute-force top-k. Positions may
        differ only where the two scores agree to 1e-9 (a float tie that
        the engine's summation order can break the other way)."""
        want, want_s = self.topk(q, k, mask)
        if got_ids == want:
            return True
        if len(got_ids) != len(want):
            return False
        pos = {int(i): j for j, i in enumerate(self.ids)}
        if any(i not in pos for i in got_ids):
            return False
        s = self.scores(q)
        got_s = np.array([s[pos[i]] for i in got_ids])
        return bool(np.all(np.abs(got_s - want_s) <= 1e-9))

    def recall(self, q, got_ids: list[int], k: int) -> float:
        want, _ = self.topk(q, k)
        return len(set(want) & set(got_ids)) / float(k)
