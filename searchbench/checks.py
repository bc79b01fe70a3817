"""Independent reference computations the benchmark checks outputs against.

Nothing here calls the program under test: brute-force cosine top-k is plain
numpy over the stored vectors, and the expected ``search()`` answer replays
the reference rerank contract (top-k by similarity with an id tie-break,
md5 score of ``question:content``, sort by score then later retrieval first,
keep ``k``, drop scores under the threshold) from the stored rows.
"""

from __future__ import annotations

import hashlib

import numpy as np

SIM_TOL = 1e-6     # similarities are compared to 6 decimal places
TIE_DP = 9         # cosines equal to this many places are treated as ties


class Reference:
    """The stored rows of one served table, as numpy arrays."""

    def __init__(self, pdf):
        self.vec_id = pdf["vec_id"].to_numpy(dtype=np.int64)
        self.key = pdf["id"].to_numpy(dtype=object)
        self.doc_path = pdf["doc_path"].to_numpy(dtype=object)
        self.page_no = pdf["page_no"].to_numpy(dtype=np.int64)
        self.content = pdf["page_content"].to_numpy(dtype=object)
        self.mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        self.norms = np.linalg.norm(self.mat, axis=1)
        self._row = {int(v): i for i, v in enumerate(self.vec_id)}

    def __len__(self) -> int:
        return len(self.vec_id)

    def extend(self, other: "Reference") -> "Reference":
        for name in ("vec_id", "key", "doc_path", "page_no", "content",
                     "norms"):
            setattr(self, name, np.concatenate([getattr(self, name),
                                                getattr(other, name)]))
        self.mat = np.vstack([self.mat, other.mat])
        self._row = {int(v): i for i, v in enumerate(self.vec_id)}
        return self

    def cosines(self, q) -> np.ndarray:
        q = np.asarray(q, dtype=np.float64)
        denom = self.norms * np.linalg.norm(q)
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = (self.mat @ q) / denom
        return np.where(denom != 0, sims, 0.0)

    def topk(self, sims: np.ndarray, k: int, tie) -> np.ndarray:
        """Row indices of the k best, similarity desc then ``tie`` asc."""
        m = min(len(sims), k + 64)     # room for ties at the cut
        cand = np.argpartition(-sims, m - 1)[:m]
        order = sorted(cand.tolist(),
                       key=lambda i: (-round(float(sims[i]), TIE_DP), tie[i]))
        return np.array(order[:k], dtype=np.int64)

    def rows_of(self, vec_ids) -> np.ndarray:
        return np.array([self._row[int(v)] for v in vec_ids], dtype=np.int64)


def rerank_score(question: str, content: str) -> int:
    """The deterministic scorer: md5 of ``question:content``, first six hex
    digits as an integer, mod 101."""
    digest = hashlib.md5(f"{question}:{content}".encode()).hexdigest()
    return int(digest[:6], 16) % 101


def expected_search(ref: Reference, question: str, qvec, k: int,
                    threshold: int) -> list[tuple]:
    """(Source, Page, Score, similarity) of the rows ``search()`` must
    return, in order."""
    sims = ref.cosines(qvec)
    cand = []
    for idx, i in enumerate(ref.topk(sims, k, ref.key)):
        content = ref.content[i]
        cand.append((rerank_score(question, content), idx, content[:160],
                     ref.doc_path[i], int(ref.page_no[i]) + 1,
                     float(sims[i])))
    cand.sort(key=lambda c: (c[0], c[1], c[2]), reverse=True)
    return [(c[3], c[4], c[0], c[5]) for c in cand[:k] if c[0] >= threshold]


def search_ok(got: list, want: list[tuple]) -> str | None:
    """None when ``search()`` rows match the reference, else why not."""
    if len(got) != len(want):
        return f"search returned {len(got)} rows, expected {len(want)}"
    for r, (src, page, score, sim) in zip(got, want):
        if (r["Source"], r["Page"], r["Score"]) != (src, page, score):
            return (f"search row {(r['Source'], r['Page'], r['Score'])} "
                    f"!= expected {(src, page, score)}")
        if abs(r["Similarity"] - sim) > SIM_TOL:
            return f"similarity {r['Similarity']} != numpy cosine {sim}"
    return None


def ann_ok(got: list, ref: Reference, qvec, k: int) -> str | None:
    """None when the ANN rows are k stored vectors, each with its numpy
    cosine to 6 dp, ordered by similarity desc then id asc."""
    if len(got) != min(k, len(ref)):
        return f"ANN returned {len(got)} rows, expected {k}"
    ids = [int(r["vec_id"]) for r in got]
    if len(set(ids)) != len(ids) or any(i not in ref._row for i in ids):
        return "ANN returned duplicate or unknown ids"
    sims = ref.cosines(qvec)[ref.rows_of(ids)]
    for r, s in zip(got, sims):
        if abs(r["similarity"] - s) > SIM_TOL:
            return f"ANN similarity {r['similarity']} != numpy cosine {s}"
    keys = [(-r["similarity"], int(r["vec_id"])) for r in got]
    if keys != sorted(keys):
        return "ANN rows are not ordered by similarity"
    return None


def recall_at_k(got_ids, ref: Reference, qvec, k: int) -> float:
    """Share of the brute-force top-k that the ANN call returned."""
    truth = ref.vec_id[ref.topk(ref.cosines(qvec), k, ref.vec_id)]
    return len(set(map(int, got_ids)) & set(map(int, truth))) / len(truth)


def dup_recall(pairs: list[tuple[int, int]], same_group) -> float:
    """Planted near-duplicate pairs caught, over pairs planted."""
    if not pairs:
        return 1.0
    return sum(1 for a, b in pairs if same_group(a, b)) / len(pairs)
