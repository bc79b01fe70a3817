"""Seeded input generator for the search benchmark, with ground truth.

Everything the program under test receives is made here from one seed:
documents (topic-labelled, long-tailed vocabulary, planted near-duplicates),
the query list with its off-corpus flags, and the admission batches of the
writes-beside-reads workload.  The same seed gives byte-identical inputs.

Words are joined by single spaces and contain no other whitespace, so the
chunker's ``len(text.split(' ')) // 300 + 1`` rule, the cleanse step and the
embedder's whitespace tokenizer all see the same tokens — which is what lets
``expected_chunks`` predict the chunk count from word counts alone.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

CHUNK_WORDS = 300          # the program's chunk size (config.CHUNK_WORDS)
N_TOPICS = 24
TOPIC_WORDS = 400          # per-topic vocabulary
COMMON_WORDS = 6000        # shared vocabulary
P_TOPIC, P_COMMON = 0.40, 0.55   # the rest are one-off tokens
SHINGLE_K = 3              # word shingles used by the program's MinHash
MIN_DUP_JACCARD = 0.8
# Off-corpus queries are drawn from a vocabulary no document uses.
OFF_WORDS = 500

_SYL = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


@dataclass
class Doc:
    doc_id: int
    topic: int
    words: list[str]

    @property
    def source(self) -> str:
        # the topic and doc ids ride the path: the benchmark recovers them
        # from ``doc_path`` without a join
        return f"t{self.topic:02d}/d{self.doc_id:07d}.txt"

    @property
    def text(self) -> str:
        return " ".join(self.words)


@dataclass
class Query:
    text: str
    off_corpus: bool
    kind: str          # "search" or "ann"


@dataclass
class Inputs:
    seed: int
    docs: list[Doc]
    dup_pairs: list[tuple[int, int]]          # (duplicate doc, its source)
    queries: list[Query]
    batches: list[list[Doc]] = field(default_factory=list)
    batch_dup_pairs: list[list[tuple[int, int]]] = field(default_factory=list)


def _vocab(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL),
                                                  int(rng.integers(2, 5))))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1)
    return p / p.sum()


def shingles(words: list[str], k: int = SHINGLE_K) -> set[str]:
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class Generator:
    """Vocabulary and sampling state for one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        taken: set[str] = set()
        self.common = _vocab(self.rng, COMMON_WORDS, taken)
        self.topics = [_vocab(self.rng, TOPIC_WORDS, taken)
                       for _ in range(N_TOPICS)]
        self.off = _vocab(self.rng, OFF_WORDS, taken)
        self._p_topic = _zipf_p(TOPIC_WORDS)
        self._c_common = np.cumsum(_zipf_p(COMMON_WORDS))
        self._c_topic = np.cumsum(self._p_topic)
        self._common = np.array(self.common, dtype=object)
        self._topics = [np.array(t, dtype=object) for t in self.topics]
        self._oneoff = 0
        self.next_id = 0

    def _words(self, topic: int, n: int) -> list[str]:
        rng = self.rng
        u = rng.random(n)
        common = self._common[np.searchsorted(self._c_common, rng.random(n))]
        local = self._topics[topic][np.searchsorted(self._c_topic,
                                                    rng.random(n))]
        words = np.where(u < P_TOPIC, local, common)
        # tokens seen once in the whole corpus: they miss every memo
        oneoff = np.flatnonzero(u >= P_TOPIC + P_COMMON)
        for i in oneoff:
            self._oneoff += 1
            words[i] = f"x{self.seed:x}z{self._oneoff:x}"
        return words.tolist()

    def _length(self, lo: int, hi: int) -> int:
        # Tails of 1-9 words are avoided: two words could cancel in the
        # embedder's signed buckets and drop the chunk as a null embedding,
        # which would break the word-count arithmetic of expected_chunks.
        while True:
            n = int(self.rng.integers(lo, hi + 1))
            if not 0 < n % CHUNK_WORDS < 10:
                return n

    def doc(self, lo: int, hi: int, topic: int | None = None) -> Doc:
        t = int(self.rng.integers(0, N_TOPICS)) if topic is None else topic
        d = Doc(self.next_id, t, self._words(t, self._length(lo, hi)))
        self.next_id += 1
        return d

    def near_dup(self, src: Doc) -> Doc:
        """One to three one-word edits of ``src``: same topic, same length,
        shingle Jaccard >= MIN_DUP_JACCARD."""
        words = list(src.words)
        for _ in range(int(self.rng.integers(1, 4))):
            pos = int(self.rng.integers(0, len(words)))
            words[pos] = self.common[int(self.rng.integers(0, COMMON_WORDS))]
        if jaccard(words, src.words) < MIN_DUP_JACCARD:
            raise AssertionError("near-duplicate below the Jaccard floor")
        d = Doc(self.next_id, src.topic, words)
        self.next_id += 1
        return d

    def corpus(self, n: int, dup_frac: float, lo: int, hi: int,
               pool: list[Doc] | None = None):
        """``n`` docs of which ``dup_frac`` are near-duplicates of a doc
        drawn from ``pool`` (default: this corpus's own originals)."""
        n_dup = int(round(n * dup_frac))
        originals = [self.doc(lo, hi) for _ in range(n - n_dup)]
        pool = originals if pool is None else pool
        dups, pairs = [], []
        for i in self.rng.choice(len(pool), n_dup, replace=False):
            src = pool[int(i)]
            d = self.near_dup(src)
            dups.append(d)
            pairs.append((d.doc_id, src.doc_id))
        docs = originals + dups
        order = self.rng.permutation(len(docs))
        return [docs[i] for i in order], pairs

    def queries(self, n: int, ann_every: int = 3,
                off_frac: float = 0.1) -> list[Query]:
        """``n`` queries, every ``ann_every``-th an ANN call and the rest
        ``search()`` calls (a fixed mix keeps runs comparable); 5-12 words
        from one topic's vocabulary, or from the off-corpus vocabulary."""
        out = []
        for i in range(n):
            kind = "ann" if ann_every and i % ann_every == ann_every - 1 \
                else "search"
            k = int(self.rng.integers(5, 13))
            off = bool(self.rng.random() < off_frac)
            if off:
                words = [self.off[i] for i in self.rng.integers(0, OFF_WORDS,
                                                                k)]
            else:
                t = int(self.rng.integers(0, N_TOPICS))
                idx = self.rng.choice(TOPIC_WORDS, k, p=self._p_topic)
                words = [self.topics[t][i] for i in idx]
            out.append(Query(" ".join(words), off, kind))
        return out


def generate(seed: int, *, n_docs: int, dup_frac: float, doc_words: tuple,
             n_queries: int = 0, ann_every: int = 3, n_batches: int = 0,
             batch_docs: int = 0, batch_dup_frac: float = 0.2) -> Inputs:
    """A corpus with planted near-duplicates, queries, and admission
    batches whose near-duplicates are of the corpus's original docs."""
    g = Generator(seed)
    docs, pairs = g.corpus(n_docs, dup_frac, *doc_words)
    inputs = Inputs(seed, docs, pairs, g.queries(n_queries, ann_every))
    dups = {p[0] for p in pairs}
    originals = [d for d in docs if d.doc_id not in dups]
    for _ in range(n_batches):
        batch, bpairs = g.corpus(batch_docs, batch_dup_frac, *doc_words,
                                 pool=originals)
        inputs.batches.append(batch)
        inputs.batch_dup_pairs.append(bpairs)
    return inputs


def expected_chunks(docs: list[Doc]) -> int:
    """Chunks the program must produce: ``n // 300 + 1`` slices per doc,
    minus the trailing empty slice when ``n`` is a multiple of 300 (the
    empty-chunk filter drops it)."""
    return sum(len(d.words) // CHUNK_WORDS + (1 if len(d.words) % CHUNK_WORDS
                                              else 0)
               for d in docs)


def digest(inputs: Inputs) -> str:
    """Content hash of every generated input, ground truth included."""
    h = hashlib.sha256()
    for d in inputs.docs:
        h.update(f"{d.doc_id}|{d.topic}|{d.text}\n".encode())
    h.update(repr(inputs.dup_pairs).encode())
    for q in inputs.queries:
        h.update(f"{q.kind}|{q.off_corpus}|{q.text}\n".encode())
    for batch, bp in zip(inputs.batches, inputs.batch_dup_pairs):
        for d in batch:
            h.update(f"{d.doc_id}|{d.topic}|{d.text}\n".encode())
        h.update(repr(bp).encode())
    return h.hexdigest()
