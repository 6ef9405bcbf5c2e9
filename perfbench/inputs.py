"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + numpy: the program under test only ever sees
the generated rows. The same (seed, size) gives byte-identical inputs
(`digest()` hashes them for the tests); a different seed gives different ones.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np

# Top Zipf ranks are English stopwords, so language_id says "en" and the
# Gopher stopword rule passes on ordinary generated documents.
STOPWORDS = (
    "the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
    "on", "was", "with", "as", "be", "by", "this", "are", "at", "from",
)
ZIPF_S = 1.1
DOC_TOKENS = (60, 160)  # Gopher's min_tokens is 50
MARKUP_SHARE = 0.03  # tokens wrapped in <b>...</b> for clean_text to strip


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=_jsonable).encode()).hexdigest()


def _jsonable(o):
    if isinstance(o, np.ndarray):
        return o.tolist()
    if hasattr(o, "__dict__"):
        return o.__dict__
    raise TypeError(type(o))


class Vocab:
    """Stopwords plus synthetic lowercase words, sampled with Zipf weights."""

    def __init__(self, rng: np.random.Generator, size: int = 6000):
        words, seen = list(STOPWORDS), set(STOPWORDS)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        while len(words) < size:
            w = "".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(words)
        p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def sample(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return list(self.words[np.minimum(idx, len(self.words) - 1)])


def _markup(rng: np.random.Generator, toks: list[str]) -> str:
    out = []
    for t in toks:
        r = rng.random()
        if r < MARKUP_SHARE:
            out.append(f"<b>{t}</b>")
        elif t == "and" and r < 0.3:
            out.append("&amp;")  # decodes to "&": a real token change clean_text makes
        else:
            out.append(t)
    return " ".join(out)


def one_token_edit(rng: np.random.Generator, vocab: Vocab, raw: str) -> str:
    """Replace one whitespace token (never inside markup) with another word."""
    toks = raw.split(" ")
    plain = [i for i, t in enumerate(toks) if "<" not in t and "&" not in t]
    i = plain[int(rng.integers(0, len(plain)))]
    while True:
        w = vocab.sample(rng, 1)[0]
        if w != toks[i]:
            toks[i] = w
            return " ".join(toks)


@dataclass
class Corpus:
    """Documents with planted duplicates. `planted` holds (orig_id, copy_id,
    kind) with kind in {"exact", "near"}; originals are always fresh docs."""

    docs: list[tuple[int, str]]
    planted: list[tuple[int, int, str]]
    contaminated: list[int] = field(default_factory=list)
    eval_items: list[tuple[int, str]] = field(default_factory=list)

    def props(self) -> dict:
        n = len(self.docs)
        exact = sum(1 for p in self.planted if p[2] == "exact")
        near = len(self.planted) - exact
        return {
            "docs": n,
            "exact_dup_share": round(exact / n, 4),
            "near_dup_share": round(near / n, 4),
            "contaminated_docs": len(self.contaminated),
            "eval_items": len(self.eval_items),
            "mean_tokens": round(float(np.mean([len(t.split()) for _, t in self.docs])), 1),
        }


def _fresh_doc(rng, vocab) -> str:
    return _markup(rng, vocab.sample(rng, int(rng.integers(*DOC_TOKENS))))


def corpus(seed: int, n_docs: int, exact_share: float = 0.05, near_share: float = 0.10,
           contaminated_share: float = 0.01, n_eval: int = 20) -> Corpus:
    """Zipf-vocabulary corpus. A doc is an exact copy of an earlier fresh doc
    with probability `exact_share`, a one-token edit of one with
    `near_share`, otherwise fresh; `contaminated_share` of fresh docs embed
    an eval item verbatim (the decontamination target)."""
    rng = rng_for(seed, "corpus")
    vocab = Vocab(rng_for(seed, "vocab"))
    eval_items = [(i + 1, " ".join(vocab.sample(rng, 12))) for i in range(n_eval)]
    docs, planted, contaminated, fresh = [], [], [], []
    for k in range(n_docs):
        doc_id = k + 1
        r = rng.random()
        if fresh and r < exact_share + near_share:
            j = fresh[int(rng.integers(0, len(fresh)))]
            src = docs[j - 1][1]
            if r < exact_share:
                docs.append((doc_id, src))
                planted.append((j, doc_id, "exact"))
            else:
                docs.append((doc_id, one_token_edit(rng, vocab, src)))
                planted.append((j, doc_id, "near"))
            continue
        text = _fresh_doc(rng, vocab)
        if n_eval and rng.random() < contaminated_share:
            text = f"{text} {eval_items[int(rng.integers(0, n_eval))][1]}"
            contaminated.append(doc_id)
        else:
            fresh.append(doc_id)
        docs.append((doc_id, text))
    return Corpus(docs, planted, contaminated, eval_items)


def short_texts(seed: int, n: int) -> list[tuple[int, str]]:
    """(id, text) rows of 5-30 Zipf words — the embedding input column."""
    rng = rng_for(seed, "texts")
    vocab = Vocab(rng_for(seed, "vocab"))
    return [(i + 1, " ".join(vocab.sample(rng, int(rng.integers(5, 31))))) for i in range(n)]


def clustered(seed: int, n: int, dim: int, n_centers: int = 32, spread: float = 0.35,
              stream: str = "vectors") -> np.ndarray:
    """Gaussian-mixture float32 vectors around seeded centres."""
    centers = rng_for(seed, "centers").normal(size=(n_centers, dim))
    rng = rng_for(seed, stream)
    which = rng.integers(0, n_centers, n)
    return (centers[which] + rng.normal(scale=spread, size=(n, dim))).astype(np.float32)


@dataclass
class VectorInputs:
    texts: list[tuple[int, str]]
    base: np.ndarray  # IVF / PQ / exact corpus; ids are 1..len
    n_hnsw: int  # HNSW indexes the first n_hnsw rows of `base`
    queries: np.ndarray  # held out: drawn from the same mixture, never indexed

    def props(self) -> dict:
        return {
            "texts": len(self.texts),
            "vectors": int(self.base.shape[0]),
            "dim": int(self.base.shape[1]),
            "hnsw_vectors": self.n_hnsw,
            "queries": int(self.queries.shape[0]),
        }


def vector_inputs(seed: int, n_texts: int, n_base: int, n_hnsw: int, n_queries: int,
                  dim: int = 64) -> VectorInputs:
    return VectorInputs(
        texts=short_texts(seed, n_texts),
        base=clustered(seed, n_base, dim, stream="base"),
        n_hnsw=n_hnsw,
        queries=clustered(seed, n_queries, dim, stream="queries"),
    )


def arrivals(seed: int, base: Corpus, n_docs: int, exact_share: float = 0.10,
             near_share: float = 0.10) -> Corpus:
    """New documents after `base`: exact copies and one-token edits of
    `base`'s fresh docs at the given shares, the rest fresh. Ids continue
    after `base`."""
    rng = rng_for(seed, "arrivals")
    vocab = Vocab(rng_for(seed, "vocab"))
    by_id = dict(base.docs)
    fresh = sorted(set(by_id) - {c for _, c, _ in base.planted} - set(base.contaminated))
    first_id = max(by_id) + 1
    docs, planted = [], []
    for k in range(n_docs):
        doc_id = first_id + k
        r = rng.random()
        if r < exact_share + near_share:
            j = fresh[int(rng.integers(0, len(fresh)))]
            if r < exact_share:
                docs.append((doc_id, by_id[j]))
                planted.append((j, doc_id, "exact"))
            else:
                docs.append((doc_id, one_token_edit(rng, vocab, by_id[j])))
                planted.append((j, doc_id, "near"))
        else:
            docs.append((doc_id, _fresh_doc(rng, vocab)))
    return Corpus(docs, planted)
