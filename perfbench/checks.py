"""Output checks that do not use the program: pure Python and numpy.

Each check returns (name, ok, detail) for `Run.check`.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
             ("&nbsp;", " "), ("&amp;", "&"))


def clean_text(s: str) -> str:
    """Tag strip, entity decode, whitespace collapse — the documented
    behaviour of `functions.text.clean_text`, written independently."""
    s = re.sub(r"<[^>]*>", " ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return re.sub(r"\s+", " ", s).strip()


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams; a doc shorter than n words is one shingle."""
    toks = text.split()
    if not toks:
        return set()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def pairs_meet_threshold(pairs, texts: dict[int, str], threshold: float):
    """Every reported (id_a, id_b, ...) pair's exact Jaccard ≥ threshold."""
    bad = [(a, b) for a, b, *_ in pairs if jaccard(texts[a], texts[b]) < threshold - 1e-12]
    return ("pairs_meet_threshold", not bad,
            f"{len(bad)} of {len(pairs)} pairs below {threshold}: {bad[:5]}")


def partition(all_ids, parts: dict[str, list]):
    """The named outcome sets are disjoint and together equal the input."""
    counts = Counter(i for ids in parts.values() for i in ids)
    dupes = [i for i, c in counts.items() if c > 1]
    missing = set(all_ids) - set(counts)
    extra = set(counts) - set(all_ids)
    sizes = {k: len(v) for k, v in parts.items()}
    return ("outcomes_partition_input", not (dupes or missing or extra),
            f"sizes={sizes} in_two_sets={dupes[:5]} missing={sorted(missing)[:5]} "
            f"unknown={sorted(extra)[:5]}")


def dup_recall(planted, texts: dict[int, str], threshold: float, entered: set,
               survivors: set) -> tuple[float, int]:
    """Share of planted (orig, copy) pairs at or above `threshold` that no
    longer both survive, among pairs whose two docs reached dedup."""
    eligible = [(a, b) for a, b, _ in planted
                if a in entered and b in entered and jaccard(texts[a], texts[b]) >= threshold]
    if not eligible:
        return 1.0, 0
    hit = sum(1 for a, b in eligible if not (a in survivors and b in survivors))
    return hit / len(eligible), len(eligible)


def exact_topk(base: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int):
    """Squared-L2 top-k per query in float64: (ids, distances), ties by id."""
    X = base.astype(np.float64)
    out_ids, out_d = [], []
    for q in queries.astype(np.float64):
        d = ((X - q) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:k]
        out_ids.append(ids[order])
        out_d.append(d[order])
    return np.array(out_ids), np.array(out_d)


def same_topk(got: list[list[int]], want_ids, want_d, rel_tol: float = 1e-6) -> int:
    """Count queries whose result ids differ from the exact ones, where an
    exact id may only be missing if its distance ties the k-th one within
    `rel_tol` (the order among equal distances is not specified)."""
    bad = 0
    for g, w, d in zip(got, want_ids, want_d):
        if len(g) != len(w):
            bad += 1
            continue
        kth = d[-1]
        tied = {int(i) for i, di in zip(w, d) if abs(di - kth) <= rel_tol * max(kth, 1e-12)}
        if {int(i) for i in w} - {int(i) for i in g} - tied:
            bad += 1
    return bad


def recall_at_k(got: list[list[int]], want_ids) -> float:
    k = want_ids.shape[1]
    return float(np.mean([len(set(g[:k]) & set(int(i) for i in w)) / k
                          for g, w in zip(got, want_ids)]))


def hash_embedding(text: str, model: str = "hash/test-model", dim: int = 16) -> np.ndarray:
    """The documented `hash` runtime: element i is the first 32 bits of
    md5("<model>:<i>:<text>") scaled to [-1, 1), as float32."""
    return np.array([int(hashlib.md5(f"{model}:{i}:{text}".encode()).hexdigest()[:8], 16)
                     / 4294967296.0 * 2.0 - 1.0 for i in range(dim)], dtype=np.float32)
