"""Custom stateful streaming operator: incremental per-document triple
dedup across micro-batches (``applyInPandasWithState``).

A continuous crawl re-extracts pages; downstream KG consumers want each
(docid, triple) edge emitted ONCE over the life of the stream, not once
per micro-batch. ``foreachBatch`` + a full-table anti-join would re-read
the sink every batch; keeping the seen-set in the state store makes the
dedup incremental, checkpointed, and recoverable — state survives query
restarts (exercised by the two-phase test).

State per docid is BOUNDED: the first ``MAX_EXACT`` triple fingerprints
(64-bit md5 prefixes — deterministic across workers; Python's builtin
``hash`` is salted) are kept exactly; past the cap, new fingerprints go
into a fixed-size bloom tail (8 KiB, 4 slices of the fingerprint as bit
indexes). Below the cap the dedup is exact; above it, bloom false
positives can DROP a novel triple (never emit a duplicate) — the right
failure direction for a dedup sink. A hot docid therefore costs at most
``MAX_EXACT*8 B + 8 KiB`` of state forever; for corpora where even that
is too much, pass ``ttl_ms`` to evict idle docids via a processing-time
``GroupStateTimeout``: a docid that receives no data for ``ttl_ms`` has
its state removed on a later micro-batch, freeing the store at the cost
of re-admitting that docid's triples if it ever reappears (duplicates
become possible ONLY across an idle gap longer than the TTL — choose it
longer than the re-crawl period).

CHECKPOINT COMPATIBILITY: ``STATE_SCHEMA`` gained the ``bloom binary``
field in round 3 — a query restarted from a checkpoint written by the
pre-bloom schema (``seen array<long>`` only) fails Spark's state-schema
check at start; restart such a query at a fresh checkpoint location
(its state starts empty, so triples it had emitted are emitted again).
Likewise, turning ``ttl_ms`` on/off changes the timeout conf, which
Spark accepts on restart, but timers only attach to keys updated after
the change.

No reference counterpart (the reference is strictly batch); this is the
Structured-Streaming extension of O19/O22's dedup semantics.
"""

from __future__ import annotations

from hashlib import md5

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "docid string, triple_key string, score double"
STATE_SCHEMA = "seen array<long>, bloom binary"

MAX_EXACT = 4096          # exact fingerprints kept per docid
_BLOOM_BYTES = 1 << 13    # 8 KiB = 2^16 bits; 4 hashes -> ~0.2% FP at 4k inserts
_IDX_MASK = (1 << 16) - 1


def _fp(key: str) -> int:
    # signed 64-bit md5 prefix (state stores LongType)
    v = int.from_bytes(md5(key.encode("utf-8")).digest()[:8], "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def _bloom_indices(fp: int):
    u = fp & ((1 << 64) - 1)
    return ((u >> (16 * i)) & _IDX_MASK for i in range(4))


def _bloom_has(bloom: bytearray, fp: int) -> bool:
    return all(bloom[i >> 3] & (1 << (i & 7)) for i in _bloom_indices(fp))


def _bloom_add(bloom: bytearray, fp: int) -> None:
    for i in _bloom_indices(fp):
        bloom[i >> 3] |= 1 << (i & 7)


def _make_dedup_fn(ttl_ms: int | None):
    """Build the per-group dedup function: one streamed pass over the
    docid's pandas batches emits each unseen fingerprint's row and adds it
    to the exact set, or to the bloom tail once ``MAX_EXACT`` are held.
    ``ttl_ms`` arms a processing-time timeout re-set on every update, so
    a docid idle for > ttl_ms is evicted (state.remove) on a subsequent
    micro-batch."""

    def _dedup_fn(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            seen_list, bloom_bytes = state.get
            seen = set(seen_list)
            bloom = bytearray(bloom_bytes) if bloom_bytes is not None else None
        else:
            seen, bloom = set(), None
        out = []
        for pdf in pdfs:
            for k, s in zip(pdf["triple_key"], pdf["score"]):
                f = _fp(k)
                if f in seen or (bloom is not None and _bloom_has(bloom, f)):
                    continue
                if len(seen) < MAX_EXACT:
                    seen.add(f)
                else:
                    if bloom is None:
                        bloom = bytearray(_BLOOM_BYTES)
                    _bloom_add(bloom, f)
                out.append((key[0], k, float(s)))
        state.update((list(seen), bytes(bloom) if bloom is not None else None))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(out, columns=["docid", "triple_key", "score"])

    return _dedup_fn


# default (no-TTL) instance — also the unit-test target
_dedup_fn = _make_dedup_fn(None)


def dedup_within_watermark(
    events_stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native event-time streaming dedup: drop any row whose key was
    already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark``). The built-in complement to
    ``dedup_new_triples``: state evicts automatically as the watermark
    advances (no custom TTL code, exact within the horizon, late
    duplicates beyond it pass through), while the custom
    applyInPandasWithState path gives FOREVER-dedup under an explicitly
    bounded exact+bloom state. Pick by contract: bounded-lateness event
    streams -> this; global crawl-output dedup -> the custom op.
    ``ts_col`` must be a TIMESTAMP (cast NTZ upstream, see
    sessions.stream_sessionize)."""
    return events_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def dedup_new_triples(triples_stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """(docid, triple_key, score) stream -> only rows whose (docid,
    triple_key) was never emitted before, across all micro-batches and
    query restarts. ``ttl_ms`` (optional) evicts docids idle longer than
    that, bounding TOTAL state by the active-docid working set — see the
    module docstring for the re-admission trade-off."""
    return triples_stream.groupBy("docid").applyInPandasWithState(
        _make_dedup_fn(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
