"""Round-10 streaming additions: state-bounded (TTL'd) streaming dedup.

Flink bounds its ROW_NUMBER()=1 streaming-dedup idiom with state TTL
(reference: the state backend declared in flink-conf.yaml:54; SURVEY.md §2.5
W8); the exact form in queries/streaming.py (`streaming_dedup_keys`,
plain ``dropDuplicates``) keeps every key forever — correct for the bounded
notebook replay, but an unbounded state leak on a long-running stream with
an open key domain. This module adds the production form:
``dropDuplicatesWithinWatermark`` (Spark 3.5+), whose keyed state is evicted
once the watermark passes ``event_time + delay`` — the direct analog of
Flink's state-TTL'd dedup. tests/test_streaming2.py proves the bound with a
two-wave disjoint-key replay where ``numRowsTotal`` stays at the live wave's
key count instead of accumulating.
"""

from __future__ import annotations

from ._registry import query
from .streaming import _read_events_stream, _run_to_memory, _table_rowcount

# TTL for the registered replay. Semantics contract (same as Flink's
# table.exec.state.ttl): duplicates arriving within DEDUP_TTL of the first
# occurrence are suppressed; a key re-appearing after the watermark passed
# first_ts + TTL is emitted again (its state was reclaimed). The events
# fixture replays as ONE availableNow micro-batch (maxFilesPerTrigger=1,
# single file), and within a batch the eviction watermark is the previous
# batch's (0), so no key expires mid-batch and the output is exactly
# DISTINCT — which is what makes this oracle-checkable. On a multi-batch
# 100×-scale stream the state is bounded by keys seen in the last TTL
# window, not by the key domain.
DEDUP_TTL = "1 hour"


@query(
    "streaming_dedup_keys_ttl",
    oracle="SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
)
def streaming_dedup_keys_ttl(spark, sf_dir):
    """State-TTL'd streaming dedup (SURVEY.md W8, the scale-safe form):
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the watermark
    passes its event time + TTL, so state size is O(keys per TTL window) —
    Flink's state-TTL dedup — where plain ``dropDuplicates`` is O(all keys
    ever). Projecting the key columns makes the emitted first-rows
    deterministic (= DISTINCT) regardless of arrival order."""
    stream = _read_events_stream(spark, sf_dir).withWatermark("ev_time", DEDUP_TTL)
    dedup = stream.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    out = _run_to_memory(dedup, "append", rows=_table_rowcount(spark, sf_dir, "events"))
    return out.orderBy("user_id", "event_type")
