"""Round-11 streaming additions: state-TTL'd forms of every open-key-domain
keyed-state operator.

Flink bounds keyed streaming state with ``table.exec.state.ttl`` (reference:
the state backend declared in flink-conf.yaml:54; SURVEY.md §2.8 T8/T9) — a
long-running stream with an open key domain (users, document signatures)
otherwise accumulates state forever. Round 10 closed that for W8 dedup
(queries/streaming2.py, ``dropDuplicatesWithinWatermark``); this module
closes the remaining class: the per-user funnel/retention/sessionize state,
the per-type anomaly hour tables, and — the direct analog of the W8 leak —
the streaming near-dup dedup signature state. Spark's mechanism is
``GroupStateTimeout.EventTimeTimeout`` + ``state.setTimeoutTimestamp`` (whole
-key eviction) plus watermark-cutoff pruning inside the state update (content
eviction where the key domain is bounded but per-key content grows).

Each TTL'd form shares its state function with the NoTimeout original
(corpus._funnel_state_stream / _retention_state_stream / _anomaly_scan_stream,
streaming._minhash_pair_stream / _embedding_pair_stream) — only the timeout
wiring differs — so the bounded-replay output still hash-matches the batch
oracle, and tests/test_streaming3.py proves the state bound with the
streaming2-style two-wave disjoint-key replays (``numRowsTotal`` lands at the
live wave, not the accumulated total).

Bounded-by-design sites that need no TTL (one-line state-bound notes, per
VERDICT r10): ``markov_delta_stream`` (1 string per user — open user domain
but the smallest possible per-key state; TTL would reset transition chains),
``budget_admission_stream`` / ``sample_per_source_stream`` /
``streaming_quality_filter`` (keyed by |sources| — a curated, closed set),
``knn_topk_stream`` (keyed by a fixed shard count, content capped at k per
query), streaming CMS (fixed d×w cells).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._registry import query
from .corpus import (
    ANOMALY_ORACLE,
    FUNNEL_ORACLE,
    _anomaly_latest,
    _anomaly_scan_stream,
    _funnel_rollup,
    _funnel_state_stream,
    _retention_rollup,
    _retention_state_stream,
)
from .llm import RETENTION_ORACLE
from .streaming import (
    SESSIONIZE_ORACLE,
    _embedding_pair_stream,
    _minhash_pair_stream,
    _run_to_memory,
    _staged_events_stream,
    _table_rowcount,
)

# Attribution/cohort horizon for the per-user and per-type operators: state
# idle (or cohort-closed) past this is evicted. 90 days is the realistic
# marketing-attribution window AND exceeds the fixture's 30-day span, so the
# bounded replay never evicts mid-stream and the batch oracle still applies —
# the same contract as streaming2.DEDUP_TTL (1 h vs a single-batch replay).
EVENTS_STATE_HORIZON_S = 90 * 86_400

# Signature TTL for the streaming near-dup dedups: a document pairs against
# everything that arrived within the last hour of INGESTION time (the staged
# replay synthesizes arrival at 1 s/file, so the full corpus sits inside one
# window and the TTL'd output equals the unbounded form exactly — pinned by
# tests). At 100 TB this is the dial that bounds state to the live window.
DEDUP_SIG_TTL_S = 3600


@query("streaming_events_funnel_ttl", oracle=FUNNEL_ORACLE)
def streaming_events_funnel_ttl(spark, sf_dir):
    """``streaming_events_funnel`` with the production state bound: users
    idle past the 90-day attribution horizon are evicted whole
    (``EventTimeTimeout``; Flink's ``table.exec.state.ttl``). Eviction
    drops nothing already emitted — the roll-up reads each user's latest
    sink revision — and the horizon exceeds the fixture span, so the
    bounded replay equals the batch oracle exactly; the two-wave state
    proof is tests/test_streaming3.py."""
    from .streaming import _keyed_shards

    res = _funnel_state_stream(
        spark,
        sf_dir,
        horizon_s=EVENTS_STATE_HORIZON_S,
        shards=_keyed_shards(spark, sf_dir),
    )
    return _funnel_rollup(
        _run_to_memory(res, "update", rows=_table_rowcount(spark, sf_dir, "events"))
    )


@query("streaming_events_retention_ttl", oracle=RETENTION_ORACLE)
def streaming_events_retention_ttl(spark, sf_dir):
    """``streaming_events_retention`` with cohort-window eviction: a user's
    (first_day, offset-bitmask) state is removed once the watermark passes
    ``cohort start + horizon`` — EXACT for the roll-up, because past the
    offset window no event can set another in-window bit. State is
    O(users per horizon), not O(users ever)."""
    from .streaming import _keyed_shards

    res = _retention_state_stream(
        spark,
        sf_dir,
        horizon_s=EVENTS_STATE_HORIZON_S,
        shards=_keyed_shards(spark, sf_dir),
    )
    return _retention_rollup(
        spark,
        _run_to_memory(res, "update", rows=_table_rowcount(spark, sf_dir, "events")),
    )


@query("streaming_events_anomaly_ttl", oracle=ANOMALY_ORACLE)
def streaming_events_anomaly_ttl(spark, sf_dir):
    """``streaming_events_anomaly`` with CONTENT TTL: the key domain
    (|event types|) is already bounded, but each key's hour table grows
    with elapsed time — here hours behind ``watermark − horizon`` are
    pruned at every revision (the running moments become trailing-window
    moments, the production monitoring semantics) and an idle type evicts
    whole. The registered horizon exceeds the fixture span, so the replay
    still matches the full-history batch oracle."""
    res = _anomaly_scan_stream(spark, sf_dir, horizon_s=EVENTS_STATE_HORIZON_S)
    return _anomaly_latest(
        _run_to_memory(res, "update", rows=_table_rowcount(spark, sf_dir, "events"))
    )


@query("streaming_stateful_sessionize_ttl", oracle=SESSIONIZE_ORACLE)
def streaming_stateful_sessionize_ttl(spark, sf_dir):
    """``streaming_stateful_sessionize`` in its CANONICAL production form:
    the session gap IS the state TTL. The open session lives in keyed state;
    when the watermark passes ``last event + gap`` the key times out, the
    session emits CLOSED, and the state row is removed — so state is
    O(users active within one gap), sessions emit with bounded latency
    instead of at end-of-input, and eviction is part of the semantics
    rather than an approximation. Within-batch closes emit inline; the
    replay's end-of-input sentinel (``_staged_events_stream``) advances the
    watermark past every deadline so tail sessions conclude — the same
    mechanism as streaming MATCH_RECOGNIZE. One documented divergence on
    unbounded streams: a user returning after eviction restarts session
    NUMBERING at 1 (the ordinal lives in the evicted state) — Flink's
    TTL'd dedup/CEP state resets identically."""
    from .streaming import _keyed_shards

    out = _run_to_memory(
        _sessionize_ttl_stream(
            spark, sf_dir, shards=_keyed_shards(spark, sf_dir)
        ),
        "append",
        rows=_table_rowcount(spark, sf_dir, "events"),
    )
    # the end-of-input sentinel key (user_id = -1) never times out and never
    # emits; filter defensively anyway
    return out.filter(F.col("user_id") >= 0).orderBy("user_id", "sid")


def _sessionize_ttl_stream(spark, sf_dir, shards: int | None = None):
    """The unsinked TTL'd sessionizer — exposed so tests can attach their
    own sink and read ``numRowsTotal`` off the query's progress (the state
    ends at 1 row: the sentinel key; every real user evicted on close)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = 1_800_000_000  # 30 min in µs, matches the batch analog
    gap_ms = gap // 1000
    stream = _staged_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts_us", "ev_time"
    )

    def sessionize(key, pdfs, state):
        if state.hasTimedOut:
            sid, n, start, last = state.get
            state.remove()
            if n:
                yield pd.DataFrame(
                    [(key[0], sid, n, start, last)],
                    columns=["user_id", "sid", "n_events", "start_us", "end_us"],
                )
            return
        if state.exists:
            sid, n, start, last = state.get
        else:
            sid, n, start, last = 0, 0, None, None
        chunks = list(pdfs)
        closed = []
        if chunks:
            rows = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"]
            )
            for ts in rows["ts_us"]:
                ts = int(ts)
                if last is None or ts - last > gap:
                    if n:
                        closed.append((key[0], sid, n, start, last))
                    sid, n, start = sid + 1, 0, ts
                n += 1
                last = ts
        state.update((sid, n, start, last))
        # the session-close deadline IS the state TTL; strictly above the
        # watermark as Spark requires of event-time timers
        state.setTimeoutTimestamp(
            max(last // 1000 + gap_ms + 1, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "sid", "n_events", "start_us", "end_us"],
            )

    from ..operators.shard_state import apply_keyed_state

    return apply_keyed_state(
        stream,
        ["user_id"],
        sessionize,
        "user_id long, sid long, n_events long, start_us long, end_us long",
        "sid long, n long, start_us long, last_us long",
        "append",
        "event",
        shards=shards,
    )


@query("streaming_dedup_minhash_ttl")
def streaming_dedup_minhash_ttl(spark, sf_dir):
    """``streaming_dedup_minhash`` with the signature-state TTL — the direct
    analog of round 10's W8 fix, applied to the round's hardest leak: the
    NoTimeout form accumulates every document's band signatures forever.
    Here each bucket member carries its ingestion time; members behind
    ``watermark − TTL`` are pruned at every touch, shards whose members all
    aged out drop their state row, and fully idle shards evict whole on
    ``EventTimeTimeout`` — state is O(documents per TTL window). The staged
    replay fits inside one window, so the emitted pairs equal the unbounded
    form exactly (pinned by tests, rows-only like the original — LSH
    candidates are probabilistic)."""
    out = _run_to_memory(
        _minhash_pair_stream(spark, sf_dir, ttl_s=DEDUP_SIG_TTL_S),
        "append",
        rows=_table_rowcount(spark, sf_dir, "documents"),
    )
    return out.distinct().orderBy("a", "b")


@query("streaming_dedup_embedding_ttl")
def streaming_dedup_embedding_ttl(spark, sf_dir):
    """``streaming_dedup_embedding`` with the same signature-state TTL as
    ``streaming_dedup_minhash_ttl``: per-member ingestion times, watermark
    pruning, empty-shard removal, idle-shard event-time eviction. The
    first-agreeing-band rule is unchanged — it sees only the live window,
    which is the TTL semantics. Replay fits one window → exact parity with
    the unbounded form (pinned by tests)."""
    out = _run_to_memory(
        _embedding_pair_stream(spark, sf_dir, ttl_s=DEDUP_SIG_TTL_S),
        "append",
        rows=_table_rowcount(spark, sf_dir, "embeddings"),
    )
    return out.distinct().orderBy("a", "b")
