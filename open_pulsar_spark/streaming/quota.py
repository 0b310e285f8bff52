"""Per-chat token-budget accounting (streaming A4/A5).

Streaming form of the reference's context-window accounting: tokens
accumulate per session (`SESSION_TOKENS`, agent-loop.sh:706), and
crossing 80% of the context window triggers compaction, which resets
the accumulator (agent-loop.sh:19, 788-797; defaults 200k window, 80%
threshold — BASELINE.md). Each chat's running token total is keyed
state; a message that pushes usage to >= the threshold emits
action='compact' and restarts the count at that message's own tokens
(the reference seeds the fresh session with the summary + current
task — its token cost restarts the meter the same way).

Implementation note: `token_quota` runs on `applyInPandasWithState`
(one tuple of state per key, a processing-time timeout standing in for
state TTL); its docstring gives the upgrade path to
`transformWithStateInPandas`.

State per key is one LONG: at 100 TB of traffic the state store holds
|active chats| values, and idle chats are evicted by the timeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

CONTEXT_WINDOW = 200_000        # agent-loop.sh:18 fallback
COMPACT_PCT = 80                # agent-loop.sh:19
QUOTA_IDLE_TIMEOUT_MS = 30 * 24 * 3600 * 1000  # opt-in idle-chat eviction

OUTPUT_SCHEMA = (
    "chat_id LONG, update_id LONG, tokens LONG, used_tokens LONG, "
    "usage_pct DOUBLE, action STRING"
)
STATE_SCHEMA = StructType([StructField("used", LongType())])


_OUT_COLS = ["chat_id", "update_id", "tokens", "used_tokens", "usage_pct", "action"]


def _make_quota_fn(ttl_ms: int | None):
    def _quota_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (chat_id,) = key
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=_OUT_COLS)
            return
        used = state.get[0] if state.exists else 0
        out: list[tuple] = []
        # one concat + sort across ALL Arrow chunks — per-chunk sorting
        # would meter a multi-chunk group out of arrival order
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame(columns=["update_id", "tokens"])
        )
        # arrival order within the batch: the reference's meter is
        # sequential per chat (update_id is its arrival cursor)
        for r in batch.sort_values("update_id").itertuples():
            used += int(r.tokens)
            pct = used * 100.0 / CONTEXT_WINDOW
            if pct >= COMPACT_PCT:
                out.append(
                    (chat_id, int(r.update_id), int(r.tokens), used, pct, "compact")
                )
                used = int(r.tokens)  # fresh session re-seeded by this turn
            else:
                out.append(
                    (chat_id, int(r.update_id), int(r.tokens), used, pct, "ok")
                )
        state.update((used,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=_OUT_COLS)

    return _quota_fn


def token_quota(messages: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """messages(chat_id, update_id, tokens) → per-message quota ledger.

    One shuffle on chat_id; state is a single LONG per chat. Pass
    `ttl_ms` (e.g. QUOTA_IDLE_TIMEOUT_MS) to evict idle chats by
    processing-time timeout — and then ALWAYS run the query with a
    processing-time trigger: with the default ASAP trigger a
    ProcessingTimeTimeout query busy-loops no-data batches and
    processAllAvailable() never returns (see sessions.py's deployment
    note — same engine behavior).

    Upgrade path: Spark 4's supported API for this ledger is
    `transformWithStateInPandas` — a StatefulProcessor holding one
    named ValueState[long] ("used LONG") per chat, with the idle
    eviction moved to that state's own `ttlDurationMs` instead of the
    timeout here, and the same metering loop in `handleInputRows`. Its
    Python worker imports google.protobuf (the state-server wire
    format), so port it once the runtime ships protobuf; the output
    contract (OUTPUT_SCHEMA) does not change.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return messages.groupBy("chat_id").applyInPandasWithState(
        _make_quota_fn(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )

