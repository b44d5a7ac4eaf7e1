"""Streaming SFT-pair mining — the conversation pane's ``pair_sft`` as a
stateful stream. A (prompt, response) pair can SPAN micro-batches (the user
turn arrives in batch k, its assistant response in batch k+1), so this is a
genuine custom-stateful operator: per-conversation state buffers the last
TWO turns (the batch rule's 2-turn lookahead window, inverted into a
look-BEHIND over arriving turns), and emissions are final (append mode).

Equivalence to the batch rule, case by case on the arriving turn c with
buffered turns p1 (latest) and p2 (before it):
- p1=user, c=assistant          → emit (p1, c)   [batch: r1='assistant']
- p2=user, p1=tool, c=assistant → emit (p2, c)   [batch: r1='tool' AND
                                                   r2='assistant']
The two cases are mutually exclusive (p1 can't be both user and tool), and
every other batch-rule outcome is "no pair" — pytest asserts drained
output == kgforge.ops.convo.sft_pairs on fixtures where pairs straddle the
micro-batch boundary.

Scale notes: state is O(1) per live conversation (two turns), the exact
shape GroupState's store handles at 10^9 keys; arriving rows group-shuffle
once on conv_id (the same single exchange as the batch window). Dead
conversations are EVICTED (ADVICE r04): each update arms an event-time
timeout at max(event time seen for the conversation) + EVICT_DELAY — the
arm only moves later, so a batch holding only a late turn never pulls it
earlier — and once the watermark passes a conversation's last turn by
EVICT_DELAY its state is removed: the live-key set is bounded by
conversations active in the last EVICT_DELAY window — not by all
conversations ever seen. A turn arriving after its
conversation was evicted starts from empty state (it cannot pair with a
pre-eviction turn) — the deliberate semantic cost of bounded state,
pytest-pinned in tests/test_streaming.py.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# last-but-one turn (i2, r2, t2) then latest turn (i1, r1, t1); -1/'' = none;
# arm = the eviction timeout armed so far (epoch ms)
PAIR_STATE_SCHEMA = (
    "i2 int, r2 string, t2 string, i1 int, r1 string, t1 string, arm long"
)
PAIR_OUT_SCHEMA = (
    "conv_id string, turn_idx int, prompt_hash string, response_hash string,"
    " prompt_tokens long, response_tokens long"
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# Evict a conversation's state once the watermark passes its last turn by
# this much. 2x the 1-hour watermark delay: a turn that would still be
# ACCEPTED by the watermark (≤ 1 h late) always finds its state alive.
EVICT_DELAY_MS = 2 * 3600 * 1000

_EMPTY_OUT = {
    "conv_id": [], "turn_idx": [], "prompt_hash": [], "response_hash": [],
    "prompt_tokens": [], "response_tokens": [],
}


def _pair_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # Watermark passed last-turn + EVICT_DELAY: the conversation is
        # dead — drop its two-turn buffer (emissions were already final).
        state.remove()
        yield pd.DataFrame(_EMPTY_OUT)
        return
    if state.exists:
        i2, r2, t2, i1, r1, t1, arm = state.get
    else:
        i2, r2, t2, i1, r1, t1, arm = -1, "", "", -1, "", "", 0
    out: list[tuple] = []
    batch = pd.concat(list(pdfs), ignore_index=True)
    # File order fixes cross-batch arrival order; within the batch, turn
    # order is restored explicitly (partition-local sort equivalent).
    batch = batch.sort_values("turn_idx")
    for row in batch.itertuples():
        c_i, c_r, c_t = int(row.turn_idx), row.role, row.text
        if r1 == "user" and c_r == "assistant":
            out.append((key[0], i1, t1, c_t))
        elif r2 == "user" and r1 == "tool" and c_r == "assistant":
            out.append((key[0], i2, t2, c_t))
        i2, r2, t2, i1, r1, t1 = i1, r1, t1, c_i, c_r, c_t
    # Arm eviction at this batch's max event time + EVICT_DELAY, but never
    # earlier than the arm already stored: a batch holding only a late turn
    # must not shorten the conversation's life. Spark requires the timeout
    # timestamp to be strictly after the current watermark, so clamp for
    # the late-but-accepted edge (a batch whose turns all trail the
    # watermark by almost the full allowed lateness).
    last_ms = int(batch["ts"].max().value // 1_000_000)
    arm = max(arm, last_ms + EVICT_DELAY_MS, state.getCurrentWatermarkMs() + 1)
    state.update((i2, r2, t2, i1, r1, t1, arm))
    state.setTimeoutTimestamp(arm)
    yield pd.DataFrame(
        {
            "conv_id": [o[0] for o in out],
            "turn_idx": [o[1] for o in out],
            "prompt_hash": [_md5(o[2]) for o in out],
            "response_hash": [_md5(o[3]) for o in out],
            "prompt_tokens": [len(o[2].split(" ")) for o in out],
            "response_tokens": [len(o[3].split(" ")) for o in out],
        }
    )


def sft_pairs_stream(stream: DataFrame) -> DataFrame:
    """Transcript stream → streaming SFT pairs (same schema as the batch
    ``pair_sft``); emissions are final, so append output mode."""
    return (
        stream.select("conv_id", "turn_idx", "role", "text", "ts")
        .withWatermark("ts", "1 hour")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _pair_fn,
            outputStructType=PAIR_OUT_SCHEMA,
            stateStructType=PAIR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
