"""Streaming as-of state join: attach the latest STATIC state row
at-or-before each arriving event's timestamp.

The streaming twin of ``operators.asof`` for the stream-static case —
enriching a live event stream with slowly-changing reference state (a
satellite's version history, a nightly-built feature table). Because
the right side is static, an event's as-of match is independent of
every other stream row, so running the SAME union-window core per
micro-batch (``asof_join_frames``) equals corpus-wide batch semantics
exactly; at-least-once replays are idempotent up to the sink's append
semantics (same contract as the other foreachBatch loaders).

``foreachBatch`` rather than a raw stream-static join: the as-of core
is a window over the unioned sides, and windows over a derived stream
are a batch shape. The static side is captured at query start; swap in
a re-read inside the closure if the state table refreshes mid-query
(the stream-static gate in ``curation.streaming_source_gate`` shows
that variant).

Stream-equals-batch is pinned by tests/test_streaming_asof.py: the
same events split across micro-batches produce byte-identical rows to
one batch run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.asof import AsofJoinConfig, asof_join_frames
from .staging import start_available_now


def start_asof_state_join(stream_events: DataFrame, state: DataFrame,
                          cfg: AsofJoinConfig, sink,
                          checkpoint_dir: str):
    """``sink``: callable(DataFrame) invoked with each micro-batch's
    as-of-joined rows (e.g. ``lambda df: store.append("enriched",
    df)``)."""
    def join_batch(batch_df: DataFrame, _batch_id: int):
        sink(asof_join_frames(batch_df, state, cfg))

    return start_available_now(
        stream_events.writeStream.foreachBatch(join_batch), checkpoint_dir)
