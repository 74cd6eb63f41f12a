"""Custom stateful streaming operator: user sessionization with
``applyInPandasWithState``.

Demonstrates the Spark pattern for stateful logic the built-in window
aggregations can't express — gap-based sessions (a session ends after
`gap` seconds of inactivity, not at fixed window boundaries). State =
one open session per user, kept in the state store, closed either by a
new event beyond the gap or by processing-time timeout.

Batch twin: ``sessionize_batch`` computes identical sessions with
window functions (gap-start detection via LAG + running session ids),
so tests can assert stream == batch on drained input.

Scale: state is per-user (uniformly hash-partitioned), bounded to one
open session per key; timeouts evict idle users, so state-store size
tracks ACTIVE users, not history.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import numpy as _np
import pandas as pd

# State-store layout for the two applyInPandasWithState gates. Their
# per-micro-batch cost is dominated by the per-group Arrow serializer
# round-trip, which parallelizes across state partitions (more
# partitions = more concurrent Python workers), unlike the JVM-native
# gates whose 4-partition default minimizes task floors. Swept at
# sf0.1 (3 interleaved cycles, minima): sessions 8.1/5.4/4.9/5.9 s and
# funnel 5.4/4.0/3.9/4.5 s at 4/8/16/32 — 16 wins both; hopping and
# native dedup prefer 4 (2.7 vs 3.4 s). Cost-only layout knob; the
# spark.dv4dbt.stream.shufflePartitions override still wins.
_PY_STATEFUL_SHUFFLE_DEFAULT = 16

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (StructType, StructField, LongType,
                               TimestampType, DoubleType)

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
])

# state: (start_epoch_us, end_epoch_us, n_events, sum_value)
STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("end_us", LongType()),
    StructField("n", LongType()),
    StructField("sv", DoubleType()),
])


def _session_fn(gap_seconds: int, timeout_ms: int):
    gap_us = gap_seconds * 1_000_000

    def fn(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        closed = []
        if timeout_ms > 0 and state.hasTimedOut:
            if state.exists:
                s, e, n, sv = state.get
                closed.append((user_id, s, e, n, sv))
                state.remove()
        else:
            # Vectorized column extraction (guide §4): the original
            # per-element pandas iteration (Timestamp boxing + int()
            # per event) dominated the gate's Python cost at ~100k
            # events; numpy yields the identical us-precision ints.
            ts_parts, val_parts = [], []
            for pdf in pdfs:
                ts_parts.append(
                    pdf["ts"].to_numpy("datetime64[ns]").astype("int64"))
                val_parts.append(pdf["value"].to_numpy("float64"))
            ts_a = _np.concatenate(ts_parts) // 1000 \
                if ts_parts else _np.empty(0, "int64")
            va = _np.concatenate(val_parts) \
                if val_parts else _np.empty(0, "float64")
            # stable argsort == the original sorted(range, key=ts):
            # ties keep arrival order
            order = _np.argsort(ts_a, kind="stable")
            ts_py = ts_a[order].tolist()
            vs_py = va[order].tolist()
            cur = state.get if state.exists else None
            for t, v in zip(ts_py, vs_py):
                if cur is None:
                    cur = (t, t, 1, v)
                elif t - cur[1] > gap_us:
                    # later than the open session by more than the gap:
                    # close it, start a new one
                    closed.append((user_id,) + cur)
                    cur = (t, t, 1, v)
                elif cur[0] - t > gap_us:
                    # EARLIER than the open session by more than the gap
                    # (out-of-order across micro-batches): a separate
                    # earlier session — emit it immediately rather than
                    # silently absorbing it into the later session.
                    # Approximation: events of that earlier session split
                    # across micro-batches close as separate singletons;
                    # the batch twin (global sort) would merge them — use
                    # F.session_window event-time sessions when exact
                    # retroactive merging of late data is required.
                    closed.append((user_id, t, t, 1, v))
                else:
                    # in-gap arrival (either side): extend the envelope —
                    # min() so a late-but-in-gap event lowers
                    # session_start exactly like the batch twin
                    cur = (min(cur[0], t), max(cur[1], t),
                           cur[2] + 1, cur[3] + v)
            if cur is not None:
                state.update(cur)
                if timeout_ms > 0:
                    state.setTimeoutDuration(timeout_ms)
        if not closed:
            return   # empty iterator: no rows for this group
        us, ss, ee, nn, sv = zip(*closed)
        yield pd.DataFrame(
            {"user_id": us,
             "session_start": pd.to_datetime(list(ss), unit="us"),
             "session_end": pd.to_datetime(list(ee), unit="us"),
             "n_events": nn, "sum_value": sv})
    return fn


def sessionize_stream(events: DataFrame, gap_seconds: int = 3600,
                      timeout_ms: int = 60_000) -> DataFrame:
    """events(ts TIMESTAMP, user_id, value) stream -> closed sessions.

    ``gap_seconds`` is the EVENT-time inactivity gap defining session
    boundaries; ``timeout_ms`` is the PROCESSING-time idleness after
    which a user's open session is flushed (two different clocks —
    late-closing only, never changes session boundaries of new data).
    ``timeout_ms <= 0`` disables timeouts entirely (NoTimeout): open
    sessions then close only via later events past the gap — the
    sentinel-flush contract of the driver-gated entity below, and the
    mode an availableNow drain needs (pending processing-time timers
    keep an availableNow query alive with endless state-cleanup
    batches — observed, not hypothetical).
    """
    mode = (GroupStateTimeout.ProcessingTimeTimeout if timeout_ms > 0
            else GroupStateTimeout.NoTimeout)
    return (events
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_fn(gap_seconds, timeout_ms), SESSION_SCHEMA,
                STATE_SCHEMA, "append", mode))


def sessionize_batch(events: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Batch twin: identical session boundaries via LAG + running sum.
    Boundary detection delegates to ``operators.events.mark_sessions``
    — the same core the driver-gated batch operator runs — so the
    streaming twin and the oracle-checked surface cannot drift."""
    from ..operators.events import mark_sessions

    sess = mark_sessions(
        events.withColumn("ts", F.col("ts").cast("timestamp")),
        gap_seconds)
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .drop("session_seq"))


# ---------------------------------------------------- streaming funnel --

def _funnel_schemas(steps: tuple):
    from pyspark.sql.types import IntegerType
    out = StructType(
        [StructField("user_id", LongType())]
        + [StructField(f"step{i}_ts", TimestampType())
           for i in range(1, len(steps) + 1)]
        + [StructField("depth", IntegerType())])
    # -1 sentinel for "step not reached" (kept non-null in state)
    state = StructType([StructField(f"s{i}_us", LongType())
                        for i in range(1, len(steps) + 1)])
    return out, state


def _funnel_fn(steps: tuple, out_schema):
    k = len(steps)

    def fn(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        # Vectorized extraction (guide §4, see _session_fn); NaT rows
        # are dropped by mask exactly as the original pd.isna skip —
        # the batch twin's conditional MIN ignores NULL event times,
        # and NaT would otherwise sort first and poison the state.
        ts_py, ty_py = [], []
        for pdf in pdfs:
            dt = pdf["ts"].to_numpy("datetime64[ns]")
            ty = pdf["event_type"].to_numpy()
            # drop NULL event types with the NaT rows (r12 advice): a
            # NULL type can never match a step (the batch twin ignores
            # it identically), and a None tying on ts with a string
            # would make the tuple sort below raise TypeError
            ok = ~_np.isnat(dt) & ~pd.isna(ty)
            ts_py.extend((dt[ok].astype("int64") // 1000).tolist())
            ty_py.extend(ty[ok].tolist())
        cur = list(state.get) if state.exists else [-1] * k
        # same tuple sort as the original sorted(ev): ties on ts break
        # on the event-type string
        for t, ty in sorted(zip(ts_py, ty_py)):
            for i in range(k):
                if cur[i] != -1:
                    continue
                if ty == steps[i] and (i == 0 or
                                       (cur[i - 1] != -1
                                        and t > cur[i - 1])):
                    cur[i] = t
                break   # only the FIRST incomplete step can advance
        state.update(tuple(cur))
        depth = sum(1 for v in cur if v != -1)
        yield pd.DataFrame(
            [(user_id,
              *[pd.Timestamp(v, unit="us") if v != -1 else pd.NaT
                for v in cur],
              depth)],
            columns=[f.name for f in out_schema])
    return fn


def funnel_stream(events: DataFrame,
                  steps: tuple = ("view", "click", "purchase")
                  ) -> DataFrame:
    """events(ts, user_id, event_type) stream -> per-user funnel
    snapshots: after each micro-batch touching a user, the user's
    current (step1_ts..stepk_ts, depth) row — take the latest row per
    user for the funnel table (update semantics over an append sink).

    State is k step timestamps per user, bounded and keyless-timeout
    free (a funnel never closes). In-order contract (the sessionize
    twin's): with event-time-ordered arrival the greedy state machine
    equals the batch funnel exactly (the first qualifying event IS the
    minimum); an event arriving BEFORE an already-consumed later step
    cannot retroactively improve the funnel — replay from storage via
    the batch operator when exact late-data repair is required."""
    out_schema, state_schema = _funnel_schemas(steps)
    return (events
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy("user_id")
            .applyInPandasWithState(
                _funnel_fn(steps, out_schema), out_schema,
                state_schema, "append",
                GroupStateTimeout.NoTimeout))


# ----------------------------------------------- driver-gated entity --
#
# Runs the REAL applyInPandasWithState path end-to-end under the
# driver's oracle gate (r9 advice #4): the event stream is staged as
# n_batches time-range arrival files (plus one far-future sentinel file
# that closes every open session), readStream delivers them as ordered
# micro-batch epochs through sessionize_stream, the closed-session rows
# land in a parquet sink, and the result is hash-compared against the
# BATCH sessionize SQL (operators/events.py sessionize_oracle). What
# this certifies that the stream==batch pytest pins cannot: a green
# CORRECTNESS row produced by an actual checkpointed stateful streaming
# execution.
#
# Exactness argument: arrival files are CONTIGUOUS TIME RANGES, so
# event time never goes backwards across epochs and the stateful
# forward scan equals the batch LAG scan; values stream as exact cents
# rendered as DOUBLE (integer-valued doubles sum exactly in any
# order), so sum_value_cents is bit-equal to the batch SUM.

def _ts_stats(events, ts_col: str = "ts", extra_null_cols: tuple = ()):
    """ONE aggregate job covering every staging precondition the gates
    used to probe with separate jobs (emptiness via limit(1).count,
    NULL-ts census, event-time bounds, per-key NULL censuses): returns
    a Row with ``cnt``, ``lo``/``hi`` (unix_micros bounds), ``n_null``
    (NULL ts rows) and ``n_null_<col>`` for each extra column
    (guide §1.2 — probe jobs were pure job-floor overhead)."""
    exprs = ["count(*) AS cnt",
             f"min(unix_micros({ts_col})) AS lo",
             f"max(unix_micros({ts_col})) AS hi",
             f"sum(CASE WHEN {ts_col} IS NULL THEN 1 ELSE 0 END)"
             f" AS n_null"]
    exprs += [f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
              f" AS n_null_{c}" for c in extra_null_cols]
    return events.selectExpr(*exprs).collect()[0]


def _check_ts_stats(stats) -> None:
    if stats.n_null:
        # a NULL ts row passes no range filter, so it would silently
        # vanish from the staged stream while the batch oracle still
        # counts its user (r11 advice) — fail loudly instead
        raise ValueError(
            f"{stats.n_null} NULL-ts rows cannot be staged as "
            "time-range arrivals; filter or repair them upstream")


def _epoch_expr(lo: int, hi: int, n_batches: int,
                ts_col: str = "ts") -> str:
    """Contiguous-time-range epoch id: integer division keeps ties in
    one range, so arrival in epoch order means event time never goes
    backwards across micro-batch epochs — the exactness contract the
    stateful gates rely on."""
    span = hi - lo + 1
    return (f"CAST(((unix_micros({ts_col}) - {lo}) * {n_batches}) "
            f"div {span} AS INT)")


def _with_time_epoch(events, stats, n_batches: int,
                     ts_col: str = "ts"):
    """Tag each row with its contiguous-range epoch in [0, n_batches)
    — the single-pass input ``stage_epoch_frames`` stages in one job."""
    from .staging import EPOCH_COL

    return events.withColumn(EPOCH_COL, F.expr(
        _epoch_expr(int(stats.lo), int(stats.hi), n_batches, ts_col)))


def _time_batches_with_sentinel(events, stats, n_batches: int,
                                sentinel_ts: str):
    """The stream as n_batches time-range epochs plus a sentinel epoch
    (one far-future event per user) that closes every open session;
    the sentinel's distinct-user shuffle rides inside the one staging
    job."""
    from .staging import EPOCH_COL

    tagged = (_with_time_epoch(events, stats, n_batches)
              .select("user_id", "ts", "value", EPOCH_COL))
    sentinel = events.select("user_id").distinct().selectExpr(
        "user_id", f"TIMESTAMP '{sentinel_ts}' AS ts",
        "CAST(0 AS DOUBLE) AS value",
        f"CAST({n_batches} AS INT) AS {EPOCH_COL}")
    return tagged.unionByName(sentinel)


from dataclasses import dataclass as _dataclass  # noqa: E402


@_dataclass(frozen=True)
class StreamingSessionEntityConfig:
    """Same gap as the batch SessionizeConfig — the oracle IS the
    batch operator's oracle, so the two entities certify gap
    sessionization through both execution engines."""

    name: str
    source: str = "events"
    gap_seconds: int = 1800
    n_batches: int = 3
    sentinel_ts: str = "2200-01-01 00:00:00"   # inside datetime64[ns]


def build_streaming_sessions(spark, reg, cfg: StreamingSessionEntityConfig,
                             g=None):
    """Stage -> stream -> read the closed-session sink; post-process to
    the batch operator's output shape (session_seq by session_start,
    exact cents)."""
    from .staging import run_arrivals

    ev = (reg.load(spark, cfg.source)
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  # exact cents as integer-valued doubles: order-free
                  # summation (see module note)
                  F.expr("CAST(CAST(round(value * 100) AS BIGINT) "
                         "AS DOUBLE)").alias("value")))
    stats = _ts_stats(ev)   # one probe job: emptiness + bounds + NULLs
    if stats.cnt == 0:
        return spark.createDataFrame(
            [], "user_id long, session_seq long, session_start timestamp,"
                " session_end timestamp, n_events long,"
                " sum_value_cents long")
    _check_ts_stats(stats)
    store = run_arrivals(
        spark, cfg.name,
        _time_batches_with_sentinel(ev, stats, cfg.n_batches,
                                    cfg.sentinel_ts),
        cfg.n_batches + 1,
        # timeout_ms=0 (NoTimeout): the sentinel file closes every open
        # session, and an availableNow drain must not leave pending
        # processing-time timers (see sessionize_stream docstring)
        lambda stream, store: sessionize_stream(
            stream, gap_seconds=cfg.gap_seconds, timeout_ms=0)
        .writeStream.format("parquet")
        .option("path", store.path("sessions")),
        state_partitions=_PY_STATEFUL_SHUFFLE_DEFAULT)
    sess = (spark.read.parquet(store.path("sessions"))
            # sentinel singletons stay open (nothing follows them) and
            # are never emitted; the guard keeps a late processing-time
            # timeout flush from leaking one anyway
            .filter(F.col("session_start")
                    < F.lit(cfg.sentinel_ts).cast("timestamp")))
    w = Window.partitionBy("user_id").orderBy("session_start")
    return (sess.withColumn("session_seq",
                            F.row_number().over(w).cast("bigint"))
            .selectExpr("user_id", "session_seq", "session_start",
                        "session_end", "n_events",
                        "CAST(sum_value AS BIGINT) AS sum_value_cents"))


def streaming_sessions_oracle(b, reg, cfg: StreamingSessionEntityConfig,
                              g=None) -> str:
    """Time-ordered epochs make the stateful forward scan equal the
    batch LAG scan (module note), so the batch sessionize SQL is the
    oracle."""
    from ..operators.events import SessionizeConfig, sessionize_oracle

    return sessionize_oracle(
        b, reg, SessionizeConfig(cfg.name, source=cfg.source,
                                 gap_seconds=cfg.gap_seconds), g)


# ------------------------------------ driver-gated entity: funnel --
#
# Same recipe as the sessions gate above, for funnel_stream: stage the
# event stream as contiguous time-range arrival files, run the REAL
# applyInPandasWithState funnel end-to-end through a checkpointed
# availableNow execution into a parquet sink, then reduce the per-batch
# snapshots to the final per-user funnel and hash-compare against the
# BATCH funnel SQL (operators/events.py funnel_oracle).
#
# Exactness argument: with event time never going backwards across
# epochs (ties share a range), the greedy first-incomplete-step state
# machine consumes exactly the conditional-MIN chain the batch window
# formulation computes — for each step i the first qualifying event in
# time order IS MIN(ts | type = step_i AND ts > step_{i-1}); strict `>`
# makes tie order irrelevant. No sentinel is needed: a funnel never
# closes, and the per-batch snapshot rows are reduced below.
#
# Snapshot reduction: step columns are SET-ONCE (null until consumed,
# then constant across later snapshots), so MAX(step_i_ts) per user is
# the final value and MAX(depth) the final depth — a deterministic
# aggregate, no "latest row" ordering dependence.

@_dataclass(frozen=True)
class StreamingFunnelEntityConfig:
    """Same steps as the batch FunnelConfig — the oracle IS the batch
    operator's oracle, so the two entities certify first-touch funnels
    through both execution engines."""

    name: str
    source: str = "events"
    steps: tuple = ("view", "click", "purchase")
    n_batches: int = 3


def build_streaming_funnel(spark, reg, cfg: StreamingFunnelEntityConfig,
                           g=None):
    """Stage -> stream -> reduce the snapshot sink to the batch funnel's
    output shape."""
    from .staging import run_arrivals

    k = len(cfg.steps)
    step_cols = [f"step{i}_ts" for i in range(1, k + 1)]
    ev = (reg.load(spark, cfg.source)
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_type"))
    stats = _ts_stats(ev)   # one probe job: emptiness + bounds + NULLs
    if stats.cnt == 0:
        return spark.createDataFrame(
            [], "user_id long, "
                + ", ".join(f"{c} timestamp" for c in step_cols)
                + ", depth int")
    _check_ts_stats(stats)
    store = run_arrivals(
        spark, cfg.name, _with_time_epoch(ev, stats, cfg.n_batches),
        cfg.n_batches,
        lambda stream, store: funnel_stream(stream, steps=cfg.steps)
        .writeStream.format("parquet").option("path", store.path("funnel")),
        state_partitions=_PY_STATEFUL_SHUFFLE_DEFAULT)
    return (spark.read.parquet(store.path("funnel"))
            .groupBy("user_id")
            .agg(*[F.max(c).alias(c) for c in step_cols],
                 F.max("depth").alias("depth")))


def streaming_funnel_oracle(b, reg, cfg: StreamingFunnelEntityConfig,
                            g=None) -> str:
    """Time-ordered epochs make the greedy state machine equal the batch
    conditional-MIN chain (module note), so the batch funnel SQL is the
    oracle."""
    from ..operators.events import FunnelConfig, funnel_oracle

    return funnel_oracle(
        b, reg, FunnelConfig(cfg.name, source=cfg.source,
                             steps=cfg.steps), g)
