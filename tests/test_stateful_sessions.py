"""applyInPandasWithState sessionization: the streamed sessions (after
draining all input and firing timeouts) must equal the batch twin."""

import time

import pytest

from conftest import SF_DIR

from datavault4dbt_spark.streaming.stateful import (
    sessionize_stream, sessionize_batch)

pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def time_batches(tmp_path_factory):
    import os
    import duckdb
    root = tmp_path_factory.mktemp("sess_src")
    con = duckdb.connect()
    lo, hi = con.execute(
        f"SELECT min(ts), max(ts) FROM '{SF_DIR}/events.parquet'").fetchone()
    span = (hi - lo) / 3
    for i in range(3):
        cond = (f"ts >= TIMESTAMP '{lo + i * span}' AND "
                + (f"ts < TIMESTAMP '{lo + (i + 1) * span}'" if i < 2 else "TRUE"))
        con.execute(
            f"COPY (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value "
            f"FROM '{SF_DIR}/events.parquet' WHERE {cond} ORDER BY ts) "
            f"TO '{root}/b{i}.parquet' (FORMAT PARQUET)")
        # explicit strictly-increasing mtimes: Spark's file source
        # orders micro-batches by modification time, and back-to-back
        # COPYs can land inside one clock tick — a tie makes arrival
        # order arbitrary, i.e. OUT-OF-ORDER input, which the operator
        # legitimately answers with split singletons (observed flake:
        # 721 vs 585 sessions). In-order arrival is this test's
        # contract, so pin it.
        os.utime(f"{root}/b{i}.parquet", (1_700_000_000 + i * 10,) * 2)
    return str(root)


def test_stream_sessions_match_batch(spark, tmp_path, time_batches):
    GAP = 6 * 3600  # wide gap -> sessions span micro-batches
    schema = spark.read.parquet(time_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(time_batches))
    # timeout well above worst-case drain time: a processing-time
    # timeout that fires while input batches are still queued closes a
    # user's open session EARLY and splits it (observed once on a
    # loaded host at 5s — the suite's only flake); 45s never fires
    # mid-stream yet sweeps the final open sessions well inside the
    # 300s poll deadline
    q = (sessionize_stream(stream, GAP, timeout_ms=45_000)
         .writeStream.format("memory").queryName("sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 second")
         .start())
    # NOTE: processAllAvailable() is unusable here — with a
    # processing-time trigger plus state timeouts the query never
    # reaches the idle state it waits for (observed hanging >4 min).
    # Instead poll the sink until it holds every session the batch
    # twin produces: input drains, then the processing-time timeout
    # fires in a later (possibly empty) micro-batch and closes the
    # remaining open sessions.
    want_n = sessionize_batch(spark.read.parquet(time_batches), GAP).count()
    deadline = time.time() + 300
    while time.time() < deadline:
        if spark.table("sessions").count() >= want_n:
            break
        time.sleep(3)
    q.stop()

    got = {tuple(map(str, r)) for r in spark.table("sessions").collect()}
    want = {tuple(map(str, r)) for r in
            sessionize_batch(spark.read.parquet(time_batches), GAP)
            .select("user_id", "session_start", "session_end",
                    "n_events", "sum_value").collect()}
    # every emitted session must be a true session; after the timeout
    # sweep the sets should match completely
    assert got == want, (len(got), len(want))


@pytest.fixture(scope="module")
def funnel_batches(tmp_path_factory):
    """events with event_type, split into 3 arriving files by time —
    a user's funnel steps span micro-batches."""
    import duckdb
    root = tmp_path_factory.mktemp("funnel_src")
    con = duckdb.connect()
    lo, hi = con.execute(
        f"SELECT min(ts), max(ts) FROM '{SF_DIR}/events.parquet'").fetchone()
    span = (hi - lo) / 3
    for i in range(3):
        cond = (f"ts >= TIMESTAMP '{lo + i * span}' AND "
                + (f"ts < TIMESTAMP '{lo + (i + 1) * span}'"
                   if i < 2 else "TRUE"))
        con.execute(
            f"COPY (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, "
            f"event_type FROM '{SF_DIR}/events.parquet' WHERE {cond} "
            f"ORDER BY ts) TO '{root}/b{i}.parquet' (FORMAT PARQUET)")
        # strictly-increasing mtimes pin in-order arrival (see
        # time_batches)
        import os
        os.utime(f"{root}/b{i}.parquet", (1_700_000_000 + i * 10,) * 2)
    return str(root)


def test_stream_funnel_matches_batch(spark, tmp_path, funnel_batches):
    """Per-user funnel snapshots streamed over event-time-ordered
    micro-batches: the LATEST snapshot per user must equal the batch
    funnel (shared semantics via operators.events.funnel_frame), with
    steps genuinely completing across different micro-batches."""
    from datavault4dbt_spark.context import DEFAULT
    from datavault4dbt_spark.operators.events import (FunnelConfig,
                                                      funnel_frame)
    from datavault4dbt_spark.streaming.stateful import funnel_stream

    schema = spark.read.parquet(funnel_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(funnel_batches))
    q = (funnel_stream(stream)
         .writeStream.format("memory").queryName("funnel_snaps")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckf"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(300)

    # latest snapshot per user = max depth (depth is monotone) with
    # the later emission winning ties (same user, same depth, later
    # batch -> identical row by construction, so max() over stringified
    # rows per (user, depth) is stable)
    snaps = spark.table("funnel_snaps").collect()
    latest = {}
    for r in snaps:
        cur = latest.get(r.user_id)
        if cur is None or r.depth >= cur.depth:
            latest[r.user_id] = r
    got = {(r.user_id, str(r.step1_ts), str(r.step2_ts),
            str(r.step3_ts), r.depth) for r in latest.values()}

    batch = funnel_frame(spark.read.parquet(funnel_batches),
                         FunnelConfig("f", source="unused"))
    want = {(r.user_id, str(r.step1_ts), str(r.step2_ts),
             str(r.step3_ts), r.depth) for r in batch.collect()}
    assert got == want and len(want) > 0
    # the stream really advanced funnels incrementally: some user has
    # snapshots at more than one depth
    depths_per_user = {}
    for r in snaps:
        depths_per_user.setdefault(r.user_id, set()).add(r.depth)
    assert any(len(d) > 1 for d in depths_per_user.values())


def test_stream_funnel_ignores_null_event_times(spark, tmp_path):
    """A NULL ts row must be skipped exactly like the batch twin's
    conditional MIN skips it (regression: NaT.value used to sort first
    and poison the state)."""
    import datetime
    from datavault4dbt_spark.streaming.stateful import funnel_stream

    TS = datetime.datetime.fromisoformat
    rows = [(1, None, "view"),
            (1, TS("2024-01-01 10:00:00"), "view"),
            (1, TS("2024-01-01 11:00:00"), "click")]
    src = str(tmp_path / "nullts_src")
    # ONE file: the funnel's contract is event-time-ordered ARRIVAL
    # (stateful.py docstring); multiple part files would arrive in
    # listing order and could deliver the click before the view,
    # which is out-of-order input, not what this test pins
    spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_type STRING") \
        .coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (funnel_stream(stream)
         .writeStream.format("memory").queryName("funnel_null_ts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckn"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows_out = spark.table("funnel_null_ts").collect()
    last = max(rows_out, key=lambda r: r.depth)
    assert (last.step1_ts, last.step2_ts, last.depth) == (
        TS("2024-01-01 10:00:00"), TS("2024-01-01 11:00:00"), 2)


def test_time_range_staging_rejects_null_ts(spark):
    """A NULL-ts row passes NO time-range filter, so it would silently
    vanish from the staged stream while the batch oracle still counts
    its user — staging must fail loudly instead (r11 advice). This is
    the probe + tag path every time-range gate runs before staging."""
    import datetime

    import pytest as _pytest

    from datavault4dbt_spark.streaming.staging import EPOCH_COL
    from datavault4dbt_spark.streaming.stateful import (
        _check_ts_stats, _ts_stats, _with_time_epoch)

    TS = datetime.datetime.fromisoformat
    ev = spark.createDataFrame(
        [(1, TS("2024-01-01 10:00:00"), 1.0), (2, None, 2.0),
         (3, TS("2024-01-01 12:00:00"), 3.0),
         (4, TS("2024-01-02 09:00:00"), 4.0)],
        "user_id LONG, ts TIMESTAMP, value DOUBLE")
    with _pytest.raises(ValueError, match="NULL-ts"):
        _check_ts_stats(_ts_stats(ev))
    # the clean rows are all tagged with a contiguous-range epoch
    clean = ev.filter("ts IS NOT NULL")
    stats = _ts_stats(clean)
    _check_ts_stats(stats)
    epochs = [r[0] for r in
              _with_time_epoch(clean, stats, 3).select(EPOCH_COL).collect()]
    assert len(epochs) == 3
    assert all(e is not None and 0 <= e < 3 for e in epochs)
    assert max(epochs) == 2     # the latest row lands in the last epoch
