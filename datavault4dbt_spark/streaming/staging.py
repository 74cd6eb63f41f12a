"""Arrival staging and the one stream runner of the driver-gated
streaming entities.

A driver entity must SIMULATE arrival (a production stream watches a
directory someone else fills): the input frame is written as K
single-file parquet arrivals with strictly increasing mtimes, so a
file stream with maxFilesPerTrigger=1 delivers them as micro-batch
epochs 0..K-1 in declared order. Each frame is written DISTRIBUTED to
a sibling dir and its single output file renamed into the watched dir
— the driver never holds row data.

Every stream the package starts goes through this module:

- ``read_arrivals``: a parquet file stream over an arrival directory,
  one file per trigger;
- ``start_available_now``: checkpoint + availableNow trigger +
  ``start()`` on an unstarted writer (the public ``start_*`` helpers
  return its query);
- ``run_arrivals``: a gate's whole lifecycle. It clears the gate's
  scratch store, stages ``arrivals`` (the stream columns plus
  ``EPOCH_COL``) in one job, reads them back as a stream, and starts
  the writer ``query(stream, store)`` returns — under
  ``scoped_stream_shuffle`` when ``state_partitions`` is given. It
  waits up to 600 s (on timeout it stops the query and raises) and
  returns the store for the read-back. A failed micro-batch surfaces
  as ``StreamingQueryException`` from the wait; the query is then no
  longer active and the shuffle scope is restored.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
from contextlib import contextmanager, nullcontext

from ..plans.incremental import ParquetStore, scratch_store

# Session conf key a deployment sets to size the streaming state/shuffle
# layout explicitly (e.g. 2000 on a 1000-executor cluster); tests use it
# to pin partition-count invariance of the streaming gates at 7 vs 32.
STREAM_SHUFFLE_CONF = "spark.dv4dbt.stream.shufflePartitions"

# Default state/shuffle partition count for a checkpointed STATEFUL
# streaming execution when STREAM_SHUFFLE_CONF is unset. Sized for the
# gate runs (micro-batches of 10^3-10^5 rows): each stateful operator
# writes one state-store delta file PER PARTITION PER MICRO-BATCH, so
# the batch session's 32 shuffle partitions cost 32 tasks + 32
# checkpoint files per operator per epoch — launch/fsync overhead, not
# parallelism, at this batch size. AQE never coalesces these (adaptive
# planning is disabled inside stateful streaming micro-batches), so the
# partition count must be right a priori, unlike the batch plans.
# r12 sweep (same-session interleaved minima at sf0.1, 8 vs 4 vs 2):
# hopping 8.8/4.1/4.2s, native dedup 4.1/3.4/3.2s, sessions
# 11.7/10.8/13.6s — 4 is the knee: native state-store operators keep
# shrinking toward 2, but the Arrow/pandas stateful operators
# (applyInPandasWithState) lose Python-worker parallelism below 4.
#
# Scope: ONLY the state-store gates (applyInPandasWithState sessions /
# funnel, native watermarked aggregation) take this scope. The
# foreachBatch gates (vault ingest, SCD1, incremental dedup, OHLC) run
# ordinary BATCH jobs per epoch — whole-target joins and window dedups
# that want the session's full parallelism and get AQE coalescing for
# free; measured at sf0.1, scoping them to 8 REGRESSED ingest
# 8.9->14.7s and scd1 5.2->8.1s while the stateful trio improved
# 26-35% (sessions 22.6->16.8, funnel 18.3->11.9, hopping 17.7->12.7).
_STREAM_SHUFFLE_DEFAULT = 4


# scoped_stream_shuffle mutates a SESSION conf (not thread-local):
# overlapping scopes from two threads would restore in the wrong order
# and leave the session at the streaming layout. Today every caller is
# a standalone exposed gate (never built concurrently), but entity
# construction may run from a pool (operators/bundle.py) — serialize
# the scope so that invariant cannot silently break.
_SCOPE_LOCK = threading.Lock()


@contextmanager
def scoped_stream_shuffle(spark, default: int):
    """Scope ``spark.sql.shuffle.partitions`` to the streaming-query
    layout for the duration of a checkpointed execution, then restore.

    The state-store partition count of a stateful streaming operator is
    captured from the session's shuffle.partitions when the query first
    starts against a fresh checkpoint; the gates recreate their
    checkpoint per run, so this scope sizes every execution. The wrap
    covers start()..awaitTermination(); the returned read-back frames
    execute later under the caller's own session conf.

    Results are layout-invariant (pinned at 7 vs 32 via
    STREAM_SHUFFLE_CONF in tests/test_partition_invariance.py) — this
    knob is cost-only, exactly like shuffle.partitions in batch.
    """
    key = "spark.sql.shuffle.partitions"
    with _SCOPE_LOCK:
        prev = spark.conf.get(key)
        override = spark.conf.get(STREAM_SHUFFLE_CONF, None)
        spark.conf.set(key, str(int(override) if override else default))
        try:
            yield
        finally:
            spark.conf.set(key, prev)


EPOCH_COL = "__epoch__"


def stage_epoch_frames(df, n_epochs: int, src_dir: str,
                       epoch_col: str = EPOCH_COL) -> None:
    """Write ALL arrival epochs in ONE distributed job.

    ``df`` carries the stream's columns plus ``epoch_col`` (int in
    [0, n_epochs)). The frame is hash-repartitioned on the epoch column
    (every epoch's rows land in exactly one task) and written with
    ``partitionBy(epoch_col)`` — one parquet file per epoch, the epoch
    column stripped from the file contents by the hive layout — then
    each file is renamed into the watched dir in epoch order with
    strictly increasing mtimes.

    Why: one coalesce(1) write per epoch pays K job floors plus K
    serial single-task writes, each rescanning the source (guide §1.2,
    §2.4 — staging was the gates' second-largest cost after the
    micro-batches themselves); this is one scan + one K-task exchange.
    The driver never holds row data.

    An epoch with no rows still gets an (empty, schema-only) arrival
    file via a fallback single-partition write, preserving the
    epoch-k == batch-k numbering downstream foreachBatch logic relies
    on (e.g. the incremental-dedup verdicts' batch_id column)."""
    tmp = f"{src_dir}.__stage__"
    shutil.rmtree(tmp, ignore_errors=True)
    (df.repartition(n_epochs, df[epoch_col])
       .write.mode("overwrite").partitionBy(epoch_col).parquet(tmp))
    base = time.time()
    empty = None
    for k in range(n_epochs):
        part = glob.glob(f"{tmp}/{epoch_col}={k}/part-*.parquet")
        if len(part) > 1:
            raise RuntimeError(f"epoch {k}: expected one staged file, "
                               f"got {part}")
        if part:
            src = part[0]
        else:
            # empty epoch: write a schema-only file (rare — contiguous
            # range epochs are non-empty on real data)
            if empty is None:
                empty = df.drop(epoch_col).filter("1 = 0")
            etmp = f"{src_dir}.__stage_empty{k}__"
            shutil.rmtree(etmp, ignore_errors=True)
            empty.coalesce(1).write.mode("overwrite").parquet(etmp)
            src = glob.glob(f"{etmp}/part-*.parquet")[0]
        dst = f"{src_dir}/batch_{k}.parquet"
        os.replace(src, dst)
        os.utime(dst, (base + 100 * k, base + 100 * k))
    for leftover in glob.glob(f"{src_dir}.__stage*__"):
        shutil.rmtree(leftover, ignore_errors=True)


ARRIVALS = "__arrivals__"
CHECKPOINT = "__ckpt__"


def read_arrivals(spark, src_dir: str, schema):
    """Parquet file stream over ``src_dir``, one arrival file per
    trigger, so each staged epoch is one micro-batch."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src_dir))


def start_available_now(writer, checkpoint_dir: str):
    """Start an unstarted ``DataStreamWriter`` that drains what has
    arrived and stops; returns the ``StreamingQuery``."""
    return (writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def run_arrivals(spark, name: str, arrivals, n_epochs: int, query,
                 state_partitions: int | None = None) -> ParquetStore:
    """Stage ``arrivals`` as ``n_epochs`` arrival files, stream them
    through the writer ``query(stream, store)`` builds, and drain it
    (module docstring). Scratch state is cleared per run, so repeated
    driver/bench invocations re-execute the full streaming load
    instead of replaying a stale checkpoint."""
    store = scratch_store(spark, name, prefix="dv4dbt_stream")
    shutil.rmtree(store.root, ignore_errors=True)
    src_dir = store.path(ARRIVALS)
    os.makedirs(src_dir)
    stage_epoch_frames(arrivals, n_epochs, src_dir)
    stream = read_arrivals(spark, src_dir,
                           arrivals.drop(EPOCH_COL).schema)
    writer = query(stream, store)
    scope = (scoped_stream_shuffle(spark, state_partitions)
             if state_partitions else nullcontext())
    with scope:
        q = start_available_now(writer, store.path(CHECKPOINT))
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"{name}: stream did not drain in 600s")
    return store
