"""Streaming OHLC bars: the foreachBatch twin of
``operators.events`` OHLC — events ARRIVE as a stream and each
micro-batch folds into persisted per-bar partial aggregates through
the SAME mergeable core (``ohlc_partial`` / ``ohlc_merge`` /
``ohlc_finalize``), so batch backfill and live candles cannot drift.

Replay safety: bar partials are NOT naturally idempotent (re-adding a
replayed micro-batch would double n_events/sum_cents), so the state
table is append-only PARTITIONED BY batch_id and an epoch replay first
drops its own partition — the llm/incdedup bookkeeping shape, here
with partition-overwrite instead of presence probes because partials
are pure per-batch functions (no cross-batch reads during ingest).

Scale: per micro-batch cost is one map-side-combined aggregate of the
batch (census-sized output); the merge across batches happens at READ
time over the partial census, never over raw events — a day's bars
re-derive from (n_batches x bars) partial rows. Periodically
compacting old partials into one merged partition is the
operators/compaction.py move applied to this table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.events import (OhlcBarsConfig, _ohlc_input,
                                ohlc_partial, ohlc_merge, ohlc_finalize)
from ..plans.incremental import ParquetStore
from .staging import (EPOCH_COL, read_arrivals, run_arrivals,
                      start_available_now)

_TABLE = "ohlc_partials"


def micro_batch_ohlc(cfg: OhlcBarsConfig, store: ParquetStore,
                     table: str = _TABLE):
    """foreachBatch callback: fold the micro-batch into its own
    partial partition (replay overwrites, never double-counts)."""

    def fold(batch_df, batch_id: int):
        part = (ohlc_partial(_ohlc_input(batch_df, cfg), cfg)
                .withColumn("batch_id", F.lit(int(batch_id))))
        if store.exists(table):
            store.drop_partitions(table, "batch_id", [int(batch_id)])
        store.append(table, part, partition_by=("batch_id",))
    return fold


def read_ohlc_bars(cfg: OhlcBarsConfig, store: ParquetStore,
                   table: str = _TABLE):
    """Current bars: merge all stored partials and finalize — the
    exact frame the batch operator builds over the full history. (The
    store carries the session; no spark handle needed.)"""
    partials = store.read(table).drop("batch_id")
    return ohlc_finalize(ohlc_merge(partials, cfg), cfg)


def start_ohlc_stream(spark, cfg: OhlcBarsConfig, store: ParquetStore,
                      source_dir: str, schema, checkpoint_dir: str,
                      table: str = _TABLE):
    stream = read_arrivals(spark, source_dir, schema)
    return start_available_now(
        stream.writeStream.foreachBatch(micro_batch_ohlc(cfg, store, table)),
        checkpoint_dir)


# ----------------------------------------------- driver-gated entity --
#
# Runs the real readStream -> foreachBatch(partial fold) -> merged
# read-back path end-to-end under the driver's oracle gate: the event
# stream arrives as n_batches id-range files, each epoch folds into
# its own batch_id partition of the partial store, and the merged
# finalized bars are hash-compared against the BATCH OHLC SQL. Batch
# split needs no time ordering — partials merge commutatively (the
# module's whole design point), which is exactly what the gate proves.

from dataclasses import dataclass


@dataclass(frozen=True)
class OhlcStreamEntityConfig:
    """Same knobs as the batch OhlcBarsConfig — the oracle IS that
    config's oracle."""

    name: str
    source: str = "events"
    n_batches: int = 3

    def bars(self) -> OhlcBarsConfig:
        return OhlcBarsConfig(self.name, source=self.source)


def build_streaming_ohlc(spark, reg, cfg: OhlcStreamEntityConfig,
                         g=None):
    bars = cfg.bars()
    ev = (reg.load(spark, cfg.source)
          .select(bars.group_col,
                  F.col(bars.ts_col).cast("timestamp")
                  .alias(bars.ts_col),
                  bars.id_col, "value"))
    mx = ev.agg(F.max(bars.id_col)).collect()[0][0]
    if mx is None:
        empty = ohlc_finalize(
            ohlc_partial(_ohlc_input(ev, bars), bars), bars)
        return empty
    bound = int(mx) + 1
    batch_of = F.expr(f"CAST(({bars.id_col} * {cfg.n_batches}) "
                      f"div {bound} AS INT)")
    store = run_arrivals(
        spark, cfg.name, ev.withColumn(EPOCH_COL, batch_of), cfg.n_batches,
        lambda stream, store: stream.writeStream.foreachBatch(
            micro_batch_ohlc(bars, store)))
    return read_ohlc_bars(bars, store)


def streaming_ohlc_oracle(b, reg, cfg: OhlcStreamEntityConfig,
                          g=None) -> str:
    """Partials merge commutatively, so the converged bar table equals
    the one-shot batch build — one oracle serves both."""
    from ..operators.events import ohlc_bars_oracle

    return ohlc_bars_oracle(b, reg, cfg.bars(), g)
