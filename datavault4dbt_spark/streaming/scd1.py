"""Streaming SCD1 upsert: the foreachBatch twin of
``operators.merge`` — versioned rows ARRIVE as a stream and each
micro-batch upserts into the persisted current-state table through the
SAME per-batch core (``merge_scd1_batch``), so batch backfill and live
feed cannot drift.

Replay safety: SCD1 merge is naturally idempotent under Spark's
at-least-once epoch replay — re-upserting an identical micro-batch
replaces each affected key's row with the identical row (latest-wins is
deterministic given the batch), so no epoch bookkeeping is needed; a
crash inside the overwrite itself is covered by the store's two-rename
recovery protocol (plans/incremental.py). Contrast llm/incdedup's
streaming twin, whose verdict-then-index append pair DOES need per-
epoch presence probes.

Scale: per micro-batch cost is the batch's own latest-per-key window
plus one key-equi anti join against the target (AQE broadcasts the
small batch); with Delta the same callback is a transactional MERGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.merge import Scd1MergeConfig, _versioned, merge_scd1_batch
from ..plans.incremental import ParquetStore
from .staging import (EPOCH_COL, read_arrivals, run_arrivals,
                      start_available_now)


def micro_batch_scd1(cfg: Scd1MergeConfig, store: ParquetStore,
                     table: str = "current"):
    """foreachBatch callback: derive the version column and upsert.
    Within one micro-batch several versions may arrive together; the
    highest (version, tie) row per key must win exactly as if the
    versions had arrived as separate batches, so the batch is upserted
    version-group by version-group in ascending order."""

    def upsert(batch_df: DataFrame, batch_id: int):
        versioned = _versioned(cfg, batch_df)
        versions = sorted(
            r[0] for r in
            versioned.select(cfg.version_alias).distinct().collect()
            if r[0] is not None)
        from pyspark.sql import functions as F
        for v in versions:
            merge_scd1_batch(
                store, table,
                versioned.filter(F.col(cfg.version_alias) == v), cfg)
    return upsert


def start_scd1_stream(spark, cfg: Scd1MergeConfig, store: ParquetStore,
                      source_dir: str, schema, checkpoint_dir: str,
                      table: str = "current"):
    """Wire a parquet file stream -> foreachBatch(upsert) and start it
    with an availableNow trigger. The current-state table lands in
    ``store``/``table``."""
    stream = read_arrivals(spark, source_dir, schema)
    return start_available_now(
        stream.writeStream.foreachBatch(micro_batch_scd1(cfg, store, table)),
        checkpoint_dir)


# ----------------------------------------------- driver-gated entity --
#
# Runs the real readStream -> foreachBatch(upsert) path end-to-end
# under the driver's oracle gate: the versioned source arrives as one
# file per ascending version group, each epoch upserts into the
# persisted current-state table through merge_scd1_batch, and the
# converged table is hash-compared against the one-shot
# latest-(version, tie)-per-key SQL — the same oracle that certifies
# the batch replay (operators/merge.py), now certifying an actual
# checkpointed streaming execution. The entity CONFIG IS an
# Scd1MergeConfig: same knobs, same oracle, different executor.

def build_streaming_scd1(spark, reg, cfg: Scd1MergeConfig, g=None):
    from pyspark.sql import functions as F

    cols = list(dict.fromkeys(
        (*cfg.key_cols, *cfg.tie_cols, *cfg.payload_cols)))
    src = reg.load(spark, cfg.source).select(*cols)
    ver = F.expr(f"CAST({cfg.version_expr} AS BIGINT)")
    versions = [r[0] for r in
                src.select(ver.alias("v")).distinct().collect()]
    if any(v is None for v in versions):
        raise ValueError(f"{cfg.name}: version_expr produced NULL")
    versions.sort()
    if not versions:
        return src.selectExpr(
            *cfg.key_cols,
            f"CAST(NULL AS BIGINT) AS {cfg.version_alias}",
            *cfg.tie_cols, *cfg.payload_cols)
    # epoch = index of the row's version in ascending version order
    # (a CASE over the probed distinct versions — a handful of
    # literals)
    epoch_case = ("CASE CAST(" + cfg.version_expr + " AS BIGINT) "
                  + " ".join(f"WHEN {v} THEN {i}"
                             for i, v in enumerate(versions))
                  + " END")
    store = run_arrivals(
        spark, cfg.name,
        src.withColumn(EPOCH_COL, F.expr(epoch_case).cast("int")),
        len(versions),
        lambda stream, store: stream.writeStream.foreachBatch(
            micro_batch_scd1(cfg, store)))
    return store.read("current").select(*cfg.out_cols)
