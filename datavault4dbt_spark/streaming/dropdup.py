"""Driver-gated native streaming deduplication (the EIGHTH gate).

The first seven gates cover foreachBatch loops, two
``applyInPandasWithState`` operators, and the native watermarked
streaming AGGREGATION; none exercises Spark's native streaming
DEDUPLICATION operator (``dropDuplicatesWithinWatermark`` ->
StreamingDeduplicateWithinWatermark: per-key state-store probes with
watermark-bounded retention — the operator a production pipeline uses
for exactly-once event streams over an at-least-once transport). This
module closes that gap: the events source is inflated with
byte-identical duplicate rows — some arriving in the SAME micro-batch
epoch as their original, some re-delivered one epoch LATER (the
at-least-once replay shape, which forces a cross-epoch state-store
hit, not just an in-batch distinct) — and streamed through the native
operator; the oracle is simply the base projection, because exactly
one copy of each key must survive and all copies are identical.

Exactness argument: duplicates are exact row copies, so whichever copy
the operator emits IS the base row; the watermark delay exceeds the
full event-time span of the staged stream (arrivals are time-range
epochs over a bounded history), so no re-delivered copy is ever
dropped as late and no real key's state is evicted before its copies
arrive — the operator must emit every event_id exactly once. A NULL
business key would break the exactly-one contract portably (engines
disagree on NULL-key dedup), so staging fails loudly instead of
streaming one.

Scale design: state is one small entry per key within the watermark
horizon — bounded by key arrival rate x delay, the operator's
documented production envelope — and the state layout is sized by
``scoped_stream_shuffle`` exactly like the other stateful gates
(``spark.dv4dbt.stream.shufflePartitions`` on a cluster). Nothing
here is driver-side: staging writes are distributed renames
(staging.py) and the duplicate injection is a filter+union on the
arrival frames.

Beyond-reference extension: the reference is batch-only (its
insert-only loads are idempotent under replay — macros/tables/hub.sql:7
multi-batch semantics); this entity certifies the native streaming
primitive that gives the same replay safety to a continuous pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder


@dataclass(frozen=True)
class StreamingDropDupEntityConfig:
    """Duplicate-injection geometry for the native-dedup gate.

    ``intra_mod``: epoch 0 rows with event_id % intra_mod == 0 are
    duplicated INTO epoch 0 (same-batch duplicate). ``cross_mod``:
    epoch k-1 rows with event_id % cross_mod == 0 are re-delivered in
    epoch k (cross-batch replay). ``watermark`` must exceed the
    source's full event-time span so no copy is ever late (module
    note); the events fixture spans 30 days at every SF."""

    name: str
    source: str = "events"
    n_batches: int = 3
    intra_mod: int = 6
    cross_mod: int = 3
    watermark: str = "40 days"


def build_streaming_dropdup(spark, reg: Registry,
                            cfg: StreamingDropDupEntityConfig,
                            g: GlobalConfig = DEFAULT) -> DataFrame:
    """Stage inflated arrivals -> native dropDuplicatesWithinWatermark
    -> read the sink."""
    from .staging import _STREAM_SHUFFLE_DEFAULT, EPOCH_COL, run_arrivals
    from .stateful import _check_ts_stats, _ts_stats, _with_time_epoch

    ev = (reg.load(spark, cfg.source)
          .select("event_id",
                  F.col("ts").cast("timestamp").alias("ts"),
                  "user_id", "event_type",
                  # exact cents BEFORE staging: copies stay identical
                  # and the emitted row is integer-portable
                  F.expr("CAST(round(value * 100) AS BIGINT)")
                  .alias("value_cents")))
    # one probe job: emptiness + bounds + NULL-ts + NULL-key censuses
    stats = _ts_stats(ev, extra_null_cols=("event_id",))
    if stats.cnt == 0:
        return spark.createDataFrame(
            [], "event_id long, ts timestamp, user_id long,"
                " event_type string, value_cents long")
    if stats.n_null_event_id:
        raise ValueError(
            f"{cfg.name}: {stats.n_null_event_id} NULL event_id rows — "
            f"NULL-key dedup is not portable across engines (module "
            f"note)")
    _check_ts_stats(stats)

    tagged = _with_time_epoch(ev, stats, cfg.n_batches)
    epoch = F.col(EPOCH_COL)
    arrivals = tagged.unionByName(
        # epoch 0: same-batch duplicates ride along with their originals
        tagged.filter((epoch == 0)
                      & (F.col("event_id") % cfg.intra_mod == 0))
    ).unionByName(
        # epoch k: at-least-once replay of a slice of epoch k-1 —
        # the state-store must remember last epoch's keys to drop these
        tagged.filter((epoch < cfg.n_batches - 1)
                      & (F.col("event_id") % cfg.cross_mod == 0))
        .withColumn(EPOCH_COL, epoch + 1))
    store = run_arrivals(
        spark, cfg.name, arrivals, cfg.n_batches,
        lambda stream, store: (
            stream.withWatermark("ts", cfg.watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", store.path("deduped"))),
        state_partitions=_STREAM_SHUFFLE_DEFAULT)
    return spark.read.parquet(store.path("deduped"))


def streaming_dropdup_oracle(b: SqlBuilder, reg: Registry,
                             cfg: StreamingDropDupEntityConfig,
                             g: GlobalConfig = DEFAULT) -> str:
    """Exactly one identical copy per key survives (module note), so
    the streamed result equals the base projection — no dedup SQL is
    even needed on the oracle side."""
    rel = reg.duckdb_relation(cfg.source)
    return b.cte(
        cfg.name,
        f"SELECT event_id, ts, user_id, event_type, "
        f"CAST(round(value * 100) AS BIGINT) AS value_cents FROM {rel}")
