"""Structured Streaming ingestion into Data Vault entities.

The reference is batch-only ("multiple deltas per batch" is micro-batch
semantics, reference: macros/tables/hub.sql:7); its insert-only loading
patterns are nevertheless *idempotent by construction* (earliest-arrival
dedup + anti-join against the target), which makes them directly safe
under ``foreachBatch`` at-least-once delivery: replaying a micro-batch
inserts nothing new. This module is the beyond-reference streaming
extension: readStream over an arriving-file directory -> stage
transformation -> hub / nh_sat / sat_v0 loads per micro-batch.

Scale design: each micro-batch runs the same plans as the batch path
(window dedup keyed on the hashkey, anti-join on the same key — one
shuffle, reused by AQE). State lives in the *target tables*, not in
Spark streaming state, so there is no state-store growth and restart
recovery is just checkpoint + re-run (idempotent). A watermarked
windowed-aggregation variant (events per user per hour) demonstrates
native stateful streaming for late data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..operators.stage import StageConfig, build_stage
from ..operators.hub import build_hub
from ..operators.link import build_link
from ..operators.nh import build_nh_sat, build_nh_link
from ..operators.sat import build_sat_v0
from ..operators.ma_sat import build_ma_sat_v0
from ..plans.incremental import ParquetStore, anti_join_new
from .staging import (_STREAM_SHUFFLE_DEFAULT, ARRIVALS, EPOCH_COL,
                      read_arrivals, run_arrivals, start_available_now)
from .stateful import _check_ts_stats, _ts_stats, _with_time_epoch


@dataclass(frozen=True)
class StreamIngestConfig:
    """One streaming source feeding a stage and its downstream entities."""

    source_dir: str               # directory watched by readStream
    source_name: str              # registry name the stage reads
    stage: StageConfig
    hubs: tuple = ()              # HubConfig, loaded per micro-batch
    links: tuple = ()             # LinkConfig (same earliest-arrival shape)
    nh_sats: tuple = ()           # NhSatConfig
    nh_links: tuple = ()          # NhLinkConfig (pure anti-join inserts)
    sats: tuple = ()              # SatConfig (sat_v0, delta-historized)
    ma_sats: tuple = ()           # MaSatConfig (group-hashdiff historized)


def _require_whole_groups(new: DataFrame, target: DataFrame, cfg,
                          g: GlobalConfig) -> None:
    """ma_sat streaming guard: a (parent_hashkey, ldts) group already in
    the target with a different group hashdiff arrived split across
    micro-batches (see micro_batch_loader) — fail loudly instead of
    letting the identity anti-join silently drop the rest."""
    keys = [cfg.parent_hashkey, g.ldts_alias]
    split = (new.select(*keys, cfg.hdiff).distinct()
             .join(target.select(*keys, F.col(cfg.hdiff)
                                 .alias("__t_hd")).distinct(), on=keys)
             .filter(F.col(cfg.hdiff) != F.col("__t_hd")))
    bad = split.limit(1).collect()
    if bad:
        r = bad[0]
        raise ValueError(
            f"{cfg.name}: group ({r[0]}, {r[1]}) arrived split across "
            f"micro-batches (stored group hashdiff differs from this "
            f"batch's) — ma_sat streaming requires whole (hashkey, ldts) "
            f"groups per batch")


def micro_batch_loader(cfg: StreamIngestConfig, store: ParquetStore,
                       g: GlobalConfig = DEFAULT):
    """foreachBatch callback: stage the micro-batch, then run every
    configured entity load (incremental: anti-join vs current target,
    insert-only append).

    Every load passes disable_hwm: file-arrival order is NOT ldts order,
    so the high-water mark would drop late events; the builder's own
    anti-join guarantees insert-only idempotence for hubs, links,
    nh_links and nh_sats (each keyed by its hashkey, so a replay
    inserts nothing).

    sat_v0 per micro-batch: LAG dedup within the batch, then the
    latest-vs-target compare drops an unchanged first row (reference:
    macros/tables/databricks/sat_v0.sql:131-141). That compare alone is
    NOT replay-safe — re-delivering a batch whose rows are already in
    the target would re-insert every row except the last (its first row
    no longer matches the post-batch latest) — so idempotence comes from
    an additional (hashkey, ldts) anti-join: a satellite row's identity
    IS its (parent, load timestamp). Micro-batches must arrive in ldts
    order for LAG semantics to equal the one-shot batch load (the file
    stream's per-file ordering gives this when files are
    time-partitioned).

    ma_sat per micro-batch: the GROUP hashdiff (LISTAGG over the
    multi-active key) is computed within the batch, the
    latest-vs-target compare drops unchanged groups, and the same
    (hk, ldts) anti-join as sat_v0 makes re-delivery a no-op — a
    group's identity is (parent, load timestamp). CONTRACT (stronger
    than sat_v0's ldts ordering): every (parent_hashkey, ldts) group
    must arrive WHOLE in one micro-batch — the group hashdiff is a
    function of all the group's rows, so a split group would store a
    partial hashdiff and the anti-join would silently drop the rest.
    Time-partitioned source files give this for free (a load
    timestamp's rows live in that load's files); _require_whole_groups
    turns a violation into a loud error instead of a silent row loss."""
    # (entity configs, builder, identity keys after the parent hashkey
    # for the replay-safety anti-join; none where the builder's own
    # anti-join already is one)
    loads = ((cfg.hubs, build_hub, ()), (cfg.links, build_link, ()),
             (cfg.nh_links, build_nh_link, ()), (cfg.nh_sats, build_nh_sat, ()),
             (cfg.sats, build_sat_v0, (g.ldts_alias,)),
             (cfg.ma_sats, build_ma_sat_v0, (g.ldts_alias,)))

    def load(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        reg = Registry()
        reg.spark_loaders[cfg.source_name] = lambda _s: batch_df
        staged = build_stage(spark, reg, cfg.stage, g)
        # materialize the stage once per micro-batch: every downstream
        # entity reads it (same pattern as a warehouse staging table)
        staged = staged.localCheckpoint(eager=True)
        reg.spark_loaders[cfg.stage.name] = lambda _s: staged

        for configs, build, identity in loads:
            for ecfg in configs:
                target = (store.read(ecfg.name) if store.exists(ecfg.name)
                          else None)
                new = build(spark, reg, ecfg, g, target=target,
                            disable_hwm=True)
                if build is build_ma_sat_v0 and target is not None:
                    _require_whole_groups(new, target, ecfg, g)
                if identity:
                    new = anti_join_new(new, target,
                                        [ecfg.parent_hashkey, *identity])
                store.append(ecfg.name, new)

    return load


def start_ingest(spark, cfg: StreamIngestConfig, store: ParquetStore,
                 schema, checkpoint_dir: str, g: GlobalConfig = DEFAULT):
    """Start the streaming load over ``cfg.source_dir``; it drains the
    files that have arrived and stops."""
    stream = read_arrivals(spark, cfg.source_dir, schema)
    return start_available_now(
        stream.writeStream.foreachBatch(micro_batch_loader(cfg, store, g)),
        checkpoint_dir)


def windowed_event_counts(events: DataFrame, g: GlobalConfig = DEFAULT,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Native stateful streaming: events per (user, event_type, hour
    window) with a watermark bounding late data and state size.

    Works on both a stream (stateful, incremental emission) and a batch
    DataFrame (plain groupBy) — Spark resolves window() identically.
    """
    # event time must be TIMESTAMP (LTZ): sources written as NTZ
    # (e.g. DuckDB parquet) cast losslessly under the UTC session tz
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:   # watermark is a streaming-only concept
        events = events.withWatermark("ts", watermark)
    return (events
            .groupBy(F.window("ts", window).alias("w"),
                     "user_id", "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "user_id", "event_type", "n_events", "sum_value"))


# ----------------------------------------------- driver-gated entity --
#
# Runs the REAL foreachBatch vault load end-to-end under the driver's
# oracle gate (r11 verdict #1) — the most on-theme of the streaming
# gates: the reference's own entity surface (hub + non-historized
# satellite, macros/tables/hub.sql:7 "multiple deltas per batch") fed
# by an actual checkpointed availableNow stream. The events source is
# staged as n_batches contiguous time-range arrival files, readStream
# delivers them as micro-batch epochs through micro_batch_loader (stage
# -> hub earliest-arrival insert -> nh_sat anti-join insert, state in
# the TARGET tables), and the loaded store folds bundle-style into
# (entity, hk, hd, ldts, rsrc) rows hash-compared against the one-shot
# BATCH hub/nh_sat SQL.
#
# Exactness argument: both loads are idempotent inserts keyed on the
# hashkey, so the stream==batch equality needs only that the FIRST
# micro-batch containing a key holds that key's earliest-ldts row —
# which time-range arrival gives (ldts = a monotone function of ts,
# so min-over-first-batch == global min), and within a batch the
# earliest-arrival window dedup is the batch operator itself. The
# anti-join then makes later re-deliveries no-ops, which is the
# reference's own multi-batch contract under at-least-once streaming.

@dataclass(frozen=True)
class StreamingVaultIngestEntityConfig:
    """Hub + nh_sat configs to load per micro-batch, plus the
    bundle-style folds that shape the driver-checked result. The oracle
    IS operators.bundle.bundle_oracle over the same members, so the
    gate certifies streaming-loaded store tables against the batch
    entities through one hash."""

    name: str
    stage: object                 # StageConfig for the arriving source
    hubs: tuple = ()              # HubConfig, loaded per micro-batch
    nh_sats: tuple = ()           # NhSatConfig
    members: tuple = ()           # operators.bundle.BundleMember folds
    source: str = "events"
    ts_col: str = "ts"
    n_batches: int = 3


def build_streaming_vault_ingest(spark, reg: Registry,
                                 cfg: StreamingVaultIngestEntityConfig,
                                 g: GlobalConfig = DEFAULT) -> DataFrame:
    """Stage -> stream the real vault load -> fold the store tables."""
    from functools import reduce

    from ..operators.bundle import _member_exprs

    ev = reg.load(spark, cfg.source).withColumn(
        cfg.ts_col, F.col(cfg.ts_col).cast("timestamp"))
    stats = _ts_stats(ev, ts_col=cfg.ts_col)
    if stats.cnt == 0:
        return spark.createDataFrame(
            [], "entity string, hk string, hd string, "
                "ldts timestamp, rsrc string")
    _check_ts_stats(stats)

    def load(stream, store):
        ingest = StreamIngestConfig(
            source_dir=store.path(ARRIVALS), source_name=cfg.source,
            stage=cfg.stage, hubs=cfg.hubs, nh_sats=cfg.nh_sats)
        return stream.writeStream.foreachBatch(
            micro_batch_loader(ingest, store, g))

    store = run_arrivals(
        spark, cfg.name,
        _with_time_epoch(ev, stats, cfg.n_batches, ts_col=cfg.ts_col),
        cfg.n_batches, load)
    parts = [store.read(m.entity).selectExpr(*_member_exprs(m, g))
             for m in cfg.members]
    return reduce(lambda a, b: a.unionByName(b), parts)


# ------------------------------------- driver-gated entity (native) --
#
# The SEVENTH driver-gated streaming path, and the only one exercising
# Spark's NATIVE streaming-aggregation engine: watermarked hopping
# windows in APPEND output mode (StateStoreSave with watermark-driven
# eviction). The other six gates run foreachBatch loops or
# applyInPandasWithState; none certifies the built-in stateful
# aggregation operator — the path a production pipeline uses for
# windowed rollups over a stream.
#
# Mechanics: the events source is staged as n_batches contiguous
# time-range arrival files PLUS one far-future sentinel event. Append
# mode only emits a window once the watermark passes its end, so the
# sentinel's arrival advances the watermark beyond every real window
# and flushes them all to the sink; the sentinel's own windows never
# expire and are never emitted (belt-and-braces: the read-back also
# filters to window_start below the sentinel). The oracle is the
# BATCH hopping-window SQL (operators/events.py hopping_agg_oracle) —
# the same epoch-aligned window arithmetic through DuckDB's interval
# algebra, so a green row certifies the native engine's window
# assignment, watermark eviction, and exactly-once emission at value
# level (counts + exact integer cents).
#
# Exactness argument: time-range arrival means event time never goes
# backwards across micro-batch epochs, so the watermark is monotone
# and no real event is ever late (nothing is dropped); integer cents
# sum exactly in any order; append-mode emits each expired window
# exactly once into the parquet sink.

@dataclass(frozen=True)
class StreamingHoppingEntityConfig:
    """Same window geometry as the batch HoppingAggConfig — the oracle
    IS the batch operator's oracle, so the two entities certify
    hopping-window aggregation through both execution engines."""

    name: str
    source: str = "events"
    ts_col: str = "ts"
    group_col: str = "event_type"
    value_col: str = "value"
    width_seconds: int = 3600
    hop_seconds: int = 900
    watermark: str = "2 hours"
    n_batches: int = 3
    sentinel_ts: str = "2200-01-01 00:00:00"   # inside datetime64[ns]


def build_streaming_hopping(spark, reg: Registry,
                            cfg: StreamingHoppingEntityConfig,
                            g: GlobalConfig = DEFAULT) -> DataFrame:
    """Stage -> native watermarked window aggregation (append mode) ->
    read the flushed sink."""
    ev = (reg.load(spark, cfg.source)
          .select(F.col(cfg.ts_col).cast("timestamp").alias("ts"),
                  F.col(cfg.group_col).alias("gcol"),
                  F.col(cfg.value_col).alias("value")))
    out_schema = ("window_start timestamp, window_end timestamp, "
                  f"{cfg.group_col} string, n_events bigint, "
                  "sum_value_cents bigint")
    stats = _ts_stats(ev)   # one probe job: emptiness + bounds + NULLs
    if stats.cnt == 0:
        return spark.createDataFrame([], out_schema)
    _check_ts_stats(stats)
    sentinel = spark.sql(
        f"SELECT TIMESTAMP '{cfg.sentinel_ts}' AS ts, "
        f"'__sentinel__' AS gcol, CAST(0 AS DOUBLE) AS value, "
        f"CAST({cfg.n_batches} AS INT) AS {EPOCH_COL}")

    def windows(stream, store):
        agg = (stream.withWatermark("ts", cfg.watermark)
               .groupBy(F.window("ts", f"{cfg.width_seconds} seconds",
                                 f"{cfg.hop_seconds} seconds").alias("w"),
                        "gcol")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
                    .alias("sum_value_cents"))
               .select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       F.col("gcol").alias(cfg.group_col),
                       "n_events", "sum_value_cents"))
        return (agg.writeStream.format("parquet").outputMode("append")
                .option("path", store.path("windows")))

    store = run_arrivals(
        spark, cfg.name,
        _with_time_epoch(ev, stats, cfg.n_batches).unionByName(sentinel),
        cfg.n_batches + 1, windows,
        state_partitions=_STREAM_SHUFFLE_DEFAULT)
    return (spark.read.parquet(store.path("windows"))
            .filter(F.col("window_start")
                    < F.expr(f"TIMESTAMP '{cfg.sentinel_ts}' "
                             f"- INTERVAL {cfg.width_seconds} SECONDS")))


def streaming_hopping_oracle(b, reg: Registry,
                             cfg: StreamingHoppingEntityConfig,
                             g: GlobalConfig = DEFAULT) -> str:
    """Time-ordered arrival + sentinel flush make the append-mode sink
    equal the batch hopping aggregation (module note), so the batch
    SQL is the oracle."""
    from ..operators.events import HoppingAggConfig, hopping_agg_oracle

    return hopping_agg_oracle(
        b, reg, HoppingAggConfig(
            cfg.name, source=cfg.source, ts_col=cfg.ts_col,
            group_col=cfg.group_col, value_col=cfg.value_col,
            width_seconds=cfg.width_seconds,
            hop_seconds=cfg.hop_seconds), g)
