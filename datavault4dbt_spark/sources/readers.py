"""Source registration: files/tables -> model registry entries.

The reference owns no I/O — dbt's ``ref()``/``source()`` resolve
relations and the warehouse reads them (SURVEY §2.3 Scan/source). In
this engine the :class:`~..context.Registry` plays that role; this
module provides the batch readers that populate it from storage:
parquet/csv/json/orc (Delta when the runtime has delta-spark installed
— gated import, not required).

Scale notes: readers pass schemas explicitly where known (no inference
scan), push options straight to the DataSource (so Catalyst pushdown /
partition pruning work), and leave partition discovery to Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..context import Registry


_BATCH_FORMATS = {"parquet", "csv", "json", "orc", "delta"}


@dataclass(frozen=True)
class SourceConfig:
    name: str
    path: str
    format: str = "parquet"
    schema: str | None = None          # DDL string, e.g. "id BIGINT, v STRING"
    options: tuple = ()                # (("header", "true"), ...)
    duckdb_relation: str | None = None  # oracle-side SQL, when applicable


def _delta_available(spark) -> bool:
    try:
        spark._jvm.io.delta.tables.DeltaTable  # noqa: B018 — probe
        return True
    except Exception:
        return False


def read_source(spark, cfg: SourceConfig):
    if cfg.format not in _BATCH_FORMATS:
        raise ValueError(f"unsupported source format: {cfg.format}")
    if cfg.format == "delta" and not _delta_available(spark):
        raise RuntimeError("delta-spark is not installed in this runtime")
    r = spark.read.format(cfg.format)
    if cfg.schema:
        r = r.schema(cfg.schema)
    for k, v in cfg.options:
        r = r.option(k, v)
    return r.load(cfg.path)


def register_sources(reg: Registry, configs) -> Registry:
    for cfg in configs:
        reg.register(
            cfg.name,
            (lambda spark, c=cfg: read_source(spark, c)),
            cfg.duckdb_relation or cfg.name)
    return reg


# ---------------------------------------------- round-trip entity --

@dataclass(frozen=True)
class SourceRoundtripConfig:
    """Driver-gated verification of a non-parquet source path: stage
    the source's rows to ``format`` in a scratch directory
    (distributed write), read them back through :func:`read_source`
    with an explicit schema, and return the rows — the oracle reads
    the ORIGINAL table, so a green hash certifies the write+read
    round-trip is lossless for the declared columns.

    ``cols`` must round-trip exactly in the format's text encoding:
    integers and strings do; timestamps are excluded by contract
    (Spark's csv/json writers emit millisecond precision — micros
    would be silently truncated and fail the gate, correctly) and
    doubles by the engine's portability convention. ``orc`` is the
    binary columnar twin (every type round-trips; the entity keeps the
    shared column contract so all three certify the same rows).
    """

    name: str
    source: str = "events"
    format: str = "json"               # 'json' (lines) or 'csv'
    cols: tuple = ("event_id", "user_id", "event_type", "props")

    def __post_init__(self):
        if self.format not in ("json", "csv", "orc"):
            raise ValueError(f"{self.name}: round-trip format must be "
                             f"json|csv|orc (parquet is the native path)")
        if not self.cols:
            raise ValueError(f"{self.name}: cols must be non-empty")


def build_source_roundtrip(spark, reg: Registry,
                           cfg: SourceRoundtripConfig, g=None):
    from ..plans.incremental import scratch_store

    src = reg.load(spark, cfg.source).select(*cfg.cols)
    store = scratch_store(spark, cfg.name, prefix="dv4dbt_source")
    path = store.path(cfg.format)
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields)
    w = src.write.format(cfg.format).mode("overwrite")
    if cfg.format == "csv":
        # header off: the explicit schema names the columns; quoting
        # defaults handle embedded commas/quotes (the props JSON)
        w = w.option("header", "false")
    w.save(path)
    out = read_source(spark, SourceConfig(
        name=f"{cfg.name}__rt", path=path, format=cfg.format,
        schema=schema_ddl,
        options=(("header", "false"),) if cfg.format == "csv" else ()))
    return out.select(*cfg.cols)


def source_roundtrip_oracle(b, reg: Registry,
                            cfg: SourceRoundtripConfig, g=None) -> str:
    src = reg.duckdb_relation(cfg.source)
    return b.cte(cfg.name,
                 f"SELECT {', '.join(cfg.cols)} FROM {src}")


# ------------------------------------- partitioned-layout round-trip --

@dataclass(frozen=True)
class PartitionedRoundtripConfig:
    """Driver-gated verification of the partitioned-layout path: stage
    the source partitionBy(``partition_col``) as parquet in scratch
    (the hive-style directory layout every data lake uses for
    coarse-grained pruning), read it back with a filter on ONE
    partition value, and return the rows — the oracle filters the
    ORIGINAL table, so a green hash certifies that (a) the partitioned
    write places every row in the right directory and (b) the read
    path prunes to exactly that partition without losing or
    duplicating rows.

    At 100 TB this is the layout decision that matters most: a filter
    on the partition column becomes a directory listing instead of a
    full scan (PartitionFilters in the plan, zero data read from other
    partitions — pinned in tests/test_plan_quality.py).

    ``partition_col`` values must be directory-name-safe (no
    escaping surface in the oracle): plain identifiers-ish strings.
    """

    name: str
    source: str = "documents"
    partition_col: str = "lang"
    select_value: str = "en"
    cols: tuple = ("doc_id", "text", "source", "n_chars")

    def __post_init__(self):
        if not self.cols:
            raise ValueError(f"{self.name}: cols must be non-empty")
        if self.partition_col in self.cols:
            raise ValueError(f"{self.name}: partition_col is emitted "
                             f"separately, keep it out of cols")
        if "'" in self.select_value:
            raise ValueError(f"{self.name}: select_value must not "
                             f"contain quotes")


def build_partitioned_roundtrip(spark, reg: Registry,
                                cfg: PartitionedRoundtripConfig, g=None):
    from ..plans.incremental import scratch_store

    pcol = cfg.partition_col
    src = reg.load(spark, cfg.source).select(*cfg.cols, pcol)
    store = scratch_store(spark, cfg.name, prefix="dv4dbt_partitioned")
    path = store.path("parquet")
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    (src.write.mode("overwrite").partitionBy(pcol).parquet(path))
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields)
    out = (spark.read.schema(schema_ddl).parquet(path)
           .filter(f"{pcol} = '{cfg.select_value}'"))
    return out.select(*cfg.cols, pcol)


def partitioned_roundtrip_oracle(b, reg: Registry,
                                 cfg: PartitionedRoundtripConfig,
                                 g=None) -> str:
    src = reg.duckdb_relation(cfg.source)
    cols = ", ".join(cfg.cols + (cfg.partition_col,))
    return b.cte(cfg.name,
                 f"SELECT {cols} FROM {src} "
                 f"WHERE {cfg.partition_col} = '{cfg.select_value}'")
