"""Global engine configuration + model registry.

Mirrors the reference package's global variables (reference:
dbt_project.yml:17-85) — technical column aliases, hash settings,
ghost-record sentinels, replacement tokens — as one frozen dataclass,
and replaces dbt's ``ref()``/``source()`` resolution with an explicit
model registry (name -> DataFrame / DuckDB relation name).

Execution tuning is left to Spark (AQE, plan statistics) and to the
size witnesses the engine measures itself; the engine reads exactly
one session conf of its own:

=========================================  ==================================
Setting                                    Why a deployment sets it
=========================================  ==================================
``spark.dv4dbt.stream.shufflePartitions``  AQE cannot size state-store
                                           partitions inside stateful
                                           micro-batches, so a cluster sets
                                           the state layout up front (e.g.
                                           2000 at 1000 executors; default
                                           4, or 16 for the
                                           ``applyInPandasWithState`` gates)
=========================================  ==================================

``tests/test_conf_surface.py`` holds this table to the code: a new
``spark.dv4dbt.*`` key or environment read fails it until documented
here.
"""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass, field


def ensure_identifier(name: str, what: str, owner: str) -> None:
    """Portability-contract guard shared by every config that
    interpolates a column name into BOTH dialects' SQL text: only
    plain identifiers pass, so a quote/space/backslash cannot produce
    broken or dialect-divergent SQL (one implementation — operators
    must not drift on the injection contract)."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(
            f"{owner}: {what} {name!r} must be a plain identifier — "
            f"it is interpolated into both dialects' SQL")


# Zero-key values per hash algorithm (reference:
# macros/supporting/hash_default_values.sql:14-26).
_HASH_DEFAULTS = {
    "MD5": ("00000000000000000000000000000000", "ffffffffffffffffffffffffffffffff"),
    "SHA1": ("0" * 40, "f" * 40),
    "SHA": ("0" * 40, "f" * 40),
    "SHA256": ("0" * 64, "f" * 64),
    "SHA2": ("0" * 64, "f" * 64),
}


@dataclass(frozen=True)
class GlobalConfig:
    """Engine-wide defaults (reference: dbt_project.yml:17-85)."""

    # Technical column aliases (dbt_project.yml:17-26)
    ldts_alias: str = "ldts"
    rsrc_alias: str = "rsrc"
    ledts_alias: str = "ledts"
    snapshot_trigger_column: str = "is_active"
    sdts_alias: str = "sdts"
    stg_alias: str = "stg"
    deleted_flag_alias: str = "deleted_flag"
    is_current_col_alias: str = "IS_CURRENT"

    # Hashing (dbt_project.yml:28-43)
    hash: str = "MD5"
    hash_datatype: str = "STRING"
    hashkey_input_case_sensitive: bool = False
    hashdiff_input_case_sensitive: bool = True
    concat_string: str = "||"
    quote_character: str = '"'
    null_placeholder_string: str = "^^"
    concat_string_replacement: str = "dv4dbt-concat-replacement"
    quote_character_replacement: str = "dv4dbt-quote-replacement"
    null_placeholder_string_replacement: str = "dv4dbt-null-replacement"
    use_trim: bool = True
    hashdiff_use_trim: bool = True
    hashdiff_use_rtrim: bool = False
    # Case-insensitive fold applied to hashkey inputs (reference:
    # macros/supporting/hash.sql:494-500 uses UPPER).
    #   "ascii": a-z -> A-Z via TRANSLATE; identical in every engine, so
    #            Spark and any oracle produce the same hashkey for
    #            non-ASCII keys ('ß', 'münchen') — but those keys differ
    #            from a vault produced by the reference on engines whose
    #            UPPER folds them ('ß' -> 'SS' on Databricks/Java).
    #   "upper": the reference's UPPER, byte-compatible with upstream
    #            databricks vaults; cross-engine parity then depends on
    #            each engine's Unicode case table (Java UPPER('ß')='SS',
    #            DuckDB 'ẞ'), so the DuckDB oracle diverges on such keys.
    # Pick "upper" when migrating an existing reference-built vault.
    hash_case_fold: str = "ascii"

    # Ghost-record sentinels, databricks dialect (dbt_project.yml:58-67).
    # The reference default is 0001-01-01 00:00:01 / 8888-12-31 23:59:59.
    # Our defaults sit inside pandas' datetime64[ns] window (~1677-2262)
    # because every Arrow/pandas consumer of a vault table (including the
    # correctness harness) converts timestamps through ns precision and
    # raises OutOfBoundsDatetime on the reference values. The sentinels
    # are config — a deployment on engines without the ns constraint can
    # set the reference literals; hash parity for those exact literals is
    # pinned by tests/test_hashing_edges.py.
    beginning_of_all_times: str = "1700-01-01 00:00:01"
    end_of_all_times: str = "2261-12-31 23:59:59"
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss"
    beginning_of_all_times_date: str = "1700-01-01"
    end_of_all_times_date: str = "2261-12-31"
    date_format: str = "yyyy-MM-dd"
    default_unknown_rsrc: str = "SYSTEM"
    default_error_rsrc: str = "ERROR"
    unknown_value_string: str = "(unknown)"
    error_value_string: str = "(error)"
    unknown_value_numeric: int = -1
    error_value_numeric: int = -2

    # Snapshot calendar (dbt_project.yml:55)
    first_day_of_week: str = "monday"

    def __post_init__(self):
        # A typo here ("UPPER", "unicode") would silently fall through to
        # the ASCII fold and produce non-reference-compatible hashkeys
        # for an entire vault — fail loudly instead.
        if self.hash_case_fold not in ("ascii", "upper"):
            raise ValueError(
                f"hash_case_fold must be 'ascii' or 'upper', "
                f"got {self.hash_case_fold!r}")
        if self.hash.upper() not in _HASH_DEFAULTS:
            raise ValueError(f"unsupported hash algorithm {self.hash!r}")
        if self.hash_datatype.upper() not in ("STRING", "VARCHAR",
                                              "BINARY", "VARBINARY",
                                              "BLOB"):
            raise ValueError(
                f"unsupported hash_datatype {self.hash_datatype!r} — "
                f"STRING (databricks dialect) or BINARY/VARBINARY "
                f"(fabric/sqlserver dialects)")

    @property
    def hash_is_binary(self) -> bool:
        """True for the fabric/sqlserver-style VARBINARY hash layout
        (reference: macros/supporting/hash.sql:396,678); the default
        STRING follows the authoritative databricks dialect."""
        return self.hash_datatype.upper() in ("BINARY", "VARBINARY",
                                              "BLOB")

    @property
    def unknown_key(self) -> str:
        return _HASH_DEFAULTS[self.hash.upper()][0]

    @property
    def error_key(self) -> str:
        return _HASH_DEFAULTS[self.hash.upper()][1]

    @property
    def hash_alg_spark(self) -> str:
        """SQL function template for the hash algorithm (Spark side)."""
        return {"MD5": "MD5({x})", "SHA1": "SHA1({x})", "SHA": "SHA1({x})",
                "SHA256": "SHA2({x}, 256)", "SHA2": "SHA2({x}, 256)"}[self.hash.upper()]

    @property
    def hash_alg_duckdb(self) -> str:
        return {"MD5": "MD5({x})", "SHA1": "SHA1({x})", "SHA": "SHA1({x})",
                "SHA256": "SHA256({x})", "SHA2": "SHA256({x})"}[self.hash.upper()]


DEFAULT = GlobalConfig()

# Byte-parity knobs for vaults migrated FROM a reference deployment:
# the reference's ghost sentinels (dbt_project.yml:58-67) and its UPPER
# case fold (macros/supporting/hash.sql:494-500). Our shipped defaults
# differ deliberately (pandas/Arrow ns-window-safe sentinels, engine-
# portable ASCII fold — see field comments above); a vault whose hashes
# were produced by the reference must set BOTH knobs or every hashkey
# and ghost record diverges. Usage: GlobalConfig(**REFERENCE_PARITY),
# optionally merged with further overrides. Hash parity for these exact
# literals is pinned by tests/test_hashing_edges.py.
REFERENCE_PARITY = {
    "beginning_of_all_times": "0001-01-01 00:00:01",
    "end_of_all_times": "8888-12-31 23:59:59",
    "beginning_of_all_times_date": "0001-01-01",
    "end_of_all_times_date": "8888-12-31",
    "hash_case_fold": "upper",
}


@dataclass
class Registry:
    """Model registry replacing dbt ref()/source().

    ``spark_loaders``: name -> callable(spark) -> DataFrame.
    ``duckdb_relations``: name -> SQL relation text (table name or
    ``read_parquet('...')``) used when generating oracle SQL.
    """

    spark_loaders: dict = field(default_factory=dict)
    duckdb_relations: dict = field(default_factory=dict)
    # entity names whose DataFrame is cache()d on first load: Spark does
    # NOT dedupe shared plan subtrees, so an entity consumed by several
    # branches of one query (a stage under hub+sats+PIT) would otherwise
    # be recomputed once per branch. Caching is the DataFrame-world
    # equivalent of a materialized staging table.
    persist_names: set = field(default_factory=set)
    # summed by register_parquet; 0 = scale unknown
    source_bytes: int = 0
    # per-name contribution to source_bytes (re-registration replaces)
    _source_bytes_by_name: dict = field(default_factory=dict)
    # name -> path of each register_parquet source: run_pipeline's
    # input key stamps its files. A register() loader has no entry, so
    # what it reads is unknown to the key.
    source_paths: dict = field(default_factory=dict)
    _df_cache: dict = field(default_factory=dict)
    # loads may race when a DAG scheduler builds entities from threads
    # (plans/replay.py, operators/bundle.py): without the lock two
    # threads can build-and-persist the same shared subtree, leaking a
    # duplicate cached copy
    _lock: object = field(default_factory=threading.RLock)
    # per-name build locks: a store-backed loader RUNS JOBS against its
    # per-entity scratch path during construction, so two threads
    # duplicating one build would race the same store directory — each
    # name is built by exactly one thread, later threads get the cache
    _name_locks: dict = field(default_factory=dict)

    def register_parquet(self, name: str, path: str, duckdb_relation: str | None = None):
        self._invalidate(name)
        self.spark_loaders[name] = \
            lambda spark, p=path: _read_source_parquet(spark, p)
        self.duckdb_relations[name] = duckdb_relation or name
        self.source_paths[name] = path
        # Scale witness for size-gated plan choices (bundle union
        # split): total on-disk bytes of the registered sources. Local
        # paths only — a non-stat-able path leaves the total unchanged
        # and the gates treat 0 as "scale unknown, assume large".
        # Tracked per name so re-registering replaces rather than
        # double-counts (r12 advice: an inflated witness could wrongly
        # disable the union-split gate).
        nbytes = 0
        try:
            if os.path.isdir(path):
                nbytes = sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _d, fs in os.walk(path) for f in fs)
            else:
                nbytes = os.path.getsize(path)
        except OSError:
            pass
        self.source_bytes += nbytes - self._source_bytes_by_name.get(name, 0)
        self._source_bytes_by_name[name] = nbytes

    def register(self, name: str, loader, duckdb_sql: str):
        """loader: callable(spark) -> DataFrame; duckdb_sql: a full SELECT
        (will be inlined as a CTE body) or bare relation name."""
        self._invalidate(name)
        self.spark_loaders[name] = loader
        self.duckdb_relations[name] = duckdb_sql
        self.source_paths.pop(name, None)

    def _invalidate(self, name: str):
        """Drop a cached plan when its definition changes: a cached scan
        snapshots the file listing, so after an overwrite it would point
        at deleted files (and a persisted one at stale blocks)."""
        df = self._df_cache.pop(name, None)
        if df is not None and name in self.persist_names:
            try:
                df.unpersist()
            except Exception:
                pass

    def invalidate_all(self):
        for name in list(self._df_cache):
            self._invalidate(name)

    def load(self, spark, name: str):
        df = self._df_cache.get(name)
        if df is not None:
            return df
        # Build under a PER-NAME lock, not the registry lock: loaders
        # recurse into load() for their dependencies (and a top-level
        # load may fan out worker threads that need this registry —
        # holding the global lock through a build would self-deadlock),
        # but one name must be built by exactly ONE thread: store-backed
        # loaders execute jobs against a per-entity scratch path during
        # construction, which a duplicated concurrent build would race.
        # The dependency graph is a DAG and builders never re-request
        # their own name, so cross-name waits cannot cycle.
        with self._lock:
            name_lock = self._name_locks.setdefault(name, threading.RLock())
        with name_lock:
            df = self._df_cache.get(name)
            if df is not None:
                return df
            df = self.spark_loaders[name](spark)
            with self._lock:
                if name not in self._df_cache:
                    if name in self.persist_names:
                        df = df.persist()  # MEMORY_AND_DISK; LRU-evicted
                    self._df_cache[name] = df
                return self._df_cache[name]

    def duckdb_relation(self, name: str) -> str:
        return self.duckdb_relations[name]


# Process-lifetime schema cache for registered SOURCE parquet files
# (store tables go through ParquetStore and never ride this path).
# Schema inference lists the path and reads a footer on EVERY
# spark.read.parquet call — ~100 ms of driver latency paid once per
# registry instantiation per source, i.e. once per declared query per
# bench trial. The schema of an immutable file is metadata, not a
# result: caching it skips only the re-inference, every query still
# computes from the parquet bytes. Keyed on (path, mtime, size) so a
# rewritten file re-infers instead of silently reading NULLs through a
# stale schema (r12 advice); a directory path keys on the directory's
# own stat, which changes whenever files are added/replaced.
_PARQUET_SCHEMAS: dict = {}

# (shuffle-partition conf, analyzed-plan semanticHash) ->
# scan partition count per session, memoizing the plan->RDD probe in
# ensure_min_parallelism. Held in a WeakKeyDictionary keyed on the
# SparkSession object (r12 advice: id(spark) can be reused after GC,
# and the dict must not outlive the session); the shuffle-partition
# conf is part of the key because scoped_stream_shuffle mutates it
# mid-session and a shuffle-bearing plan's partition count depends on
# it.
import weakref as _weakref

_RDD_NPART_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _path_stamp(path: str):
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, None, None)


def _read_source_parquet(spark, path: str):
    key = _path_stamp(path)
    sch = _PARQUET_SCHEMAS.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


# The driver's raw testdata tables (TESTDATA.md) -> their DuckDB
# relation: the driver pre-registers each table as a view of that name
# (events.ts is cast as testdata_registry describes).
TESTDATA_DUCKDB = {
    **{t: t for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "documents", "embeddings")},
    "events": "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)",
}


def testdata_registry(sf_dir: str) -> Registry:
    """Registry over the driver's parquet testdata (TESTDATA.md)."""
    reg = Registry()
    for t, rel in TESTDATA_DUCKDB.items():
        if t != "events":
            reg.register_parquet(t, f"{sf_dir}/{t}.parquet", rel)

    # events.ts is parquet TIMESTAMP(NANOS): Spark reads it as LONG nanos
    # (requires spark.sql.legacy.parquet.nanosAsLong=true) -> truncate to
    # microseconds with integer division; DuckDB's TIMESTAMP_NS->TIMESTAMP
    # cast truncates identically (probe-verified).
    def _events(spark, p=f"{sf_dir}/events.parquet"):
        from pyspark.sql import functions as F
        df = _read_source_parquet(spark, p)
        if dict(df.dtypes)["ts"] in ("bigint", "long"):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df

    reg.register("events", _events, TESTDATA_DUCKDB["events"])
    return reg


# Session options the engine relies on: UTC session time, AQE, and
# parquet TIMESTAMP(NANOS) read as LONG (events.ts).
SESSION_CONFS = (("spark.sql.session.timeZone", "UTC"),
                 ("spark.sql.adaptive.enabled", "true"),
                 ("spark.sql.legacy.parquet.nanosAsLong", "true"))


def configure_session_builder(builder):
    """``SESSION_CONFS`` on a SparkSession builder."""
    for k, v in SESSION_CONFS:
        builder = builder.config(k, v)
    return builder


# Estimated input bytes below which ensure_min_parallelism skips the
# repartition: the serial CPU work costs less than the round-robin
# exchange itself.
MIN_PARALLELISM_BYTES = 1024 * 1024


def ensure_min_parallelism(df):
    """Round-robin repartition IFF the plan's scan parallelism is below
    the session's core count.

    Exists because hash/signature computation is CPU-bound: a source
    parquet written as one row group yields ONE non-empty scan task no
    matter how many byte-range splits Spark makes, serializing all MD5
    work. On a real cluster a 100 TB table scan has thousands of row
    groups and this is a no-op (npart >= cores); locally it corrects the
    single-row-group testdata artifact for ~1.7s of shuffle.

    Streaming DataFrames are returned unchanged (no RDD to probe;
    micro-batches re-enter here as batch frames via foreachBatch).

    Size gate: below ``MIN_PARALLELISM_BYTES`` of estimated input the
    repartition is skipped. The estimate comes from catalyst plan stats
    (driver-side leaf-file bytes) and is checked BEFORE the much
    costlier plan->RDD partition probe, so small-source builds pay
    neither.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes().toString())
        if size < MIN_PARALLELISM_BYTES:
            return df
    except Exception:
        pass  # stats unavailable -> fall through to the RDD probe
    target = spark.sparkContext.defaultParallelism
    # The plan->RDD conversion behind .rdd is pure driver latency
    # (~100-300 ms per build) and its partition count is a
    # deterministic function of (plan, session confs): memoize it per
    # (session, semantic plan hash) so repeated builds of the same
    # entity across queries/trials pay one conversion per session.
    try:
        layout_confs = (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.files.maxPartitionBytes", None))
        per_session = _RDD_NPART_CACHE.setdefault(spark, {})
        key = (layout_confs,
               df._jdf.queryExecution().analyzed().semanticHash())
        npart = per_session.get(key)
        if npart is None:
            npart = df.rdd.getNumPartitions()
            per_session[key] = npart
    except Exception:
        npart = df.rdd.getNumPartitions()
    if npart < target:
        return df.repartition(target)
    return df
