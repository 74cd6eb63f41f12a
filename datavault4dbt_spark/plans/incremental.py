"""Insert-only incremental loading: HWM pruning + anti-join appends.

Re-implements the reference's incremental pattern (reference:
macros/tables/databricks/hub.sql:165-179 HWM; 248-257 anti-join;
sat_v0.sql:56-62) as engine logic: the high-water mark is collected as
one driver-side scalar and injected as a literal filter, which lets the
parquet/Delta scan do min-max skipping at 100 TB scale; new records are
appended insert-only (no MERGE/UPDATE anywhere).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT


# ---- Batched HWM probes ------------------------------------------------
# A DAG pass loading many entities at once (plans/replay.py) pays one
# driver collect per hwm_filter[_static] call — N tiny jobs whose
# scheduling floor dominates at fixture scale and which contend on the
# driver when members load concurrently. Every probe is an aggregation
# over an already-stored target table, so they can all ride in ONE
# union-of-aggregates job: seed_hwm_probes() runs it and caches the
# per-target results; max_ldts / hwm_filter_static consult the cache
# when handed the SAME DataFrame object that was seeded. The cache is
# keyed by id() and holds a strong reference to the DataFrame so the id
# cannot be recycled; callers clear their entries with
# clear_hwm_probes() when the load pass ends.

_HWM_PROBES: dict = {}
_GLOBAL_PROBE = "__global__"


@contextmanager
def hwm_probe_scope(targets: dict, specs: dict,
                    g: GlobalConfig = DEFAULT):
    """Seed the probe cache for one load pass and GUARANTEE the clear.

    The cache holds strong DataFrame references (so ids cannot be
    recycled); a seed without a paired clear leaks those plans for the
    process lifetime (round-7 advice). This scope makes the pairing
    unseparable — use it instead of calling seed/clear by hand::

        with hwm_probe_scope(targets, specs):
            ... construct phase-2 plans (probes served from cache) ...
    """
    seed_hwm_probes(targets, specs, g)
    try:
        yield
    finally:
        clear_hwm_probes(targets.values())


def seed_hwm_probes(targets: dict, specs: dict,
                    g: GlobalConfig = DEFAULT) -> None:
    """Precompute HWM probes for many targets in ONE Spark job.

    MUST be paired with ``clear_hwm_probes(targets.values())`` — the
    cache strongly references every target DataFrame and outlives the
    load pass otherwise; prefer ``hwm_probe_scope``, which cannot be
    mis-paired.

    ``targets``: entity -> target DataFrame (the exact object later
    passed to the builders); ``specs``: entity -> iterable of probe
    keys, where ``None`` requests the global ``max_ldts`` probe and a
    string requests the ``hwm_filter_static`` probe for that
    rsrc_static pattern. Each probe row carries (count, ghost-excluded
    max) so one shape serves both consumers.
    """
    from functools import reduce

    eot = F.to_timestamp(F.lit(g.end_of_all_times))
    parts, wanted = [], []
    for entity, keys in specs.items():
        t = targets[entity]
        for k in dict.fromkeys(keys):
            scoped = t if k is None else t.filter(
                F.col(g.rsrc_alias).like(k))
            parts.append(scoped.agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.when(F.col(g.ldts_alias) != eot,
                             F.col(g.ldts_alias))).alias("m"))
                .select(F.lit(len(wanted)).alias("i"), "n", "m"))
            wanted.append((entity, k))
    if not parts:
        return
    rows = {r["i"]: r for r in
            reduce(lambda a, b: a.unionByName(b), parts).collect()}
    for i, (entity, k) in enumerate(wanted):
        t = targets[entity]
        key = _GLOBAL_PROBE if k is None else k
        _HWM_PROBES.setdefault(id(t), (t, {}))[1][key] = (
            rows[i]["n"], rows[i]["m"])


def clear_hwm_probes(targets) -> None:
    """Drop cached probes for the given target DataFrames."""
    for t in targets:
        _HWM_PROBES.pop(id(t), None)


def _cached_probe(target: DataFrame, key: str):
    hit = _HWM_PROBES.get(id(target))
    if hit is not None and hit[0] is target:
        return hit[1].get(key)
    return None


def max_ldts(target: DataFrame, g: GlobalConfig = DEFAULT,
             coalesce_to_beginning: bool = False):
    """MAX(ldts) in target excluding the end-of-times ghost row.

    Driver-side action replacing the reference's compile-time
    ``run_query`` probe (reference: hub.sql:173-179). Served from the
    seed_hwm_probes cache (no job) when the caller pre-batched.
    """
    cached = _cached_probe(target, _GLOBAL_PROBE)
    if cached is not None:
        agg = cached[1]
    else:
        eot = F.to_timestamp(F.lit(g.end_of_all_times))
        agg = target.filter(F.col(g.ldts_alias) != eot).agg(
            F.max(g.ldts_alias).alias("m")).collect()[0]["m"]
    if agg is None and coalesce_to_beginning:
        import datetime
        return datetime.datetime.fromisoformat(g.beginning_of_all_times)
    return agg


def hwm_filter(src: DataFrame, target: DataFrame | None,
               g: GlobalConfig = DEFAULT) -> DataFrame:
    """Keep only source rows newer than the target's high-water mark."""
    if target is None:
        return src
    m = max_ldts(target, g)
    if m is None:
        return src
    return src.filter(F.col(g.ldts_alias) > F.lit(m))


def hwm_filter_static(src: DataFrame, target: DataFrame | None,
                      rsrc_static: str, g: GlobalConfig = DEFAULT) -> DataFrame:
    """Per-source high-water mark for multi-source entities (reference:
    macros/tables/databricks/hub.sql:44-131): the HWM is computed over
    target rows whose rsrc matches this source's static pattern, after
    a probe decides whether the source has EVER loaded (a brand-new
    source must not be filtered by other sources' watermarks). The
    compile-time ``run_query`` probe becomes a driver-side action —
    ONE action: the exists-probe count and the ghost-excluded max ride
    in the same aggregation (an N-source entity pays N probe jobs per
    load, not 2N; round-6, replay wall-clock). Served from the
    seed_hwm_probes cache (no job) when the caller pre-batched."""
    if target is None:
        return src
    cached = _cached_probe(target, rsrc_static)
    if cached is not None:
        n, m = cached
    else:
        eot = F.to_timestamp(F.lit(g.end_of_all_times))
        row = (target.filter(F.col(g.rsrc_alias).like(rsrc_static))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.max(F.when(F.col(g.ldts_alias) != eot,
                                 F.col(g.ldts_alias))).alias("m"))
               .collect()[0])
        n, m = row["n"], row["m"]
    if not n:                         # source not yet in target
        return src
    if m is None:                     # only ghost rows so far
        return src
    return src.filter(F.col(g.ldts_alias) > F.lit(m))


def first_per_key(df: DataFrame, keys, order_sql: str,
                  cols: tuple = ()) -> DataFrame:
    """The first row per ``keys`` tuple in ``order_sql`` order (the
    reference's ``QUALIFY ROW_NUMBER() ... = 1``), projected to ``cols``
    when given. The window rides as SQL text in one selectExpr: one py4j
    round trip instead of Window/Column objects, same plan (guide §5)."""
    out = (df.selectExpr(
               "*", f"ROW_NUMBER() OVER (PARTITION BY {', '.join(keys)} "
               f"ORDER BY {order_sql}) AS __rn")
           .filter("__rn = 1"))
    return out.selectExpr(*cols) if cols else out.drop("__rn")


def anti_join_new(candidates: DataFrame, target: DataFrame | None,
                  keys: list) -> DataFrame:
    """records_to_insert: candidates whose key is absent from target.

    Hash keys are never NULL post-staging, so LEFT ANTI JOIN is exactly
    the reference's NOT IN (reference: hub.sql:248-257; SURVEY §2.3).
    """
    if target is None:
        return candidates
    return candidates.join(target.select(*keys).distinct(), on=keys, how="left_anti")


def file_stamps(path: str, data_only: bool = False):
    """Sorted ``(relpath, size, mtime_ns, ctime_ns, ino)`` of every file
    under ``path`` (of ``path`` itself when it is a file), or None when
    it cannot be stat'ed. ``data_only`` skips what Spark's file reader
    skips: names starting with ``_`` or ``.`` (``_SUCCESS``, checksum
    files, the store's key file)."""
    import os

    def stamp(p, rel):
        st = os.stat(p)
        return (rel, st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino)

    hidden = ("_", ".")
    try:
        if not os.path.isdir(path):
            return (stamp(path, ""),)
        out = []
        for base, dirs, files in os.walk(path):
            if data_only:
                dirs[:] = [d for d in dirs if not d.startswith(hidden)]
                files = [f for f in files if not f.startswith(hidden)]
            for f in files:
                p = os.path.join(base, f)
                out.append(stamp(p, os.path.relpath(p, path)))
        return tuple(sorted(out))
    except OSError:
        return None


def listing_token(path: str) -> str | None:
    """sha256 of the data-file stamps under ``path``; None if absent."""
    import hashlib

    stamps = file_stamps(path, data_only=True)
    return (None if stamps is None
            else hashlib.sha256(repr(stamps).encode()).hexdigest())


class StoreRecoveryNeeded(RuntimeError):
    """A store table is in `overwrite`'s crash window (final missing,
    committed copy parked under the `__old` marker). Reads refuse to
    self-heal — recovery is a WRITE, and a reader racing a concurrent
    healthy overwrite could otherwise restore the old copy over the
    in-flight swap or drop the writer's staging data (round-6 advice).
    Call ``store.repair(name)`` from the owning writer (or rerun the
    overwrite); a reader that hits this DURING a live swap can simply
    retry — the window is two metadata renames wide."""


class ParquetStore:
    """Minimal insert-only table store over a directory of parquet tables.

    Stands in for Delta in this container (delta-spark is not baked in);
    the write pattern (append of records_to_insert) is identical.
    ``plans.delta.DeltaStore`` implements this same interface over
    Delta Lake transactions (``make_store`` picks at runtime).
    """

    # delete_where cannot report rows deleted without extra scans here;
    # DeltaStore flips this and returns the commit's numDeletedRows.
    DELETE_RETURNS_METRICS = False
    # run_pipeline's input key, one file per table directory, written
    # after each successful write. Spark's reader skips '_' files, and
    # overwrite's directory swap drops it together with the old copy.
    KEY_FILE = "_input_key.json"

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        # Known-schema reads (guide §5, driver latency): every
        # spark.read.parquet pays a driver-side file listing + footer
        # schema inference (~50-150 ms), and the store LOOPS re-read
        # their tables once per version/batch. A table this instance
        # itself wrote UNPARTITIONED has exactly the written schema on
        # read-back (same columns, same order), so the write records it
        # and read() passes it explicitly, skipping the inference.
        # Hive-partitioned writes are excluded: read-back schema order
        # differs (partition column moves last) and the partition
        # column's type is directory-inferred — those keep full
        # inference. Any partitioned write drops the memo for safety.
        self._known_schemas: dict = {}

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        """Read-only: no filesystem mutation on the read path (see
        StoreRecoveryNeeded). Raises rather than answering False in the
        crash window — False here would silently demote an incremental
        load to an initial load and discard the table's history."""
        import os
        self._check_recovered(name)
        return os.path.isdir(self.path(name))

    def _check_recovered(self, name: str):
        import os
        final = self.path(name)
        if not os.path.isdir(final) and os.path.isdir(final + ".__old__"):
            raise StoreRecoveryNeeded(
                f"{final} missing with committed copy in .__old__ — "
                f"call repair({name!r}) or rerun the overwrite")

    def repair(self, name: str):
        """Explicit crash recovery for `overwrite`'s two-rename swap: if
        a crash landed between rename(final -> old) and rename(tmp ->
        final), the committed copy survives as `.__old__` — restore it.
        A leftover `.__tmp__` (crash mid-write or pre-swap) is
        discarded: the swap never started, so `final`/`old` still hold
        the data. Only writers call this (overwrite() self-heals);
        read()/exists() never mutate (round-6 advice)."""
        import os
        import shutil

        final = self.path(name)
        old = final + ".__old__"
        if not os.path.isdir(final) and os.path.isdir(old):
            os.rename(old, final)
        shutil.rmtree(final + ".__tmp__", ignore_errors=True)

    def listing(self, name: str) -> str | None:
        """Token of the table's committed data files (None when there is
        no table): any write that lands or removes a file changes it."""
        return listing_token(self.path(name))

    def recorded_key(self, name: str) -> str | None:
        """The input key recorded at the table's last write, or None
        when there is none or a write has changed the table since (the
        record carries the listing it was written against)."""
        import json
        import os

        try:
            with open(os.path.join(self.path(name), self.KEY_FILE)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            return None
        return rec["key"] if rec["listing"] == self.listing(name) else None

    def record_key(self, name: str, key: str | None):
        """Record ``key`` against the table's current listing; None
        drops any recorded key."""
        import json
        import os

        path = os.path.join(self.path(name), self.KEY_FILE)
        if key is None:
            if os.path.exists(path):
                os.remove(path)
            return
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"key": key, "listing": self.listing(name)}, f)
        os.replace(tmp, path)

    def read(self, name: str) -> DataFrame:
        self._check_recovered(name)
        sch = self._known_schemas.get(name)
        if sch is not None:
            # schema only — the scan still lists files fresh, so data
            # added since the memo was recorded is always visible
            return self.spark.read.schema(sch).parquet(self.path(name))
        return self.spark.read.parquet(self.path(name))

    def append(self, name: str, df: DataFrame, partition_by: tuple = ()):
        """Insert-only append; with ``partition_by`` the table is laid
        out hive-style (col=value directories), which turns
        partition-predicate deletes into metadata-only directory drops
        (`drop_partitions`) — the parquet analogue of Delta's
        partition-pruned DELETE. PITs partitioned by sdts make
        `clean_up_pit` a pure metadata operation at any scale.

        Raises StoreRecoveryNeeded in the overwrite crash window: an
        unchecked append there would create a fresh table holding only
        the new rows, which MASKS the recovery state (the final path
        exists again) and permanently strands the committed history in
        `.__old__` — repair() restores only while final is missing.

        An append to a table that already holds data files lands no
        zero-row file: those the write left are deleted (found from the
        new files' parquet footers, no Spark job), so an append of
        nothing leaves the table's file set, and its ``listing``, as it
        was. A first write keeps its schema-carrying file."""
        self._check_recovered(name)
        before = file_stamps(self.path(name), data_only=True) or ()
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
            self._known_schemas.pop(name, None)
        w.parquet(self.path(name))
        if not partition_by:
            self._known_schemas.setdefault(name, df.schema)
        if before:
            self._drop_empty_files(name, {s[0] for s in before})

    def _drop_empty_files(self, name: str, before: set):
        import os

        import pyarrow.parquet as pq

        root = self.path(name)
        for rel, *_ in file_stamps(root, data_only=True) or ():
            p = os.path.join(root, rel)
            if (rel in before or not rel.endswith(".parquet")
                    or pq.ParquetFile(p).metadata.num_rows):
                continue
            base, fn = os.path.split(p)
            os.remove(p)
            crc = os.path.join(base, f".{fn}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            if base != root and not os.listdir(base):
                os.rmdir(base)              # an emptied hive partition

    def partitions(self, name: str, col: str) -> dict:
        """Hive-style partition values present for ``col`` — read from
        directory names only (no data scan). Returns {decoded_value:
        directory_name}; empty if the table is not partitioned by col."""
        import os
        import urllib.parse

        out = {}
        root = self.path(name)
        if not os.path.isdir(root):
            return out
        prefix = f"{col}="
        for d in os.listdir(root):
            if d.startswith(prefix) and os.path.isdir(os.path.join(root, d)):
                out[urllib.parse.unquote(d[len(prefix):])] = d
        return out

    def has_flat_files(self, name: str) -> bool:
        """True if the table root contains data files OUTSIDE hive
        partition directories (mixed layout: some appends partitioned,
        some not). Partition-level operations are unsafe then — rows in
        the flat files would be silently missed."""
        import os

        root = self.path(name)
        if not os.path.isdir(root):
            return False
        return any(
            f.endswith(".parquet") and os.path.isfile(os.path.join(root, f))
            for f in os.listdir(root))

    def partition_row_count(self, name: str, dirs) -> int:
        """Row count of the given partition DIRECTORIES from parquet
        footer metadata only (pyarrow reads the footer, never row data)
        — O(#files) driver-side metadata reads, no scan. This is how the
        clean_up_pit fast path reports deleted rows on a 100 TB PIT
        without ever reading it."""
        import os

        import pyarrow.parquet as pq

        total = 0
        for d in dirs:
            pdir = os.path.join(self.path(name), d)
            for base, _subdirs, files in os.walk(pdir):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(base, f)).metadata.num_rows
        return total

    def drop_partitions(self, name: str, col: str, values) -> int:
        """Targeted DELETE of whole partitions (reference:
        clean_up_pits.sql:128-137 warehouse DELETE; Delta: partition-
        predicate delete). Removes the matching ``col=value``
        directories — metadata-only, no data is read or rewritten.
        ``values`` are compared against the DECODED partition strings.
        Returns the number of partitions dropped."""
        import os
        import shutil

        want = {str(v) for v in values}
        dropped = 0
        for decoded, d in self.partitions(name, col).items():
            if decoded in want:
                shutil.rmtree(os.path.join(self.path(name), d))
                dropped += 1
        return dropped

    def overwrite(self, name: str, df: DataFrame, partition_by: tuple = ()):
        """Read-modify-write safe overwrite: the plan may READ the path
        being replaced, so write distributed to a sibling temp dir and
        swap directories (never collect() to the driver — with Delta
        this whole method is a transactional overwrite). The two-rename
        swap is NOT atomic: a crash between the renames leaves `final`
        missing with the committed copy in `.__old__`; the next
        overwrite (or an explicit `repair`) restores it, so no window
        loses committed data — the worst case is redoing the overwrite.
        Readers surface the state as StoreRecoveryNeeded instead of
        healing it themselves (read path stays mutation-free).
        This swap is the store's single crash-recovery protocol —
        `compact` funnels through here rather than reimplementing it."""
        import os
        import shutil

        self.repair(name)   # writers self-heal any prior crash state
        final = self.path(name)
        tmp = final + ".__tmp__"
        shutil.rmtree(tmp, ignore_errors=True)
        w = df.write.mode("overwrite")
        # drop the memo up front (a failed write must leave no stale
        # schema behind); record the new one only after the swap lands
        self._known_schemas.pop(name, None)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        old = final + ".__old__"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)
        if not partition_by:
            self._known_schemas[name] = df.schema

    def compact(self, name: str, partition_by: tuple = ()) -> int:
        """Rewrite the table to right-sized files — the maintenance step
        micro-batch appends make necessary (every foreachBatch append
        lands one file set; a day of 1-minute triggers is ~1440 small
        files whose open/footer cost dominates scans at 100 TB).

        No explicit coalesce: the parquet reader bin-packs small files
        into `spark.sql.files.maxPartitionBytes`-sized splits, so
        read-then-overwrite naturally emits consolidated files while
        staying fully distributed. ``partition_by`` preserves a
        hive layout (compaction happens within each partition).
        Returns the resulting file count. DeltaStore overrides with
        OPTIMIZE."""
        import os

        self.overwrite(name, self.read(name), partition_by=partition_by)
        return self._count_parquet_files(name)

    def _count_parquet_files(self, name: str) -> int:
        import os
        return sum(1 for _base, _d, files in os.walk(self.path(name))
                   for f in files if f.endswith(".parquet"))

    def cluster(self, name: str, order_by: tuple, n_files: int = 0,
                partition_by: tuple = ()) -> int:
        """Range-cluster the table's file layout on ``order_by``: rewrite
        with repartitionByRange + sortWithinPartitions so each output
        file covers a narrow, non-overlapping key range. Parquet footer
        min/max stats then prune WHOLE FILES for selective predicates on
        those keys — the open-format analogue of Delta's OPTIMIZE
        ZORDER for prefix-ordered keys, and the layout step that makes
        100 TB point/range lookups read megabytes instead of the table.

        Fully distributed: one range shuffle (sampled boundaries) + a
        per-partition sort, funneled through ``overwrite``'s swap
        protocol. ``n_files`` sizes the layout (0 = the session's
        shuffle parallelism); ``partition_by`` preserves a hive layout
        (clustering applies within each partition directory). Returns
        the resulting file count."""
        if not order_by:
            raise ValueError("cluster() needs at least one order_by col")
        df = self.read(name)
        df = (df.repartitionByRange(n_files, *order_by) if n_files
              else df.repartitionByRange(*order_by))
        df = df.sortWithinPartitions(*order_by)
        self.overwrite(name, df, partition_by=partition_by)
        return self._count_parquet_files(name)

    def delete_where(self, name: str, condition) -> int | None:
        """DELETE FROM name WHERE condition (reference:
        macros/hooks/clean_up_pits.sql:128-137 uses warehouse DELETE;
        DeltaStore overrides this with a native DeltaTable.delete).

        SQL DELETE removes only rows where the condition is TRUE; rows
        where it evaluates to NULL are KEPT. A bare ``~condition`` would
        instead drop them (NULL negates to NULL, filter drops), so the
        condition is coalesced to FALSE before negating.

        Returns rows deleted when the backend can report it without
        extra scans (``DELETE_RETURNS_METRICS``), else None — callers
        needing a count on this store must count around the call."""
        keep = ~F.coalesce(condition, F.lit(False))
        df = self.read(name).filter(keep)
        self.overwrite(name, df)
        return None


# ------------------------------------------------------- scratch stores --
#
# Entities that materialize through a store round-trip (the replay
# loads, the incremental-dedup index loop, the streaming twin's driver
# entry) need a scratch warehouse whose lifetime OUTLIVES the builder
# call: the returned DataFrame lazily scans the store, so the directory
# must survive until the caller's action runs. One directory per key,
# reused across invocations (each run clears its own tables) and
# removed at process exit — the single registry below replaces the
# per-module `_SCRATCH_DIRS` globals that used to live in
# plans/replay.py and llm/incdedup.py (round-8 advice #6).

_SCRATCH_ROOTS: dict = {}


def scratch_store(spark, key: str, prefix: str = "dv4dbt_scratch") -> ParquetStore:
    """ParquetStore over a per-key temp directory with process lifetime.

    The directory is created on first use, REUSED on every later call
    with the same key (callers clear the tables they own per run —
    repeated bench/correctness invocations must not accumulate a new
    warehouse per call), and deleted at interpreter exit. Do NOT use
    for data that must survive the process; that is what a real
    warehouse root is for."""
    import atexit
    import shutil
    import tempfile

    root = _SCRATCH_ROOTS.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix=f"{prefix}_{key}_")
        _SCRATCH_ROOTS[key] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return ParquetStore(spark, root)


# -------------------------------------------------- write clustering --


def rebalance_for_write(df: DataFrame, *cols: str) -> DataFrame:
    """Cluster a frame for a (possibly hive-partitioned) store write
    with AQE-sized output partitions (guide §6: output file sizing).

    A store append inherits the producing plan's task layout, so a
    32-task plan writing a hive-partitioned table emits up to
    tasks x partition-values tiny files — which every later read-back
    (the store loops re-read their tables per batch) then pays for
    file-by-file in listings and footer reads. The REBALANCE hint is
    the scale-adaptive fix: under AQE the exchange is coalesced AND
    split to ``spark.sql.adaptive.advisoryPartitionSizeInBytes``-sized
    outputs, so a census-sized batch collapses to one file per
    partition value while a 100 TB batch still fans out to many
    advisory-sized files per value (unlike ``repartition(col)``, which
    would pin one task per value at any scale)."""
    from pyspark.sql import functions as F

    if cols:
        return df.hint("rebalance", *[F.col(c) for c in cols])
    return df.hint("rebalance")
