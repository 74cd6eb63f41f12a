"""Driver-visible incremental replay: two-phase loads through the REAL
incremental code paths, verified against the one-shot full-load oracle.

The external correctness gate only ever sees initial loads (every
``queries()`` entry is a full build), so the reference's
``is_incremental()`` branches — HWM filter + literal injection, probe,
anti-join insert, latest-vs-target compare, eff-sat deactivation
(reference: macros/tables/databricks/hub.sql:44,165-179,234-257,
sat_v0.sql:56-141, eff_sat_v0.sql:211-263) — were pytest-verified only.
This operator closes that gap: for each member entity it

1. builds the INITIAL load from sources truncated at ``cutoff`` and
   materializes it to a ParquetStore (exactly what a first dbt run
   against a partial extract would produce), then
2. builds the INCREMENTAL load from the full sources with the stored
   table as target — the HWM prunes phase-1 rows, the anti-join /
   latest-compare decides inserts — and appends it,

then row-unions the FINAL stored tables as (entity, hk, hd, ldts,
rsrc). Because the deterministic batch ldts split cleanly at the
cutoff, the converged state equals the one-shot full load, so the
DuckDB oracle is each member's ordinary full-load SQL in the same
projection — the driver's hash compare then certifies the incremental
branches end-to-end.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..operators.bundle import (BundleMember, BundleConfig, bundle_oracle,
                                _member_exprs, split_small_union)
from ..plans.sqlbuild import SqlBuilder
from .incremental import ParquetStore, hwm_probe_scope, scratch_store

# The replay result rows use the same (entity, hk, hd, ldts, rsrc)
# projection as the bundle operator — share its member shape and
# oracle generator so the two surfaces cannot drift.
ReplayMember = BundleMember


@dataclass(frozen=True)
class ReplayConfig:
    name: str
    cutoff: str   # 'YYYY-MM-DD HH:MM:SS': phase 1 loads ldts <= cutoff
    members: tuple  # ReplayMember

    def __post_init__(self):
        if not self.members:
            raise ValueError(
                f"replay {self.name}: needs >= 1 member entity")


# One scratch warehouse per replay name — the shared process-lifetime
# registry in plans/incremental.py (member tables are cleared before
# each run; repeated bench/correctness runs must not accumulate a new
# materialized warehouse per call).


def _scratch_store(spark, name: str) -> ParquetStore:
    return scratch_store(spark, name, prefix="dv4dbt_replay")


def _probe_keys(mcfg) -> tuple:
    """Probe keys a member's phase-2 build will request: ``None`` per
    source without rsrc_static (global max_ldts via hwm_filter), the
    pattern string per source with one (hwm_filter_static), nothing for
    entities whose incremental branch never probes (PIT's snapshot
    anti-insert)."""
    sms = getattr(mcfg, "source_models", None)
    if sms is not None:
        return tuple(dict.fromkeys(sm.rsrc_static or None for sm in sms))
    if hasattr(mcfg, "source_model"):
        return (None,)
    return ()


def run_replay(spark, reg: Registry, cfg: ReplayConfig, g: GlobalConfig,
               index: dict, stage_names, snapshot_names=()) -> DataFrame:
    """``index``: fixtures' name -> (cfg, builder, oracle, deps);
    ``stage_names``: entities whose phase-1 output is ldts-truncated;
    ``snapshot_names``: snapshot spines whose phase-1 output is
    sdts-truncated — this is how the PIT member replays the reference's
    snapshot-extension increment (macros/tables/databricks/pit.sql:
    108-114): phase 1 builds the PIT over the truncated spine, phase 2
    sees the full spine and its dimension-key anti-join must insert
    exactly the extension rows.

    Phase 1 materializes as ONE Spark job: the member plans are
    entity-tagged, unioned by name (missing columns null-filled), and
    written ``partitionBy(__entity__)`` into a single staging table —
    the scheduler runs all branches' tasks in parallel instead of
    paying N separate write-job floors (round-6 bench: pooled
    per-member writes floored the phase at ~N x job latency however the
    pool was sized; this is the DAG-scheduler pattern a production
    multi-table batch load uses). Per-entity target reads prune to one
    hive partition directory and select only the member's native
    columns, so the incremental branches still face a REAL parquet
    target (file listing, min-max row-group skipping under the injected
    HWM literal) exactly as a one-table-per-member layout would.

    Phase 2 is NOT appended back to the store: the verified object is
    the insert set the incremental branch computes against that target,
    and store-content-after-append == phase1 UNION inserts by
    construction (insert-only append). Returning that union directly
    lets the caller's single action execute every phase-2 plan once,
    fused with the final projection, instead of paying a second
    write-then-rescan round trip per member.

    Rerunning invalidates DataFrames returned by a PREVIOUS run (their
    scans point at the cleared staging table) — same contract as any
    store overwrite."""
    store = _scratch_store(spark, cfg.name)
    merged = store.path("__merged__")
    shutil.rmtree(merged, ignore_errors=True)

    # phase-1 registry: every stage is truncated to ldts <= cutoff (the
    # end-of-times ghost row rides along so the initial load creates
    # it, as a real partial first extract would) and every snapshot
    # spine to sdts <= cutoff. All OTHER entities are identical in both
    # phases, so their loaders delegate to reg.load — one build/cache
    # shared across phases instead of a duplicate full build per
    # registry (matters for the PIT member, whose phase-1 consumes the
    # full hub + satellites).
    phase1 = Registry(persist_names=set(reg.persist_names))
    for name in reg.spark_loaders:
        phase1.spark_loaders[name] = (
            lambda sp, n=name: reg.load(sp, n))
    # Truncations filter ON TOP of reg.load rather than rebuilding the
    # loader's plan, and every truncatable entity is marked persisted:
    # the two phases consume the same full subtree (phase 1 filtered,
    # phase 2 whole), so ONE materialized stage serves both — the
    # hash/derive compute is not paid twice. (The fixture-level
    # multi-consumed walker cannot see this doubling: it counts config
    # dependencies, not the replay's phase structure.) The original
    # persist set is restored on exit — the marks are replay-internal
    # and must not leak into the caller's registry (round-6 advice);
    # entities WE marked are _invalidate()d first so any copy a load
    # persisted meanwhile is unpersisted, not leaked.
    saved_persist = set(reg.persist_names)
    reg.persist_names.update(
        n for n in (*stage_names, *snapshot_names)
        if n in reg.spark_loaders)
    # Also persist every entity in the members' dependency closure
    # (e.g. the PIT member consumes full hub + satellite builds in BOTH
    # phases): without the mark each consuming plan recomputes the
    # whole subtree. A member appearing as another member's dependency
    # is persisted too — its FULL build (reg.load) is a different plan
    # from its own two-phase staging-table build, so there is no
    # conflict.
    def _deps(name):
        if name not in index:
            return ()
        mcfg, _b, _o, depfn = index[name]
        return depfn(mcfg)

    stack = [d for m in cfg.members for d in _deps(m.entity)]
    walked = set()
    while stack:
        d = stack.pop()
        if d in walked:
            continue
        walked.add(d)
        stack.extend(_deps(d))
        if d in reg.spark_loaders:
            reg.persist_names.add(d)
    cut = (f"{g.ldts_alias} <= TIMESTAMP '{cfg.cutoff}' "
           f"OR {g.ldts_alias} = TIMESTAMP '{g.end_of_all_times}'")
    for s in stage_names:
        phase1.spark_loaders[s] = (
            lambda sp, n=s, c=cut: reg.load(sp, n).filter(c))
    snap_cut = f"{g.sdts_alias} <= TIMESTAMP '{cfg.cutoff}'"
    for s in snapshot_names:
        phase1.spark_loaders[s] = (
            lambda sp, n=s, c=snap_cut: reg.load(sp, n).filter(c))

    # Phase structure: plan CONSTRUCTION still runs under a small pool
    # (builders issue their own driver probes while constructing —
    # eff_sat's load-dates spine, rec_track's per-rsrc probe — and the
    # pool overlaps those scalar jobs), but plan EXECUTION is one
    # entity-tagged union write per phase (docstring above).
    #
    # Phases are explicit barriers so the per-member HWM probes batch:
    # after the phase-1 write, ONE union-of-aggregates job
    # (seed_hwm_probes) computes all members' watermarks; the phase-2
    # builders then consume the cache instead of issuing ~13 driver
    # collects (hub global + static, sat/ma_sat/eff_sat/ref_sat/nh/link
    # hwm, rec_track per-rsrc probes) — same values, one job.
    from concurrent.futures import ThreadPoolExecutor

    targets: dict = {}
    workers = min(4, len(cfg.members))

    def write_phase(plans: dict):
        """plans: entity -> initial-load DataFrame. One tagged-union
        append; each task carries rows of exactly one union branch, so
        the hive-style partitionBy write is a per-task file append, not
        a shuffle."""
        tagged = [df.withColumn("__entity__", F.lit(e))
                  for e, df in plans.items()]
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            tagged)
        out.write.mode("append").partitionBy("__entity__").parquet(merged)

    native_cols: dict = {}
    merged_base: list = []

    def read_slice(entity: str) -> DataFrame:
        # Partition-pruned read (the literal filter prunes to one
        # directory at planning time) + native-column select: the scan
        # lists and reads exactly what a one-table-per-member layout
        # would. Reading the root rather than the subdirectory keeps an
        # all-rows-dropped member (a possible phase-2 state) a valid
        # empty scan instead of a missing path. ONE shared base read —
        # its file-index snapshot is taken once, after the phase-1
        # write and before any phase-2 plan exists, so every slice
        # sees exactly the phase-1 files (the per-call fresh read this
        # replaces paid 13 driver listings + footer schema-inference
        # jobs for the same snapshot).
        if not merged_base:
            merged_base.append(spark.read.parquet(merged))
        return (merged_base[0]
                .filter(F.col("__entity__") == entity)
                .select(*native_cols[entity]))

    def initial(m: ReplayMember):
        mcfg, bld, _orc, _deps = index[m.entity]
        df = bld(spark, phase1, mcfg, g, target=None)
        native_cols[m.entity] = df.columns
        return m.entity, df

    def increment(m: ReplayMember):
        mcfg, bld, _orc, _deps = index[m.entity]
        return m.entity, bld(spark, reg, mcfg, g,
                             target=targets[m.entity])

    # Materialize the persisted shared subtrees ONCE, fully, before the
    # phase-1 union write. ``persist()`` is lazy and Spark's cache does
    # not dedupe IN-FLIGHT computation: the union write job's member
    # branches otherwise race to compute the same cached
    # stage/dependency partitions concurrently, each paying the full
    # hash/derive CPU (measured: phase-1 write 10.5 -> ~6 s warm at
    # sf0.1 with this step on, guide §5 caching + §1.2 "don't compute
    # things twice"). Every materialized entity has >= 2 consumers by
    # construction (its phase-1 branch and its phase-2 increment), so
    # the cache build is never wasted. count() over a persisted frame
    # builds the full InMemoryRelation (pruning applies above the
    # cache, not inside it).
    #
    # r13: the materialization OVERLAPS initial plan construction
    # instead of following it (guide §2.6 — construction is driver-side
    # py4j/analysis work, the cache builds are cluster jobs; running
    # them sequentially left the executors idle for the whole
    # construct phase). The shared set is known upfront: the members'
    # dependency closure (``walked``) intersected with the persist
    # marks — exactly the entities the old post-construction pass found
    # in _df_cache, since builders load precisely their declared deps.
    # Registry.load's per-name build locks keep each subtree built
    # exactly once whichever side requests it first; the futures
    # barrier before write_phase preserves the invariant that nothing
    # is still in flight when the union write starts.
    shared_names = sorted(
        n for n in walked
        if n in reg.spark_loaders and n in reg.persist_names)
    mat_pool = None
    mat_futs = []

    try:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            if shared_names:
                mat_pool = ThreadPoolExecutor(
                    max_workers=min(8, len(shared_names)))
                mat_futs = [
                    mat_pool.submit(
                        lambda n=n: reg.load(spark, n).count())
                    for n in shared_names]
            plans = dict(pool.map(initial, cfg.members))
            for f in mat_futs:
                f.result()
            write_phase(plans)
            targets = {m.entity: read_slice(m.entity)
                       for m in cfg.members}
            # HWM/probe literals are baked into the phase-2 plans at
            # CONSTRUCTION time (hwm_filter/max_ldts collect-or-cache,
            # then inject), so the plans stay valid after the scope
            # clears the probe cache on exit (success or failure —
            # the scope makes the seed/clear pairing unseparable,
            # round-7 advice).
            with hwm_probe_scope(
                    targets,
                    {m.entity: keys for m in cfg.members
                     if (keys := _probe_keys(index[m.entity][0]))}, g):
                inserts = dict(pool.map(increment, cfg.members))
    except BaseException:
        # a failed build must not leak marks or cached copies into the
        # caller's registry (round-6 advice)
        for n in reg.persist_names - saved_persist:
            reg._invalidate(n)
        reg.persist_names.intersection_update(saved_persist)
        raise
    finally:
        if mat_pool is not None:
            # success: all futures already resolved (barrier above);
            # failure: cancel what never started, don't block on the
            # rest — their exceptions stay in the dropped futures
            mat_pool.shutdown(wait=False, cancel_futures=True)
    # On SUCCESS the replay-added persist marks and their cached
    # subtrees stay alive deliberately: the returned union embeds the
    # phase-2 insert plans, which the CALLER executes — unpersisting
    # here would make that single action recompute every shared
    # stage/dependency subtree once per member branch (the round-6
    # advice about restoring marks concerned failed builds and
    # registries that outlive the result; the caches belong to this
    # registry's entries and are released by _invalidate on
    # redefinition or by the session's cache clearing).
    finals = [targets[m.entity].unionByName(inserts[m.entity])
              .selectExpr(*_member_exprs(m, g))
              for m in cfg.members]
    # Small-vault union split (operators/bundle.py): each branch's
    # lineage carries the insert plans plus the cached-subtree recovery
    # plans, so a one-stage 13-branch union ships all of them to every
    # task.
    return split_small_union(reg, finals)


def replay_oracle(b: SqlBuilder, reg: Registry, cfg: ReplayConfig,
                  g: GlobalConfig = DEFAULT) -> str:
    """Full-load oracle in the replay projection — members' initial-load
    CTEs must already be in ``b`` (resolved as dependencies). Delegates
    to the bundle oracle: identical projection, one implementation."""
    return bundle_oracle(b, reg, BundleConfig(cfg.name, cfg.members), g)
