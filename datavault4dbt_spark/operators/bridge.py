"""Bridge table operator: link-traversal companion to the PIT.

Data Vault 2.0 bridge tables (Linstedt & Olschimke, "Building a
Scalable Data Warehouse with Data Vault 2.0", ch. 7.2) materialize the
link paths outward from a base hub per snapshot date, so BI joins read
one flat "highway" row instead of re-walking hub->link->hub chains.
The reference has no bridge macro — its snapshot-query surface stops at
the PIT (macros/tables/pit.sql:14-140) — so this operator extends the
same machinery (snapshot spine broadcast, interval-join state
resolution, hash surrogate key, anti-insert increment) to the link
traversal the PIT deliberately does not do.

Semantics per active snapshot ``sdts`` and base-hub row:

- a leg's link row participates iff it was loaded by then
  (``link.ldts <= sdts``) — links are insert-only, one row per link
  hashkey, so existence is a pure filter;
- with an effectivity satellite on the leg, the link's LATEST eff
  state at ``sdts`` must be active (``is_active``); a link whose
  first eff record arrives after ``sdts`` is NOT yet effective — the
  gate is authoritative, mirroring eff_sat_v0's driving-key semantics
  (reference macros/tables/databricks/eff_sat_v0.sql:211-263);
- legs join INNER: the bridge holds complete paths only (ghost-key
  paths survive exactly when every leg's ghost row matches — no
  special-casing, both engines run the identical joins).

``bridge_key`` = hash(base hk, every leg's exposed hk, sdts) — the
row-grain surrogate (a multi-valued leg yields one row per path, so
the base hk alone is not a key).

Scale notes: the snapshot spine is tiny -> broadcast (same as PIT);
each leg join is an equi-join on the hashkey with the ldts/BETWEEN
residual applied post-match — no cartesian. The eff-sat end-dating
window partitions by link hashkey (uniform). Incremental loads
anti-join on bridge_key against the target, so snapshot extensions
insert only the new sdts rows (reference pit.sql:108-114 pattern).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..functions.hashing import HashSpec, hash_expr_sql, SPARK, DUCKDB
from ..plans.sqlbuild import SqlBuilder
from .sat import end_dating_sql


@dataclass(frozen=True)
class BridgeLeg:
    link_entity: str      # link registry name
    link_hk: str          # the link's own hashkey column
    from_hk: str          # link column matching the previous level's hk
    to_hk: str            # link column exposed (and traversed from next)
    eff_sat: str = ""     # optional effectivity satellite registry name
    eff_active_col: str = "is_active"


@dataclass(frozen=True)
class BridgeConfig:
    name: str
    base_entity: str          # hub registry name
    base_hk: str
    snapshot_relation: str    # control_snap registry name
    legs: tuple               # BridgeLeg, traversal order
    bridge_key: str = "bridge_key"
    snapshot_trigger_column: str | None = None

    def __post_init__(self):
        if not self.legs:
            raise ValueError(f"bridge {self.name}: needs >= 1 leg")
        exposed = [self.base_hk] + [leg.to_hk for leg in self.legs]
        if len(set(exposed)) != len(exposed):
            raise ValueError(
                f"bridge {self.name}: exposed hk columns must be "
                f"distinct, got {exposed}")
        hop = self.base_hk
        for leg in self.legs:
            if leg.from_hk != hop:
                raise ValueError(
                    f"bridge {self.name}: leg {leg.link_entity} "
                    f"traverses from {leg.from_hk!r} but the previous "
                    f"level exposes {hop!r}")
            hop = leg.to_hk


def _key_spec(cfg: BridgeConfig, g: GlobalConfig,
              prefix: dict | None = None) -> HashSpec:
    p = prefix or {}
    cols = [p.get(cfg.base_hk, "") + cfg.base_hk]
    cols += [p.get(leg.to_hk, "") + leg.to_hk for leg in cfg.legs]
    cols += [p.get(g.sdts_alias, "") + g.sdts_alias]
    return HashSpec(cfg.bridge_key, tuple(cols))


def build_bridge(spark, reg: Registry, cfg: BridgeConfig,
                 g: GlobalConfig = DEFAULT,
                 target: DataFrame | None = None) -> DataFrame:
    base = reg.load(spark, cfg.base_entity).select(cfg.base_hk)
    snap = reg.load(spark, cfg.snapshot_relation)
    if cfg.snapshot_trigger_column:
        snap = snap.filter(F.col(cfg.snapshot_trigger_column))
    snap = snap.select(g.sdts_alias)
    out = base.crossJoin(F.broadcast(snap))

    # string projections: one py4j round trip each instead of a Column
    # object per field (guide §5); the end-dating window rides inside
    # the same selectExpr (identical expression to the former
    # lead/coalesce Column chain)
    for i, leg in enumerate(cfg.legs):
        lk = reg.load(spark, leg.link_entity).selectExpr(
            f"{leg.link_hk} AS __lhk_{i}",
            f"{leg.from_hk} AS __from_{i}",
            leg.to_hk,
            f"{g.ldts_alias} AS __ldts_{i}")
        frm = cfg.base_hk if i == 0 else cfg.legs[i - 1].to_hk
        out = out.join(
            lk, (out[frm] == lk[f"__from_{i}"])
            & (lk[f"__ldts_{i}"] <= out[g.sdts_alias]))
        if leg.eff_sat:
            eff = reg.load(spark, leg.eff_sat).selectExpr(
                f"{leg.link_hk} AS __ehk_{i}",
                f"{g.ldts_alias} AS __eldts_{i}",
                f"{end_dating_sql((leg.link_hk,), g)} AS __eledts_{i}",
                f"{leg.eff_active_col} AS __eact_{i}")
            out = (out.join(
                eff, (out[f"__lhk_{i}"] == eff[f"__ehk_{i}"])
                & (out[g.sdts_alias] >= eff[f"__eldts_{i}"])
                & (out[g.sdts_alias] <= eff[f"__eledts_{i}"]))
                .filter(f"__eact_{i}"))

    sel = [cfg.base_hk] + [leg.to_hk for leg in cfg.legs] + [g.sdts_alias]
    result = out.selectExpr(*sel).selectExpr(
        f"{hash_expr_sql(_key_spec(cfg, g), g, SPARK, alias=False)} "
        f"AS {cfg.bridge_key}", "*")
    if target is not None:
        result = result.join(
            target.select(cfg.bridge_key).distinct(),
            on=cfg.bridge_key, how="left_anti")
    return result


def bridge_oracle(b: SqlBuilder, reg: Registry, cfg: BridgeConfig,
                  g: GlobalConfig = DEFAULT) -> str:
    base_rel = reg.duckdb_relation(cfg.base_entity)
    snap_rel = reg.duckdb_relation(cfg.snapshot_relation)
    eot = f"CAST('{g.end_of_all_times}' AS TIMESTAMP)"

    trig = (f"WHERE {cfg.snapshot_trigger_column}"
            if cfg.snapshot_trigger_column else "")
    snap = b.cte(f"{cfg.name}__snap",
                 f"SELECT {g.sdts_alias} FROM {snap_rel} {trig}")

    joins = []
    for i, leg in enumerate(cfg.legs):
        rel = reg.duckdb_relation(leg.link_entity)
        frm = (f"base.{cfg.base_hk}" if i == 0
               else f"l{i - 1}.{cfg.legs[i - 1].to_hk}")
        joins.append(
            f"JOIN {rel} AS l{i} ON l{i}.{leg.from_hk} = {frm} "
            f"AND l{i}.{g.ldts_alias} <= snap.{g.sdts_alias}")
        if leg.eff_sat:
            eff_rel = reg.duckdb_relation(leg.eff_sat)
            ed = b.cte(
                f"{cfg.name}__eff_{i}",
                f"SELECT {leg.link_hk}, {g.ldts_alias}, "
                f"{leg.eff_active_col}, "
                f"COALESCE(LEAD({g.ldts_alias} - INTERVAL 1 MICROSECOND) "
                f"OVER (PARTITION BY {leg.link_hk} "
                f"ORDER BY {g.ldts_alias}), {eot}) AS {g.ledts_alias} "
                f"FROM {eff_rel}")
            joins.append(
                f"JOIN {ed} AS e{i} ON e{i}.{leg.link_hk} = "
                f"l{i}.{leg.link_hk} AND snap.{g.sdts_alias} BETWEEN "
                f"e{i}.{g.ldts_alias} AND e{i}.{g.ledts_alias} "
                f"AND e{i}.{leg.eff_active_col}")

    prefix = {cfg.base_hk: "base.", g.sdts_alias: "snap."}
    for i, leg in enumerate(cfg.legs):
        prefix[leg.to_hk] = f"l{i}."
    key = hash_expr_sql(_key_spec(cfg, g, prefix), g, DUCKDB, alias=False)
    sel = ([f"{key} AS {cfg.bridge_key}", f"base.{cfg.base_hk}"]
           + [f"l{i}.{leg.to_hk}" for i, leg in enumerate(cfg.legs)]
           + [f"snap.{g.sdts_alias}"])
    return b.cte(
        cfg.name,
        f"SELECT {', '.join(sel)} FROM {base_rel} AS base "
        f"CROSS JOIN {snap} AS snap " + " ".join(joins))
