"""Multi-active satellite: v0 (group-level delta detection) and v1
(end-dating applied per load, joined back to all active rows).

ma_sat_v0 — reference: macros/tables/ma_sat_v0.sql:13 /
macros/tables/databricks/ma_sat_v0.sql:38-123: the stage already
computed the group hashdiff over the active set (LISTAGG ordered by the
multi-active key), so delta detection LAGs on the distinct
(hk, ldts, hashdiff) level and joins survivors back to all rows.

ma_sat_v1 — reference: macros/tables/ma_sat_v1.sql:12 /
macros/tables/databricks/ma_sat_v1.sql:30-83: DISTINCT (hk, ldts) ->
LEAD end-dating -> equi-join back.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from ..plans.incremental import hwm_filter, first_per_key
from .sat import end_dating_sql, with_is_current


@dataclass(frozen=True)
class MaSatConfig:
    name: str
    source_model: str
    parent_hashkey: str
    src_hashdiff: str
    src_ma_key: tuple
    payload: tuple = ()
    source_is_single_batch: bool = False

    @property
    def hdiff(self) -> str:
        return self.src_hashdiff


def build_ma_sat_v0(spark, reg: Registry, cfg: MaSatConfig, g: GlobalConfig = DEFAULT,
                    target: DataFrame | None = None, disable_hwm: bool = False) -> DataFrame:
    cols = [cfg.parent_hashkey, cfg.hdiff, *cfg.src_ma_key,
            g.rsrc_alias, g.ldts_alias, *cfg.payload]
    # one string projection = one py4j round trip (guide §5)
    src = reg.load(spark, cfg.source_model).selectExpr(*cols)
    if target is not None and not disable_hwm:
        src = hwm_filter(src, target, g)

    out = src
    if not cfg.source_is_single_batch:
        # LAG on the distinct (hk, ldts, hashdiff) level, then keep all
        # rows of surviving (hk, ldts, hashdiff) groups.
        lvl = src.selectExpr(cfg.parent_hashkey, g.ldts_alias,
                             cfg.hdiff).distinct()
        # window as SQL text in one selectExpr (guide §5, same plan)
        lag = (f"LAG({cfg.hdiff}) OVER (PARTITION BY "
               f"{cfg.parent_hashkey} ORDER BY {g.ldts_alias})")
        keep = (lvl.selectExpr(
                    "*", f"({lag} IS NULL OR {cfg.hdiff} != {lag}) "
                    f"AS __keep")
                .filter("__keep")
                .selectExpr(cfg.parent_hashkey, g.ldts_alias, cfg.hdiff))
        out = src.join(keep, on=[cfg.parent_hashkey, g.ldts_alias, cfg.hdiff],
                       how="inner")

    if target is None:
        return out
    # Reference parity note: this anti-join excludes EVERY delta group
    # whose (hk, group hashdiff) equals the target's latest — including
    # a later reversion group in the same multi-batch delta (A..B..A
    # drops the second A). That is exactly the reference's behavior
    # (ma_sat_v0.sql records_to_insert NOT EXISTS has no rn=1
    # restriction, unlike sat_v0.sql:83 / ref_sat_v0.sql:135-145 which
    # compare only the first delta row); kept bug-for-bug so a migrated
    # vault loads identically.
    # latest-window restricted to batch hashkeys (reference
    # performance_filter semi-join — see operators/sat.py note): keys
    # absent from the delta cannot match the anti-join anyway
    batch_keys = out.select(cfg.parent_hashkey).distinct()
    latest = first_per_key(
        target.selectExpr(cfg.parent_hashkey, cfg.hdiff, g.ldts_alias)
        .join(batch_keys, on=cfg.parent_hashkey, how="left_semi"),
        (cfg.parent_hashkey,), f"{g.ldts_alias} DESC",
        (cfg.parent_hashkey, cfg.hdiff))
    return out.join(latest, on=[cfg.parent_hashkey, cfg.hdiff], how="left_anti")


def ma_sat_v0_oracle(b: SqlBuilder, reg: Registry, cfg: MaSatConfig,
                     g: GlobalConfig = DEFAULT) -> str:
    cols = [cfg.parent_hashkey, cfg.hdiff, *cfg.src_ma_key,
            g.rsrc_alias, g.ldts_alias, *cfg.payload]
    src = b.cte(f"{cfg.name}__source",
                f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(cfg.source_model)}")
    if cfg.source_is_single_batch:
        return b.cte(cfg.name, f"SELECT * FROM {src}")
    lvl = b.cte(f"{cfg.name}__deduped_hd", f"""SELECT {cfg.parent_hashkey}, {g.ldts_alias}, {cfg.hdiff}
FROM (SELECT DISTINCT {cfg.parent_hashkey}, {g.ldts_alias}, {cfg.hdiff} FROM {src})
QUALIFY CASE WHEN {cfg.hdiff} = LAG({cfg.hdiff}) OVER
  (PARTITION BY {cfg.parent_hashkey} ORDER BY {g.ldts_alias}) THEN FALSE ELSE TRUE END""")
    return b.cte(cfg.name, f"""SELECT s.* FROM {src} s
INNER JOIN {lvl} d ON s.{cfg.parent_hashkey} = d.{cfg.parent_hashkey}
  AND s.{g.ldts_alias} = d.{g.ldts_alias} AND s.{cfg.hdiff} = d.{cfg.hdiff}""")


@dataclass(frozen=True)
class MaSatV1Config:
    name: str
    ma_sat_v0: str
    hashkey: str
    hashdiff: str
    src_ma_key: tuple
    payload: tuple = ()
    add_is_current_flag: bool = False


def build_ma_sat_v1(spark, reg: Registry, cfg: MaSatV1Config,
                    g: GlobalConfig = DEFAULT) -> DataFrame:
    src = reg.load(spark, cfg.ma_sat_v0)
    # end-dating on the DISTINCT (hk, ldts) level as SQL text in one
    # selectExpr (guide §5, same plan as the Window/Column form)
    end_dated = src.select(cfg.hashkey, g.ldts_alias).distinct().selectExpr(
        "*", f"{end_dating_sql((cfg.hashkey,), g)} AS {g.ledts_alias}")
    out = src.join(end_dated, on=[cfg.hashkey, g.ldts_alias],
                   how="left").selectExpr(
        cfg.hashkey, cfg.hashdiff, g.rsrc_alias, g.ldts_alias,
        g.ledts_alias, *cfg.src_ma_key, *cfg.payload)
    return with_is_current(out, g) if cfg.add_is_current_flag else out


def ma_sat_v1_oracle(b: SqlBuilder, reg: Registry, cfg: MaSatV1Config,
                     g: GlobalConfig = DEFAULT) -> str:
    rel = reg.duckdb_relation(cfg.ma_sat_v0)
    eot = f"CAST('{g.end_of_all_times}' AS TIMESTAMP)"
    loads = b.cte(f"{cfg.name}__loads",
                  f"SELECT DISTINCT {cfg.hashkey}, {g.ldts_alias} FROM {rel}")
    edl = b.cte(f"{cfg.name}__end_dated", f"""SELECT {cfg.hashkey}, {g.ldts_alias},
COALESCE(LEAD({g.ldts_alias} - INTERVAL 1 MICROSECOND) OVER
  (PARTITION BY {cfg.hashkey} ORDER BY {g.ldts_alias}), {eot}) AS {g.ledts_alias}
FROM {loads}""")
    extra = ("," + ", ".join([*cfg.src_ma_key, *cfg.payload])
             ) if (cfg.src_ma_key or cfg.payload) else ""
    cur = (f", (edl.{g.ledts_alias} = {eot}) AS {g.is_current_col_alias}"
           if cfg.add_is_current_flag else "")
    extra_src = "".join(f", src.{c}" for c in [*cfg.src_ma_key, *cfg.payload])
    return b.cte(cfg.name, f"""SELECT src.{cfg.hashkey}, src.{cfg.hashdiff}, src.{g.rsrc_alias},
src.{g.ldts_alias}, edl.{g.ledts_alias}{extra_src}{cur}
FROM {rel} src LEFT JOIN {edl} edl
  ON src.{cfg.hashkey} = edl.{cfg.hashkey} AND src.{g.ldts_alias} = edl.{g.ldts_alias}""")
