"""Effectivity (status-tracking) satellite: drives is_active 0/1 per
tracked hashkey.

Reference: macros/tables/eff_sat_v0.sql:1 /
macros/tables/databricks/eff_sat_v0.sql:36-340 — the hardest operator:

multi-batch: hashkeys x load_dates history (cross join, >= first
appearance, 106-115) -> presence LEFT JOIN (122-140) -> LAG status
dedup (145-163); single-batch: activate absent-or-inactive keys
(175-199); incremental (both modes): deactivate disappeared keys at the
delta's min ldts (211-263); final NOT-EXISTS on (hk, ldts) (330-337).

Scale: the history cross join is |distinct hk| x |batches| — batches
are few (one per load), so this is a broadcast of the tiny load_dates
spine, not a quadratic blowup.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from ..plans.incremental import hwm_filter, first_per_key


@dataclass(frozen=True)
class EffSatConfig:
    name: str
    source_model: str
    tracked_hashkey: str
    source_is_single_batch: bool = False


def _source(spark, reg, cfg, g, target, disable_hwm):
    # one string projection + one string filter = two py4j round trips
    # (guide §5); CAST('ts' AS TIMESTAMP) == to_timestamp(lit) here
    src = reg.load(spark, cfg.source_model).selectExpr(
        cfg.tracked_hashkey, g.ldts_alias, g.rsrc_alias).filter(
        f"{g.ldts_alias} != CAST('{g.beginning_of_all_times}' AS TIMESTAMP)"
        f" AND {g.ldts_alias} != "
        f"CAST('{g.end_of_all_times}' AS TIMESTAMP)")
    if target is not None and not disable_hwm:
        src = hwm_filter(src, target, g)
    return src


def build_eff_sat_v0(spark, reg: Registry, cfg: EffSatConfig,
                     g: GlobalConfig = DEFAULT, target: DataFrame | None = None,
                     disable_hwm: bool = False) -> DataFrame:
    hk, ldts, rsrc = cfg.tracked_hashkey, g.ldts_alias, g.rsrc_alias
    act = g.snapshot_trigger_column  # 'is_active'
    src = _source(spark, reg, cfg, g, target, disable_hwm)

    current = None
    if target is not None:
        current = first_per_key(target, (hk,), f"{ldts} DESC",
                                (hk, act, rsrc))

    if not cfg.source_is_single_batch:
        hashkeys = src.groupBy(hk).agg(F.min(ldts).alias("__first"))
        load_dates = src.select(ldts).distinct()
        # string projections/filters: one py4j round trip each
        # (guide §5); expressions identical to the former Column chains
        history = (hashkeys.crossJoin(F.broadcast(load_dates))
                   .filter(f"{ldts} >= __first").selectExpr(hk, ldts))
        presence = src.selectExpr(f"{hk} AS __src_hk",
                                  f"{ldts} AS __src_ldts",
                                  f"{rsrc} AS __src_rsrc")
        is_active = history.join(
            presence, (F.col(hk) == F.col("__src_hk"))
            & (F.col(ldts) == F.col("__src_ldts")), "left").selectExpr(
            hk, ldts,
            f"COALESCE(__src_rsrc, '{g.default_unknown_rsrc}') AS {rsrc}",
            f"CASE WHEN __src_hk IS NULL THEN 0 ELSE 1 END AS {act}")
        lag = f"LAG({act}) OVER (PARTITION BY {hk} ORDER BY {ldts})"
        incoming = (is_active
                    .selectExpr("*", f"({lag} IS NULL OR {act} != {lag})"
                                f" AS __keep")
                    .filter("__keep").drop("__keep"))
    else:
        incoming = src.select(hk, ldts, rsrc).distinct().withColumn(act, F.lit(1))
        if current is not None:
            active_now = current.filter(F.col(act) == F.lit(True).cast("boolean")) \
                .select(hk)
            incoming = incoming.join(active_now, on=hk, how="left_anti")

    parts = [incoming.select(hk, ldts, rsrc, act)]
    if current is not None:
        # deactivate currently-active keys that disappeared from the delta
        min_ldts = (incoming if not cfg.source_is_single_batch else src) \
            .agg(F.min(ldts).alias("m")).collect()[0]["m"]
        if min_ldts is not None:
            if not cfg.source_is_single_batch:
                present = incoming.filter(F.col(ldts) == F.lit(min_ldts)).select(hk)
            else:
                present = src.select(hk).distinct()
            disappeared = (current.filter(F.col(act) == F.lit(True).cast("boolean"))
                           .join(present, on=hk, how="left_anti")
                           .select(F.col(hk), F.lit(min_ldts).alias(ldts),
                                   F.lit(g.default_unknown_rsrc).alias(rsrc),
                                   F.lit(0).alias(act)).distinct())
            if not cfg.source_is_single_batch:
                # drop the earliest incoming status if it equals current status
                cur = current.select(F.col(hk), F.col(act).alias("__cur"))
                first = parts[0].join(cur, on=hk, how="left")
                parts[0] = first.filter(
                    ~((F.col(ldts) == F.lit(min_ldts))
                      & (F.col(act).cast("boolean") == F.col("__cur")))
                    | F.col("__cur").isNull()).drop("__cur")
            parts.append(disappeared)

    out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1]).distinct()
    out = out.withColumn(act, F.col(act).cast("boolean"))
    if target is not None:
        out = out.join(target.select(hk, ldts), on=[hk, ldts], how="left_anti")
    return out.select(hk, ldts, rsrc, act)


def eff_sat_v0_oracle(b: SqlBuilder, reg: Registry, cfg: EffSatConfig,
                      g: GlobalConfig = DEFAULT) -> str:
    """Initial (non-incremental) load oracle."""
    hk, ldts, rsrc = cfg.tracked_hashkey, g.ldts_alias, g.rsrc_alias
    act = g.snapshot_trigger_column
    rel = reg.duckdb_relation(cfg.source_model)
    src = b.cte(f"{cfg.name}__source", f"""SELECT {hk}, {ldts}, {rsrc} FROM {rel}
WHERE {ldts} != CAST('{g.beginning_of_all_times}' AS TIMESTAMP)
  AND {ldts} != CAST('{g.end_of_all_times}' AS TIMESTAMP)""")
    if cfg.source_is_single_batch:
        return b.cte(cfg.name,
                     f"SELECT {hk}, {ldts}, {rsrc}, CAST(1 AS BOOLEAN) AS {act} "
                     f"FROM (SELECT DISTINCT {hk}, {ldts}, {rsrc} FROM {src})")
    hks = b.cte(f"{cfg.name}__hashkeys",
                f"SELECT {hk}, MIN({ldts}) AS first_appearance FROM {src} GROUP BY {hk}")
    lds = b.cte(f"{cfg.name}__load_dates", f"SELECT DISTINCT {ldts} FROM {src}")
    hist = b.cte(f"{cfg.name}__history", f"""SELECT h.{hk}, ld.{ldts}
FROM {hks} h CROSS JOIN {lds} ld WHERE ld.{ldts} >= h.first_appearance""")
    ia = b.cte(f"{cfg.name}__is_active", f"""SELECT h.{hk}, h.{ldts},
COALESCE(s.{rsrc}, '{g.default_unknown_rsrc}') AS {rsrc},
CASE WHEN s.{hk} IS NULL THEN 0 ELSE 1 END AS {act}
FROM {hist} h LEFT JOIN {src} s ON s.{hk} = h.{hk} AND s.{ldts} = h.{ldts}""")
    return b.cte(cfg.name, f"""SELECT {hk}, {ldts}, {rsrc}, CAST({act} AS BOOLEAN) AS {act}
FROM {ia}
QUALIFY CASE WHEN {act} = LAG({act}) OVER (PARTITION BY {hk} ORDER BY {ldts})
  THEN FALSE ELSE TRUE END""")
