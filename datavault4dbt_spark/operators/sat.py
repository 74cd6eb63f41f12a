"""Standard satellite operators: sat_v0 (delta-historized, materialized)
and sat_v1 (virtual end-dating view).

Re-implements reference: macros/tables/sat_v0.sql:12 /
macros/tables/databricks/sat_v0.sql (LAG change-detection dedup at
106-110, latest-in-target window at 83, NOT EXISTS insert at 131-141)
and macros/tables/sat_v1.sql:7 / databricks/sat_v1.sql:30-67 (LEAD
end-dating minus 1 microsecond, optional IS_CURRENT flag).

The change detection (``insert_changed``) is shared with ref_sat_v0 and
the LEAD end-dating text (``end_dating_sql``) with every end-dating
view and join (ref_sat_v1, ma_sat_v1, pit, bridge).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from ..plans.incremental import hwm_filter, first_per_key


@dataclass(frozen=True)
class SatConfig:
    name: str
    source_model: str
    parent_hashkey: str
    src_hashdiff: str                 # hashdiff column in the stage
    hashdiff_alias: str | None = None  # target name (defaults to src)
    payload: tuple = ()
    source_is_single_batch: bool = False

    @property
    def hdiff(self) -> str:
        return self.hashdiff_alias or self.src_hashdiff


def end_dating_sql(keys, g: GlobalConfig) -> str:
    """LEAD end-dating as SQL text: a row ends 1 microsecond before the
    next load of its key tuple, the latest row at end_of_all_times
    (reference: databricks/sat_v1.sql:30-67)."""
    return (f"COALESCE(LEAD({g.ldts_alias} - INTERVAL 1 MICROSECOND) "
            f"OVER (PARTITION BY {', '.join(keys)} ORDER BY {g.ldts_alias}),"
            f" CAST('{g.end_of_all_times}' AS TIMESTAMP))")


def with_is_current(df: DataFrame, g: GlobalConfig) -> DataFrame:
    """The optional IS_CURRENT flag of an end-dated view: the row's
    ledts is end_of_all_times."""
    return df.withColumn(
        g.is_current_col_alias,
        F.expr(f"{g.ledts_alias} = CAST('{g.end_of_all_times}' AS TIMESTAMP)"))


def insert_changed(src: DataFrame, target: DataFrame | None, keys: tuple,
                   hdiff: str, g: GlobalConfig,
                   single_batch: bool) -> DataFrame:
    """The delta-historized insert of sat_v0 and ref_sat_v0: ``keys`` is
    the parent hashkey, or the composite ref keys."""
    if not single_batch:
        # keep a row only when its hashdiff differs from the previous
        # row's; COALESCE(eq, false) mirrors the oracle's CASE WHEN eq
        # THEN FALSE ELSE TRUE (drop only on strict TRUE), so a NULL
        # hashdiff never turns the keep-predicate NULL. Window as SQL
        # text in one selectExpr (guide §5, identical plan).
        over = (f"OVER (PARTITION BY {', '.join(keys)} "
                f"ORDER BY {g.ldts_alias})")
        src = (src.selectExpr(
                   "*",
                   f"NOT COALESCE({hdiff} = LAG({hdiff}) {over},"
                   f" FALSE) AS __keep",
                   f"ROW_NUMBER() {over} AS __rn")
               .filter("__keep").drop("__keep"))
    else:
        src = src.withColumn("__rn", F.lit(1))

    if target is None:
        return src.drop("__rn")

    # latest record per key in the target (reference: sat_v0.sql:68-90),
    # computed only over keys PRESENT in the incoming batch
    # (reference: macros/supporting/performance_filter.sql
    # snowflake/redshift `filter_latest_entries_in_sat` — `AND
    # parent_hashkey IN (SELECT ... FROM source_data)`). At 100 TB a
    # delta touches a tiny key subset; without the semi-join the
    # latest-window scans the WHOLE satellite every load. Keys absent
    # from the batch can never affect the insert decision (the compare
    # joins from the batch side), and NULL keys never semi-match nor
    # match the compare join, so the prune is result-identical.
    batch_keys = src.select(*keys).distinct()
    latest = first_per_key(
        target.join(batch_keys, on=list(keys), how="left_semi"), keys,
        f"{g.ldts_alias} DESC", (*keys, f"{hdiff} AS __t_hdiff"))
    # Insert unless the FIRST delta row per key matches the target's
    # latest hashdiff (reference: sat_v0.sql:83, ref_sat_v0.sql:135-145
    # `rn = 1` in the NOT EXISTS) — anti-joining every delta row would
    # drop a reversion group (B then back to A) whose hashdiff equals
    # the target's latest, ending history at B forever.
    # COALESCE(eq, false) keeps the predicate two-valued: with a plain
    # ==, a NULL hashdiff on either side yields NULL and the row would
    # silently vanish, where the reference's NOT EXISTS
    # (sat_v0.sql:131-141) inserts it — SQL drops only on strict TRUE.
    joined = src.join(latest, on=list(keys), how="left")
    match = ((F.col("__rn") == 1)
             & F.coalesce(F.col("__t_hdiff") == F.col(hdiff), F.lit(False)))
    return joined.filter(~match).drop("__rn", "__t_hdiff")


def build_sat_v0(spark, reg: Registry, cfg: SatConfig, g: GlobalConfig = DEFAULT,
                 target: DataFrame | None = None, disable_hwm: bool = False) -> DataFrame:
    # one string projection = one py4j round trip (guide §5)
    src = reg.load(spark, cfg.source_model).selectExpr(
        cfg.parent_hashkey,
        f"{cfg.src_hashdiff} AS {cfg.hdiff}",
        g.rsrc_alias, g.ldts_alias, *cfg.payload)
    if target is not None and not disable_hwm:
        src = hwm_filter(src, target, g)
    return insert_changed(src, target, (cfg.parent_hashkey,), cfg.hdiff, g,
                          cfg.source_is_single_batch)


def sat_v0_oracle(b: SqlBuilder, reg: Registry, cfg: SatConfig,
                  g: GlobalConfig = DEFAULT) -> str:
    rel = reg.duckdb_relation(cfg.source_model)
    payload = ("," + ", ".join(cfg.payload)) if cfg.payload else ""
    src = b.cte(f"{cfg.name}__source",
                f"SELECT {cfg.parent_hashkey}, {cfg.src_hashdiff} AS {cfg.hdiff}, "
                f"{g.rsrc_alias}, {g.ldts_alias}{payload} FROM {rel}")
    if cfg.source_is_single_batch:
        return b.cte(cfg.name, f"SELECT * FROM {src}")
    return b.cte(cfg.name, f"""SELECT * FROM {src}
QUALIFY CASE WHEN {cfg.hdiff} = LAG({cfg.hdiff}) OVER
  (PARTITION BY {cfg.parent_hashkey} ORDER BY {g.ldts_alias}) THEN FALSE ELSE TRUE END""")


@dataclass(frozen=True)
class SatV1Config:
    name: str
    sat_v0: str            # registry name of the v0 satellite
    hashkey: str
    hashdiff: str | None
    add_is_current_flag: bool = False
    include_payload: tuple = ()  # payload columns to pass through


def build_sat_v1(spark, reg: Registry, cfg: SatV1Config,
                 g: GlobalConfig = DEFAULT) -> DataFrame:
    """Virtual end-dating view — never materialized (reference:
    sat_v1.sql is a dbt view; we return an unmaterialized DataFrame)."""
    src = reg.load(spark, cfg.sat_v0)
    cols = [cfg.hashkey] + ([cfg.hashdiff] if cfg.hashdiff else []) + \
           [g.rsrc_alias, g.ldts_alias]
    # one string projection = one py4j round trip (guide §5)
    out = src.selectExpr(
        *cols, f"{end_dating_sql((cfg.hashkey,), g)} AS {g.ledts_alias}",
        *cfg.include_payload)
    return with_is_current(out, g) if cfg.add_is_current_flag else out


def sat_v1_oracle(b: SqlBuilder, reg: Registry, cfg: SatV1Config,
                  g: GlobalConfig = DEFAULT) -> str:
    rel = reg.duckdb_relation(cfg.sat_v0)
    hd = f"{cfg.hashdiff}, " if cfg.hashdiff else ""
    payload = ("," + ", ".join(cfg.include_payload)) if cfg.include_payload else ""
    eot = f"CAST('{g.end_of_all_times}' AS TIMESTAMP)"
    cur = (f", ({g.ledts_alias} = {eot}) AS {g.is_current_col_alias}"
           if cfg.add_is_current_flag else "")
    inner = b.cte(f"{cfg.name}__end_dated", f"""SELECT {cfg.hashkey}, {hd}{g.rsrc_alias}, {g.ldts_alias},
COALESCE(LEAD({g.ldts_alias} - INTERVAL 1 MICROSECOND) OVER
  (PARTITION BY {cfg.hashkey} ORDER BY {g.ldts_alias}), {eot}) AS {g.ledts_alias}{payload}
FROM {rel}""")
    return b.cte(cfg.name, f"SELECT *{cur} FROM {inner}")
