"""Snapshot control tables: v0 (timestamp spine + calendar flags) and
v1 (active-snapshot view with logarithmic retention).

control_snap_v0 — reference:
macros/tables/databricks/control_snap_v0.sql:19-95 — sequence+explode
spine with is_hourly/daily/weekly/... flags. The Spark implementation
is the same SQL (sequence/explode are Spark functions); DuckDB uses
generate_series+unnest and isodow instead of EXTRACT(DAYOFWEEK_ISO).

control_snap_v1 — reference:
macros/tables/databricks/control_snap_v1.sql:55-232 — log_logic
retention CASE per output column, is_latest via ORDER BY DESC LIMIT 1,
rolling-year flags. ``current_ts`` is injectable for deterministic
testing (the reference uses CURRENT_TIMESTAMP()).
"""

from __future__ import annotations

from dataclasses import dataclass

from ..context import GlobalConfig, DEFAULT
from ..plans.sqlbuild import SqlBuilder

_FIRST_DOW = {"monday": 1, "tuesday": 2, "wednesday": 3, "thursday": 4,
              "friday": 5, "saturday": 6, "sunday": 7}


@dataclass(frozen=True)
class SnapV0Config:
    name: str
    start_date: str            # 'YYYY-MM-DD'
    daily_snapshot_time: str = "00:00:00"
    end_date: str | None = None  # None -> CURRENT_TIMESTAMP (non-deterministic)


def _snap_v0_sql(cfg: SnapV0Config, g: GlobalConfig, dialect: str) -> str:
    sdts = g.sdts_alias
    end = f"'{cfg.end_date}'" if cfg.end_date else "CURRENT_TIMESTAMP"
    start = f"'{cfg.start_date} {cfg.daily_snapshot_time}'"
    first_dow = _FIRST_DOW[g.first_day_of_week.lower()]
    end_dow = ((first_dow + 5) % 7) + 1
    if dialect == "spark":
        spine = (f"SELECT explode(sequence(to_timestamp({start}), "
                 f"to_timestamp(to_date({end})+1) - interval 1 microsecond, "
                 f"interval 1 day)) AS {sdts}")
        isodow = f"EXTRACT(DAYOFWEEK_ISO FROM {sdts})"
    else:
        spine = (f"SELECT unnest(generate_series(CAST({start} AS TIMESTAMP), "
                 f"CAST(CAST({end} AS DATE) + 1 AS TIMESTAMP) - INTERVAL 1 MICROSECOND, "
                 f"INTERVAL 1 DAY)) AS {sdts}")
        isodow = f"isodow({sdts})"
    # no WITH clause: a CTERelationDef inside a DataFrame subtree that
    # later rides a wide union trips Catalyst's
    # PushdownPredicatesAndPruneColumnsForCTEDef ("key not found" on the
    # cte id) in Spark 4.1 — single-use CTEs inline to plain subqueries
    # with identical semantics in both dialects
    return f"""SELECT
    {sdts},
    TRUE AS force_active,
    {sdts} AS replacement_sdts,
    CONCAT('Snapshot ', CAST(CAST({sdts} AS DATE) AS STRING)) AS caption,
    (EXTRACT(MINUTE FROM {sdts}) = 0 AND EXTRACT(SECOND FROM {sdts}) = 0) AS is_hourly,
    (EXTRACT(MINUTE FROM {sdts}) = 0 AND EXTRACT(SECOND FROM {sdts}) = 0
        AND EXTRACT(HOUR FROM {sdts}) = 0) AS is_daily,
    ({isodow} = {first_dow}) AS is_beginning_of_week,
    ({isodow} = {end_dow}) AS is_end_of_week,
    (EXTRACT(DAY FROM {sdts}) = 1) AS is_beginning_of_month,
    (LAST_DAY(CAST({sdts} AS DATE)) = CAST({sdts} AS DATE)) AS is_end_of_month,
    (EXTRACT(DAY FROM {sdts}) = 1 AND EXTRACT(MONTH FROM {sdts}) IN (1,4,7,10))
        AS is_beginning_of_quarter,
    (EXTRACT(MONTH FROM {sdts}) IN (3,6,9,12)
        AND LAST_DAY(CAST({sdts} AS DATE)) = CAST({sdts} AS DATE)) AS is_end_of_quarter,
    (EXTRACT(DAY FROM {sdts}) = 1 AND EXTRACT(MONTH FROM {sdts}) = 1)
        AS is_beginning_of_year,
    (LAST_DAY(CAST({sdts} AS DATE)) = CAST({sdts} AS DATE)
        AND EXTRACT(MONTH FROM {sdts}) = 12) AS is_end_of_year,
    CAST(NULL AS STRING) AS comment
FROM (
    SELECT * FROM ({spine}) AS cte
    WHERE {sdts} < CAST(CAST({end} AS DATE) + 1 AS TIMESTAMP)
) AS initial_timestamps"""


def build_snap_v0(spark, cfg: SnapV0Config, g: GlobalConfig = DEFAULT):
    return spark.sql(_snap_v0_sql(cfg, g, "spark"))


def snap_v0_oracle(b: SqlBuilder, cfg: SnapV0Config, g: GlobalConfig = DEFAULT) -> str:
    return b.cte(cfg.name, _snap_v0_sql(cfg, g, "duckdb"))


@dataclass(frozen=True)
class LogLogic:
    """Retention rule for one trigger column; None duration = forever."""

    daily: tuple | None = None    # (duration, unit) or ('forever',)
    weekly: tuple | None = None
    monthly: tuple | None = None
    yearly: tuple | None = None


@dataclass(frozen=True)
class SnapV1Config:
    name: str
    snap_v0: str  # registry/CTE name of the v0 table
    log_logic: dict | None = None  # col_name -> LogLogic; None -> always active
    current_ts: str | None = None  # fixed 'now' for determinism; None -> CURRENT_TIMESTAMP


def _snap_v1_sql(cfg: SnapV1Config, v0_rel: str, g: GlobalConfig) -> str:
    """Dialect-neutral (identical text runs in Spark SQL and DuckDB)."""
    sdts = g.sdts_alias
    now = (f"CAST('{cfg.current_ts}' AS TIMESTAMP)" if cfg.current_ts
           else "CURRENT_TIMESTAMP")
    trigger_cols = []
    if cfg.log_logic is None:
        trigger_cols.append(f"TRUE AS {g.snapshot_trigger_column}")
    else:
        for col, ll in cfg.log_logic.items():
            conds = []
            for unit_name, flag in (("daily", None),
                                    ("weekly", "is_beginning_of_week"),
                                    ("monthly", "is_beginning_of_month"),
                                    ("yearly", "is_beginning_of_year")):
                rule = getattr(ll, unit_name)
                if rule is None:
                    continue
                if rule[0] == "forever":
                    conds.append("(1=1)" if flag is None else f"(c.{flag} = TRUE)")
                else:
                    dur, unit = rule
                    window = (f"c.{sdts} BETWEEN {now} - INTERVAL '{dur}' {unit} "
                              f"AND {now}")
                    conds.append(f"({window})" if flag is None
                                 else f"(({window}) AND (c.{flag} = TRUE))")
            if not conds:
                # all four units None -> '' inside CASE WHEN = a parse
                # error at view build; fail with the actual problem
                raise ValueError(
                    f"{cfg.name}: log_logic[{col!r}] declares no "
                    f"daily/weekly/monthly/yearly rule — every snapshot "
                    f"would be inactive; declare a rule or drop the col")
            trigger_cols.append(
                "CASE WHEN " + " OR ".join(conds) + f" THEN TRUE ELSE FALSE END AS {col}")
    passthrough = ("caption, is_hourly, is_daily, is_beginning_of_week, is_end_of_week, "
                   "is_beginning_of_month, is_end_of_month, is_beginning_of_quarter, "
                   "is_end_of_quarter, is_beginning_of_year, is_end_of_year")
    trig = ",\n    ".join(trigger_cols)
    # latest_row inlined into the join (no WITH clause — see the
    # CTERelationDef note in _snap_v0_sql)
    return f"""SELECT
    c.{sdts},
    c.replacement_sdts,
    {trig},
    (l.{sdts} IS NOT NULL) AS is_latest,
    {passthrough},
    (EXTRACT(YEAR FROM c.{sdts}) = EXTRACT(YEAR FROM {now})) AS is_current_year,
    (EXTRACT(YEAR FROM c.{sdts}) = EXTRACT(YEAR FROM {now}) - 1) AS is_last_year,
    (c.{sdts} BETWEEN {now} - INTERVAL '1' YEAR AND {now}) AS is_rolling_year,
    (c.{sdts} BETWEEN {now} - INTERVAL '2' YEAR AND {now} - INTERVAL '1' YEAR)
        AS is_last_rolling_year,
    c.comment
FROM {v0_rel} c
LEFT JOIN (
    SELECT {sdts} FROM {v0_rel} ORDER BY {sdts} DESC LIMIT 1
) l ON c.{sdts} = l.{sdts}"""


def build_snap_v1(spark, reg, cfg: SnapV1Config, g: GlobalConfig = DEFAULT):
    v0 = reg.load(spark, cfg.snap_v0)
    v0.createOrReplaceTempView(f"__{cfg.name}_v0")
    return spark.sql(_snap_v1_sql(cfg, f"__{cfg.name}_v0", g))


def snap_v1_oracle(b: SqlBuilder, reg, cfg: SnapV1Config,
                   g: GlobalConfig = DEFAULT) -> str:
    v0_rel = reg.duckdb_relation(cfg.snap_v0)
    return b.cte(cfg.name, _snap_v1_sql(cfg, v0_rel, g))
