"""Table diff: the audit operator every load pipeline runs before
trusting a change — rows ADDED, REMOVED, or CHANGED between two
same-grain entities (two loads of one table, or two strategies over
one corpus, e.g. keep-lowest-id vs keep-best-quality curation).
Equal rows are omitted: the output IS the diff.

Payloads compare as a fixed-width digest — each payload column is
md5-hashed individually before concatenation (injective: a fixed-width
encoding cannot collide across column boundaries, the
``operators/checks.py`` lesson), with a NULL sentinel distinct from
any real value. NULL join keys never match (SQL equality): a NULL-key
row surfaces as left_only + right_only rather than silently pairing.

Scale design (100 TB): ONE full-outer hash join on the key columns —
both sides project to (keys, digest) in the scan stage, so the shuffle
carries fixed-width rows no matter how wide the payload; the status
CASE and the equal-row filter are scan-stage. AQE picks broadcast when
one side is small.

Reference anchor: none (the reference is a Data Vault loader); this
extends the build brief's pipeline-operations surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..context import GlobalConfig, DEFAULT, Registry, ensure_identifier
from ..plans.sqlbuild import SqlBuilder


@dataclass(frozen=True)
class TableDiffConfig:
    name: str
    left_entity: str
    right_entity: str
    key_cols: tuple
    payload_cols: tuple

    def __post_init__(self):
        if not self.key_cols:
            raise ValueError(f"{self.name}: key_cols must be non-empty")
        if not self.payload_cols:
            raise ValueError(f"{self.name}: payload_cols must be "
                             f"non-empty")
        for c in (*self.key_cols, *self.payload_cols):
            ensure_identifier(c, "column", self.name)
        dup = set(self.key_cols) & set(self.payload_cols)
        if dup:
            raise ValueError(f"{self.name}: {sorted(dup)} in both "
                             f"key_cols and payload_cols")


def _digest(payload_cols: tuple) -> str:
    """Injective payload digest, identical text in both dialects
    (md5/concat/coalesce/CAST agree). Hash-then-sentinel: each
    component is the value's 32-hex md5, or chr(1) for NULL — chr(1)
    is not a hex character, so the concatenation decodes left-to-right
    unambiguously and NULL can never collide with ANY real value
    (including a literal \\x01 string, whose md5 is still 32 hex
    chars)."""
    parts = ", ".join(
        f"coalesce(md5(CAST({c} AS STRING)), chr(1))"
        for c in payload_cols)
    return f"md5(concat({parts}))"


_STATUS = ("CASE WHEN __rm IS NULL THEN 'left_only' "
           "WHEN __lm IS NULL THEN 'right_only' "
           "ELSE 'changed' END")


def build_table_diff(spark, reg: Registry, cfg: TableDiffConfig,
                     g: GlobalConfig = DEFAULT) -> DataFrame:
    d = _digest(cfg.payload_cols)
    left = (reg.load(spark, cfg.left_entity)
            .selectExpr(*cfg.key_cols, f"{d} AS __lm"))
    right = (reg.load(spark, cfg.right_entity)
             .selectExpr(*cfg.key_cols, f"{d} AS __rm"))
    j = left.join(right, list(cfg.key_cols), "full_outer")
    return (j.filter("__lm IS NULL OR __rm IS NULL OR __lm <> __rm")
            .selectExpr(*cfg.key_cols, f"{_STATUS} AS status",
                        "__lm AS left_md5", "__rm AS right_md5"))


def table_diff_oracle(b: SqlBuilder, reg: Registry, cfg: TableDiffConfig,
                      g: GlobalConfig = DEFAULT) -> str:
    d = _digest(cfg.payload_cols)
    keys = ", ".join(cfg.key_cols)
    lm = b.cte(f"{cfg.name}__l",
               f"SELECT {keys}, {d} AS __lm "
               f"FROM {reg.duckdb_relation(cfg.left_entity)}")
    rm = b.cte(f"{cfg.name}__r",
               f"SELECT {keys}, {d} AS __rm "
               f"FROM {reg.duckdb_relation(cfg.right_entity)}")
    on = " AND ".join(f"l.{k} = r.{k}" for k in cfg.key_cols)
    ksel = ", ".join(f"coalesce(l.{k}, r.{k}) AS {k}"
                     for k in cfg.key_cols)
    return b.cte(
        cfg.name,
        f"SELECT {ksel}, {_STATUS} AS status, "
        f"__lm AS left_md5, __rm AS right_md5 "
        f"FROM {lm} l FULL JOIN {rm} r ON {on} "
        f"WHERE __lm IS NULL OR __rm IS NULL OR __lm <> __rm")
