"""Hash-expression factory — the correctness-critical core.

Re-implements the reference's databricks hashing pipeline (reference:
macros/supporting/hash.sql:466-532, hash_standardization.sql:93-103 and
549-612, multi-active variant 1244-1257) as a *dual-dialect* SQL text
generator: the same :class:`HashSpec` emits a Spark SQL expression (used
via ``F.expr``) and a DuckDB SQL expression (used by the oracle), so the
two engines execute one declared semantic independently.

Pipeline per hash column:
  1. per-attribute standardise: TRIM(CAST(x AS STRING)) -> escape
     backslashes -> replace quote/null-placeholder/concat-string tokens
     -> wrap in double quotes
  2. IFNULL(attr, '^^')
  3. CONCAT(attr1, '||', attr2, ...)
  4. UPPER(...) for case-insensitive inputs (hashkeys by default)
  5. strip \n \t \v \r  (Java regex \v = vertical-whitespace CLASS; the
     DuckDB side replicates the full Java class, see _STRIP_* below)
  6. NULLIF(..., '[ALL_NULL]') where [ALL_NULL] is the exact concat of
     placeholders
  7. LOWER(MD5(...)) with IFNULL -> zero key
Multi-active hashdiffs feed step-6's per-row result through
LISTAGG(..., ',') WITHIN GROUP (ORDER BY ma_keys) before step 7.

Known parity constraint (documented, probe-verified): Spark renders
DOUBLE as Java Double.toString (scientific notation for |x| >= 1e7 or
< 1e-3); DuckDB uses shortest decimal. Hash inputs must stay inside the
common range — all TPC-H monetary/quantity columns do.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..context import GlobalConfig, DEFAULT

SPARK = "spark"
DUCKDB = "duckdb"

# Java regex r'\v' (used by the reference on databricks) matches the
# vertical-whitespace class, not just VT. The Spark side deletes the
# expanded character set with TRANSLATE (chars in `from` with no `to`
# counterpart are removed) — identical result to the reference's
# REGEXP_REPLACE(x, '[\n\t\v\r]', '') without a per-row regex engine in
# every query's hash hot path. RE2 class equivalent for the oracle:
_STRIP_SPARK_CHARS = ("\\u000A\\u0009\\u000B\\u000C"
                      "\\u000D\\u0085\\u2028\\u2029")
_STRIP_DUCKDB = r"[\n\t\v\f\r\x{0085}\x{2028}\x{2029}]"


def sql_str(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("'", "''") + "'"


@dataclass(frozen=True)
class HashSpec:
    """One hash column definition (hashkey or hashdiff)."""

    name: str
    columns: tuple  # column names or SQL expressions; '!x' = literal constant
    is_hashdiff: bool = False
    # multi-active: aggregate the standardised row-string per group
    multi_active_key: tuple = ()


def _as_expr(col: str) -> str:
    """'!foo' -> literal 'foo' (reference: as_constant.sql:7-31)."""
    if col.startswith("!"):
        return sql_str(col[1:])
    return col


def _attribute_standardise(expr: str, g: GlobalConfig, dialect: str, use_trim: bool) -> str:
    base = f"CAST({expr} AS STRING)"
    if use_trim:
        if dialect == SPARK:
            base = f"TRIM({base})"
        else:
            # DuckDB's bare TRIM strips Unicode whitespace (NBSP, ideo-
            # graphic space, ...); Spark/Databricks TRIM strips only
            # ASCII 0x20 — pin the DuckDB trim set so both engines
            # agree on values with exotic edge whitespace
            base = f"TRIM({base}, ' ')"
    if dialect == SPARK:
        # literal character swaps, so plain REPLACE == the reference's
        # REGEXP_REPLACE byte-for-byte, minus the per-row regex engine
        s = f"REPLACE({base}, '\\\\', '\\\\\\\\')"
        s = f"REPLACE({s}, {sql_str(g.quote_character)}, {sql_str(g.quote_character_replacement)})"
    else:
        # the quote character feeds a REGEX pattern here: escape it so a
        # metacharacter config ('$', '.', '(') swaps the literal char,
        # matching Spark's literal REPLACE, instead of anchoring/classing
        import re as _re
        qpat = sql_str(_re.escape(g.quote_character))
        s = f"REGEXP_REPLACE({base}, '\\\\', '\\\\\\\\', 'g')"
        s = f"REGEXP_REPLACE({s}, {qpat}, {sql_str(g.quote_character_replacement)}, 'g')"
    s = f"REPLACE({s}, {sql_str(g.null_placeholder_string)}, {sql_str(g.null_placeholder_string_replacement)})"
    s = f"REPLACE({s}, {sql_str(g.concat_string)}, {sql_str(g.concat_string_replacement)})"
    q = sql_str(g.quote_character)
    if dialect == SPARK:
        return f"CONCAT({q}, {s}, {q})"
    # DuckDB CONCAT ignores NULL args (Spark's returns NULL); use || which
    # propagates NULL so the IFNULL(-> '^^') null marker fires identically.
    return f"({q} || {s} || {q})"


def _py_fold(s: str, g: GlobalConfig) -> str:
    """Python-side mirror of the SQL case fold applied to row strings."""
    if g.hash_case_fold == "upper":
        return s.upper()
    return s.translate(str.maketrans(
        "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def _row_string(spec: HashSpec, g: GlobalConfig, dialect: str) -> str:
    """Steps 1-6: the standardised, NULLIF-guarded row string."""
    case_sensitive = (g.hashdiff_input_case_sensitive if spec.is_hashdiff
                      else g.hashkey_input_case_sensitive)
    use_trim = g.hashdiff_use_trim if spec.is_hashdiff else g.use_trim
    parts = []
    for i, col in enumerate(spec.columns):
        std = _attribute_standardise(_as_expr(col), g, dialect, use_trim)
        parts.append(f"IFNULL(({std}), {sql_str(g.null_placeholder_string)})")
        if i < len(spec.columns) - 1:
            parts.append(sql_str(g.concat_string))
    concat = "CONCAT(" + ", ".join(parts) + ")"
    if not case_sensitive:
        if g.hash_case_fold == "upper":
            # reference-compatible fold (hash.sql:494-500): matches
            # upstream databricks vaults byte-for-byte; cross-engine
            # parity limited to keys both engines fold identically
            # (see GlobalConfig.hash_case_fold).
            concat = f"UPPER({concat})"
        else:
            # "ascii" (default): TRANSLATE has identical char-map
            # semantics in Spark and DuckDB, so the case-insensitive
            # hashkey is engine-independent; non-ASCII letters pass
            # through unfolded — a documented, stable contract.
            concat = (f"TRANSLATE({concat}, 'abcdefghijklmnopqrstuvwxyz',"
                      f" 'ABCDEFGHIJKLMNOPQRSTUVWXYZ')")
    if dialect == SPARK:
        stripped = f"TRANSLATE({concat}, '{_STRIP_SPARK_CHARS}', '')"
    else:
        stripped = f"REGEXP_REPLACE({concat}, '{_STRIP_DUCKDB}', '', 'g')"
    all_null = g.null_placeholder_string + (
        (g.concat_string + g.null_placeholder_string) * (len(spec.columns) - 1))
    if not case_sensitive:
        # the row string above is case-folded BEFORE the NULLIF compare,
        # so the all-NULL literal must fold the same way or a lowercase
        # placeholder config (null_placeholder_string='null') would make
        # NULLIF never fire and all-NULL keys hash to md5 of the folded
        # placeholders instead of the zero key. Python's fold mirrors
        # the SQL one for any sane placeholder (ASCII table / Unicode
        # uppercase agree between Python, Java and DuckDB here).
        all_null = _py_fold(all_null, g)
    row = f"NULLIF(CAST({stripped} AS STRING), {sql_str(all_null)})"
    if spec.is_hashdiff and g.hashdiff_use_rtrim:
        # the row string is already folded when case-insensitive, so the
        # RTRIM character set must fold identically — otherwise a
        # lowercase placeholder never matches its folded trailing copies
        # (same class of bug as the all-NULL literal above)
        tc = g.null_placeholder_string + g.concat_string
        if not case_sensitive:
            tc = _py_fold(tc, g)
        trim_chars = sql_str(tc)
        if dialect == SPARK:  # Spark: RTRIM(trimStr, str); DuckDB: RTRIM(str, chars)
            row = f"RTRIM({trim_chars}, {row})"
        else:
            row = f"RTRIM({row}, {trim_chars})"
    return row


def hash_expr_sql(spec: HashSpec, g: GlobalConfig = DEFAULT, dialect: str = SPARK,
                  alias: bool = True) -> str:
    """Full hash expression (steps 1-7) in the given dialect."""
    row = _row_string(spec, g, dialect)
    if spec.multi_active_key:
        keys = ", ".join(spec.multi_active_key)
        if dialect == SPARK:
            row = f"LISTAGG({row}, ',') WITHIN GROUP (ORDER BY {keys})"
        else:
            row = f"STRING_AGG({row}, ',' ORDER BY {keys})"
    alg = g.hash_alg_spark if dialect == SPARK else g.hash_alg_duckdb
    hashed = alg.format(x=row)
    if g.hash_is_binary:
        # fabric/sqlserver dialects emit VARBINARY hashkeys (reference:
        # macros/supporting/hash.sql:396,678); `unhex` is the same
        # function in Spark and DuckDB, so the hex digest converts to
        # the identical 16/20/32 raw bytes in both engines. The
        # driver-checked fixtures stay STRING (the authoritative
        # databricks dialect): engines RENDER binary differently
        # (bytearray vs bytes) even when the bytes agree, so binary
        # vaults are verified by the hashlib byte-equality tests.
        out = (f"IFNULL(unhex(LOWER({hashed})), "
               f"unhex({sql_str(g.unknown_key)}))")
    else:
        out = f"IFNULL(LOWER({hashed}), {sql_str(g.unknown_key)})"
    if alias:
        out = f"{out} AS {spec.name}"
    return out


def ma_hash_window_sql(spec: HashSpec, g: GlobalConfig = DEFAULT,
                       partition_cols: tuple = ()) -> str:
    """Multi-active group hashdiff as a WINDOW expression (Spark only).

    Spark-first alternative to the reference's GROUP BY + re-join
    (macros/staging/databricks/stage.sql:402-444): every row gets the
    group's LISTAGG-equivalent hash via one window — one shuffle on
    (main_hashkey, ldts), no join, no duplicate stage computation.

    Equivalence with LISTAGG(row, ',' ORDER BY ma_keys):
    - array_sort on struct(__k0.., __rs) orders by the ma keys
      (uniqueness contract makes the __rs tie-break unreachable);
    - concat_ws skips NULL elements exactly like LISTAGG skips NULL
      inputs; the NULLIF(.., '') restores LISTAGG's NULL for the
      all-NULL group so the zero-key IFNULL fires identically.
    """
    assert spec.multi_active_key
    row = _row_string(spec, g, SPARK)
    fields = ", ".join(f"{k} AS __k{i}"
                       for i, k in enumerate(spec.multi_active_key))
    part = ", ".join(partition_cols)
    agg = (f"concat_ws(',', transform(array_sort("
           f"collect_list(struct({fields}, {row} AS __rs)) "
           f"OVER (PARTITION BY {part})), x -> x.__rs))")
    hashed = g.hash_alg_spark.format(x=f"NULLIF({agg}, '')")
    return f"IFNULL(LOWER({hashed}), {sql_str(g.unknown_key)})"


def hash_col(spec: HashSpec, g: GlobalConfig = DEFAULT):
    """Spark Column for the hash expression (Catalyst-optimizable,
    whole-stage-codegen friendly: built-in functions only)."""
    from pyspark.sql import functions as F

    return F.expr(hash_expr_sql(spec, g, SPARK, alias=False)).alias(spec.name)
