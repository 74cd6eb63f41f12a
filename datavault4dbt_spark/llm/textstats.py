"""Text-analysis operators for training-data curation.

- ``langid``      : n-gram/stopword heuristic language scorer
- ``quality``     : document quality metrics (length / ratios / score)
- ``tokens``      : whitespace + BPE-ish regex token counting
- ``fingerprint`` : winnowing document fingerprints (rolling-hash min
                    over a sliding shingle window; Schleimer et al.,
                    SIGMOD'03)

All pure Column expressions — per-document work happens inside the scan
stage (no UDF, no shuffle except the final per-doc aggregations, which
key on doc_id and are skew-free). Each operator has a DuckDB oracle
built from the same config.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from .textprep import (spark_tokens, duck_tokens, spark_shingles,
                       duck_shingles)


# A tiny per-language function-word lexicon. The scorer is the real
# operator; the lexicon is a config knob users replace with fastText-
# style profiles. Ties break lexicographically (deterministic).
DEFAULT_LEXICONS = (
    ("en", ("the", "a", "of", "and", "to", "in", "is", "value", "fast")),
    ("de", ("der", "die", "das", "und", "ist", "mit", "von", "agg", "hash")),
    ("es", ("el", "la", "de", "y", "en", "es", "por", "data", "row")),
    ("fr", ("le", "la", "et", "de", "en", "est", "pour", "query", "join")),
    ("zh", ("de", "shi", "bu", "le", "ren", "wo", "merge", "window")),
)


@dataclass(frozen=True)
class LangIdConfig:
    name: str
    source: str = "documents"
    id_col: str = "doc_id"
    text_col: str = "text"
    lexicons: tuple = DEFAULT_LEXICONS


def _lang_hits(lex: tuple, dialect: str) -> list:
    """Per-language hit-count expressions over the token array."""
    filt = "filter" if dialect == "spark" else "list_filter"
    size = "size" if dialect == "spark" else "len"
    out = []
    for lang, words in lex:
        arr = ", ".join(f"'{w}'" for w in words)
        out.append(
            f"{size}({filt}(w, t -> array_contains(array({arr}), t))) AS hits_{lang}"
            if dialect == "spark" else
            f"{size}({filt}(w, t -> list_contains([{arr}], t))) AS hits_{lang}")
    return out


def build_langid(spark, reg: Registry, cfg: LangIdConfig,
                 g: GlobalConfig = DEFAULT) -> DataFrame:
    df = reg.load(spark, cfg.source)
    w = df.selectExpr(cfg.id_col, f"{spark_tokens(cfg.text_col)} AS w")
    hits = w.selectExpr(cfg.id_col, "size(w) AS n_tokens",
                        *_lang_hits(cfg.lexicons, "spark"))
    langs = [lang for lang, _ in cfg.lexicons]
    cascade = langid_cascade_expr(cfg.lexicons)
    total = " + ".join(f"hits_{l}" for l in langs)
    return hits.selectExpr(
        cfg.id_col, "n_tokens",
        f"{cascade} AS predicted_lang",
        f"round(({total}) / cast(greatest(n_tokens, 1) AS DOUBLE), 6)"
        " AS hit_ratio")


def langid_oracle(b: SqlBuilder, reg: Registry, cfg: LangIdConfig,
                  g: GlobalConfig = DEFAULT) -> str:
    src = reg.duckdb_relation(cfg.source)
    w = b.cte(f"{cfg.name}__w",
              f"SELECT {cfg.id_col}, {duck_tokens(cfg.text_col)} AS w FROM {src}")
    hits = b.cte(f"{cfg.name}__hits",
                 f"SELECT {cfg.id_col}, len(w) AS n_tokens, "
                 + ", ".join(_lang_hits(cfg.lexicons, "duck")) + f" FROM {w}")
    langs = [lang for lang, _ in cfg.lexicons]
    cascade = langid_cascade_expr(cfg.lexicons)
    total = " + ".join(f"hits_{l}" for l in langs)
    return b.cte(cfg.name,
                 f"SELECT {cfg.id_col}, n_tokens, {cascade} AS predicted_lang, "
                 f"round(({total}) / CAST(greatest(n_tokens, 1) AS DOUBLE), 6)"
                 f" AS hit_ratio FROM {hits}")


# -------------------------------------------------------------- quality --

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def quality_score_expr(n_tokens: str = "n_tokens",
                       n_stop: str = "n_stop") -> str:
    """The quality formula, shared verbatim by the batch builder, the
    DuckDB oracle, and the streaming curation path — one definition, so
    the three cannot drift. Valid in both dialects (round/least/
    greatest/CAST agree). In [0,1]; rewards mid-length docs with some
    stopwords."""
    return (f"round(least({n_tokens} / 50.0, 1.0) * 0.5 "
            f"+ least({n_stop} / cast(greatest({n_tokens}, 1) AS DOUBLE)"
            f" * 5.0, 1.0) * 0.5, 6)")


def langid_cascade_expr(lexicons: tuple) -> str:
    """Argmax cascade over hits_<lang> columns (first language reaching
    the max wins — CASE order is the deterministic tie-break). Shared by
    the batch builder, the oracle, and streaming curation; identical in
    both dialects."""
    langs = [lang for lang, _ in lexicons]
    max_expr = "greatest(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    return ("CASE " + " ".join(
        f"WHEN hits_{l} = {max_expr} THEN '{l}'" for l in langs) + " END")


@dataclass(frozen=True)
class QualityConfig:
    name: str
    source: str = "documents"
    id_col: str = "doc_id"
    text_col: str = "text"
    stopwords: tuple = DEFAULT_STOPWORDS


def build_quality(spark, reg: Registry, cfg: QualityConfig,
                  g: GlobalConfig = DEFAULT) -> DataFrame:
    df = reg.load(spark, cfg.source)
    sw = ", ".join(f"'{w}'" for w in cfg.stopwords)
    w = df.selectExpr(cfg.id_col,
                      f"length({cfg.text_col}) AS n_chars_measured",
                      f"{spark_tokens(cfg.text_col)} AS w")
    feat = w.selectExpr(
        cfg.id_col, "n_chars_measured", "size(w) AS n_tokens",
        f"size(filter(w, t -> array_contains(array({sw}), t))) AS n_stop",
        "aggregate(w, 0, (acc, t) -> acc + length(t)) AS sum_tok_len")
    return feat.selectExpr(
        cfg.id_col, "n_chars_measured", "n_tokens",
        "round(sum_tok_len / cast(greatest(n_tokens, 1) AS DOUBLE), 6) "
        "AS avg_token_len",
        "round(n_stop / cast(greatest(n_tokens, 1) AS DOUBLE), 6) "
        "AS stopword_ratio",
        f"{quality_score_expr()} AS quality_score")


def quality_oracle(b: SqlBuilder, reg: Registry, cfg: QualityConfig,
                   g: GlobalConfig = DEFAULT) -> str:
    src = reg.duckdb_relation(cfg.source)
    sw = ", ".join(f"'{w}'" for w in cfg.stopwords)
    w = b.cte(f"{cfg.name}__w",
              f"SELECT {cfg.id_col}, length({cfg.text_col}) AS n_chars_measured, "
              f"{duck_tokens(cfg.text_col)} AS w FROM {src}")
    feat = b.cte(
        f"{cfg.name}__f",
        f"SELECT {cfg.id_col}, n_chars_measured, len(w) AS n_tokens, "
        f"len(list_filter(w, t -> list_contains([{sw}], t))) AS n_stop, "
        f"list_reduce(list_prepend(0, list_transform(w, t -> length(t))), "
        f"(acc, x) -> acc + x) AS sum_tok_len FROM {w}")
    return b.cte(
        cfg.name,
        f"SELECT {cfg.id_col}, n_chars_measured, n_tokens, "
        f"round(sum_tok_len / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) "
        f"AS avg_token_len, "
        f"round(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) "
        f"AS stopword_ratio, "
        f"{quality_score_expr()} AS quality_score FROM {feat}")


# --------------------------------------------------------------- tokens --

@dataclass(frozen=True)
class TokenCountConfig:
    name: str
    source: str = "documents"
    id_col: str = "doc_id"
    text_col: str = "text"
    # BPE-ish pre-tokenizer: letter runs | digit runs | single other
    # (simple enough to behave identically under Java regex and RE2)
    bpe_pattern: str = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def build_token_count(spark, reg: Registry, cfg: TokenCountConfig,
                      g: GlobalConfig = DEFAULT) -> DataFrame:
    df = reg.load(spark, cfg.source)
    return df.selectExpr(
        cfg.id_col,
        f"size({spark_tokens(cfg.text_col)}) AS n_ws_tokens",
        f"size(regexp_extract_all({cfg.text_col}, '{cfg.bpe_pattern}', 0)) "
        f"AS n_bpe_tokens",
        f"cast(ceil(length({cfg.text_col}) / 4.0) AS BIGINT) AS n_char_est")


def token_count_oracle(b: SqlBuilder, reg: Registry, cfg: TokenCountConfig,
                       g: GlobalConfig = DEFAULT) -> str:
    src = reg.duckdb_relation(cfg.source)
    return b.cte(
        cfg.name,
        f"SELECT {cfg.id_col}, "
        f"len({duck_tokens(cfg.text_col)}) AS n_ws_tokens, "
        f"len(regexp_extract_all({cfg.text_col}, '{cfg.bpe_pattern}')) "
        f"AS n_bpe_tokens, "
        f"CAST(ceil(length({cfg.text_col}) / 4.0) AS BIGINT) AS n_char_est "
        f"FROM {src}")


# ---------------------------------------------------------- fingerprint --

@dataclass(frozen=True)
class FingerprintConfig:
    name: str
    source: str = "documents"
    id_col: str = "doc_id"
    text_col: str = "text"
    shingle_n: int = 3
    window: int = 4   # winnowing window (shingle positions)


def build_fingerprint(spark, reg: Registry, cfg: FingerprintConfig,
                      g: GlobalConfig = DEFAULT) -> DataFrame:
    """Winnowing: hash every shingle, slide a window of `window`
    consecutive shingle hashes, keep each window's minimum; the distinct
    kept hashes are the document's fingerprints. Output is the
    per-document fingerprint set summary (count + min = the doc's
    primary fingerprint).

    Scale: posexplode + one ordered window per doc + one groupBy — both
    shuffle on doc_id only.
    """
    df = reg.load(spark, cfg.source)
    w = df.selectExpr(cfg.id_col, f"{spark_tokens(cfg.text_col)} AS w")
    sh = w.selectExpr(
        cfg.id_col,
        f"posexplode({spark_shingles('w', cfg.shingle_n)}) AS (pos, s)")
    hashed = sh.selectExpr(cfg.id_col, "pos", "md5(s) AS h")
    win = (Window.partitionBy(cfg.id_col).orderBy("pos")
           .rowsBetween(-(cfg.window - 1), 0))
    kept = (hashed.withColumn("wmin", F.min("h").over(win))
            .filter(F.col("pos") >= cfg.window - 1))
    return (kept.groupBy(cfg.id_col)
            .agg(F.countDistinct("wmin").alias("n_fingerprints"),
                 F.min("wmin").alias("fingerprint")))


def fingerprint_oracle(b: SqlBuilder, reg: Registry, cfg: FingerprintConfig,
                       g: GlobalConfig = DEFAULT) -> str:
    src = reg.duckdb_relation(cfg.source)
    w = b.cte(f"{cfg.name}__w",
              f"SELECT {cfg.id_col}, {duck_tokens(cfg.text_col)} AS w FROM {src}")
    # generate_subscripts-style positions via range over the shingle list
    sh = b.cte(
        f"{cfg.name}__sh",
        f"SELECT {cfg.id_col}, i AS pos, "
        f"md5(({duck_shingles('w', cfg.shingle_n)})[i + 1]) AS h "
        f"FROM {w}, UNNEST(range(0, len({duck_shingles('w', cfg.shingle_n)})))"
        f" AS t(i)")
    kept = b.cte(
        f"{cfg.name}__kept",
        f"SELECT {cfg.id_col}, pos, "
        f"min(h) OVER (PARTITION BY {cfg.id_col} ORDER BY pos "
        f"ROWS BETWEEN {cfg.window - 1} PRECEDING AND CURRENT ROW) AS wmin "
        f"FROM {sh} QUALIFY pos >= {cfg.window - 1}")
    return b.cte(cfg.name,
                 f"SELECT {cfg.id_col}, count(DISTINCT wmin) AS n_fingerprints, "
                 f"min(wmin) AS fingerprint FROM {kept} GROUP BY {cfg.id_col}")
