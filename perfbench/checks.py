"""Output checks. Every pass that fails one counts as failed."""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def store_files(root: str) -> dict:
    """{parquet path: (entity, bytes)} for every committed store file;
    overwrite's staging directories are skipped."""
    out = {}
    if not os.path.isdir(root):
        return out
    for entity in os.listdir(root):
        if "." in entity:               # name.__tmp__ / name.__old__
            continue
        for base, _dirs, files in os.walk(os.path.join(root, entity)):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(base, f)
                    out[p] = (entity, os.path.getsize(p))
    return out


def footer_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def written_since(before: dict, after: dict) -> dict:
    """Files, bytes and rows (from parquet footers) that appeared in the
    store between two listings, in total and per entity."""
    new = [p for p in after if p not in before]
    per_entity: dict = {}
    for p in new:
        per_entity.setdefault(after[p][0], []).append(p)
    return {"files": len(new), "bytes": sum(after[p][1] for p in new),
            "rows": footer_rows(new),
            "rows_by_entity": {e: footer_rows(ps)
                               for e, ps in per_entity.items()}}


def table_rows(root: str, entity: str) -> int:
    return footer_rows(p for p, (e, _) in store_files(root).items()
                       if e == entity)


def digests(frames: dict) -> dict:
    """{name: (row count, sum of row hashes)} for each DataFrame, in one
    Spark job. Order-independent; floating columns are rounded to 6
    decimals first, so a last-bit difference from a changed aggregation
    order does not count."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for name, df in frames.items():
        exprs = []
        for col, dtype in df.dtypes:
            col = f"`{col}`"
            if dtype in ("double", "float"):
                exprs.append(f"round({col}, 6)")
            elif dtype in ("array<double>", "array<float>"):
                exprs.append(f"transform({col}, x -> round(x, 6))")
            else:
                exprs.append(col)
        parts.append(df.selectExpr(f"xxhash64({', '.join(exprs)}) AS h")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
                     .select(F.lit(name).alias("t"), "n", "s"))
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["t"]: (int(r["n"]), str(r["s"])) for r in rows}


def vault_checks_failures(store) -> list:
    """Rows of the vault_checks report with violations."""
    rows = store.read("vault_checks").collect()
    return [r.asDict() for r in rows if r["n_violations"]]


def manifest_mismatches(root: str, manifest: dict) -> dict:
    """{table: (expected, stored)} for tables whose footer row count
    differs from the manifest."""
    out = {}
    for table, want in manifest.items():
        got = table_rows(root, table)
        if got != want:
            out[table] = (want, got)
    return out


def vault_problems(store, manifest: dict) -> list:
    """Hub/link/sat row counts against the manifest, plus the store's
    own vault_checks report."""
    problems = []
    mism = manifest_mismatches(store.root, manifest)
    if mism:
        problems.append(f"row counts (want, got): {mism}")
    bad = vault_checks_failures(store)
    if bad:
        problems.append(f"vault_checks violations: {bad}")
    return problems


def dup_pairs_split(groups_df, pairs) -> list:
    """Injected duplicate pairs that do not share one dedup group."""
    gid = {r["doc_id"]: r["group_id"]
           for r in groups_df.select("doc_id", "group_id").collect()}
    return [(a, b) for a, b in pairs
            if gid.get(a) is None or gid.get(a) != gid.get(b)]
