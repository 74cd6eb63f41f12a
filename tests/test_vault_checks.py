"""Soft-constraint check behavior (operators/checks.py): each kind's
violation arithmetic on frames with known defects, NULL handling per
dbt generic-test semantics, and config validation. The driver fixture
(vault_checks) is row-level verified by test_oracle_parity."""

import pytest

from datavault4dbt_spark.context import DEFAULT, Registry
from datavault4dbt_spark.operators.checks import (
    Check, VaultChecksConfig, build_vault_checks)

G = DEFAULT


def _reg(**frames):
    reg = Registry()
    for name, df in frames.items():
        reg.register(name, lambda s, d=df: d, name)
    return reg


def _run(spark, reg, *checks):
    out = build_vault_checks(
        spark, reg, VaultChecksConfig("t", tuple(checks)), G).collect()
    return {(r.entity, r.check_kind, r.check_cols): r.n_violations
            for r in out}


def test_not_null_counts_rows_with_any_null(spark):
    t = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, None), (None, None)],
        "k long, v string")
    got = _run(spark, _reg(t=t), Check("t", "not_null", ("k", "v")))
    assert got == {("t", "not_null", "k,v"): 3}


def test_unique_counts_surplus_rows_including_null_groups(spark):
    t = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,), (None,)], "k long")
    got = _run(spark, _reg(t=t), Check("t", "unique", ("k",)))
    # three 1s -> 2 surplus; two NULLs -> 1 surplus (NULL tuples are
    # one group, dbt's unique would skip them — our stricter fold
    # counts them, matching the oracle's identical sentinel encoding)
    assert got == {("t", "unique", "k"): 3}


def test_unique_combination_on_composite_grain(spark):
    t = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a")], "k long, d string")
    got = _run(spark, _reg(t=t),
               Check("t", "unique_combination", ("k", "d")))
    assert got == {("t", "unique_combination", "k,d"): 1}


def test_tuple_encoding_is_injective_on_separator_bytes(spark):
    """Components containing the separator/sentinel bytes must not
    make distinct tuples collide (round-7 advice: a raw concat_ws
    undercounted — ('a\\x01b','c') vs ('a','b\\x01c') folded to one
    tuple). The md5-per-component encoding keeps them apart."""
    t = spark.createDataFrame(
        [("a\x01b", "c"), ("a", "b\x01c"),
         ("a:b", "c"), ("a", "b:c"),
         ("x\x00null", None), ("x", None)],
        "k string, d string")
    got = _run(spark, _reg(t=t),
               Check("t", "unique_combination", ("k", "d")))
    assert got == {("t", "unique_combination", "k,d"): 0}


def test_relationship_ignores_null_fks(spark):
    child = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    got = _run(spark, _reg(c=child, p=parent),
               Check("c", "relationship", ("fk",),
                     to_entity="p", to_columns=("pk",)))
    # 99 is orphaned; the NULL fk is ignored (dbt relationships test)
    assert got == {("c", "relationship", "fk"): 1}


def test_all_checks_union_into_one_report(spark):
    t = spark.createDataFrame([(1,), (1,)], "k long")
    got = _run(spark, _reg(t=t),
               Check("t", "not_null", ("k",)),
               Check("t", "unique", ("k",)))
    assert got == {("t", "not_null", "k"): 0, ("t", "unique", "k"): 1}


def test_config_validation():
    with pytest.raises(ValueError):
        Check("t", "primary_key", ("k",))
    with pytest.raises(ValueError):
        Check("t", "unique", ())
    with pytest.raises(ValueError):
        Check("t", "relationship", ("k",))  # no to_entity
    with pytest.raises(ValueError):
        Check("t", "relationship", ("a", "b"), to_entity="p",
              to_columns=("x",))  # arity mismatch
    with pytest.raises(ValueError):
        VaultChecksConfig("t", ())


# --- parity with the DuckDB oracle on edge layouts ------------------
# Each case writes its frames to parquet, runs build_vault_checks over
# them and vault_checks_oracle over the same files, and pins the counts
# both engines must report.

def _both(spark, tmp_path, frames: dict, *checks):
    import duckdb

    from datavault4dbt_spark.operators.checks import vault_checks_oracle
    from datavault4dbt_spark.plans.sqlbuild import SqlBuilder

    reg = Registry()
    for name, (rows, schema) in frames.items():
        path = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        reg.register_parquet(name, path, f"read_parquet('{path}/*.parquet')")
    cfg = VaultChecksConfig("t", tuple(checks))
    got = {(r.entity, r.check_kind, r.check_cols): r.n_violations
           for r in build_vault_checks(spark, reg, cfg, G).collect()}
    b = SqlBuilder()
    sql = b.render(f"SELECT * FROM {vault_checks_oracle(b, reg, cfg, G)}")
    want = {(e, k, c): n
            for e, k, c, n in duckdb.connect().execute(sql).fetchall()}
    assert got == want
    return got


def test_parity_empty_entity_reports_zero_for_every_check(spark, tmp_path):
    got = _both(
        spark, tmp_path,
        {"t": ([], "k string, v long"),
         "p": ([("a",)], "pk string")},
        Check("t", "not_null", ("k", "v")),
        Check("t", "unique", ("k",)),
        Check("t", "unique_combination", ("k", "v")),
        Check("t", "relationship", ("k",), to_entity="p",
              to_columns=("pk",)))
    assert got == {("t", "not_null", "k,v"): 0, ("t", "unique", "k"): 0,
                   ("t", "unique_combination", "k,v"): 0,
                   ("t", "relationship", "k"): 0}


def test_parity_parent_with_duplicate_keys(spark, tmp_path):
    got = _both(
        spark, tmp_path,
        {"c": ([("a",), ("a",), ("b",), ("c",), (None,)], "fk string"),
         "p": ([("a",), ("a",), ("b",), ("b",)], "pk string")},
        Check("c", "relationship", ("fk",), to_entity="p",
              to_columns=("pk",)),
        Check("p", "unique", ("pk",)))
    # only 'c' is orphaned: a duplicated parent key still matches once
    assert got == {("c", "relationship", "fk"): 1, ("p", "unique", "pk"): 2}


def test_parity_multi_column_relationship_partly_null_fks(spark, tmp_path):
    got = _both(
        spark, tmp_path,
        {"c": ([(1, "x"), (1, None), (None, "y"), (None, None),
                (2, "z"), (3, "x"), (2, "y")], "f1 long, f2 string"),
         "p": ([(1, "x"), (2, "y"), (1, None)], "p1 long, p2 string")},
        Check("c", "relationship", ("f1", "f2"), to_entity="p",
              to_columns=("p1", "p2")))
    # (2,'z') and (3,'x') are orphaned; the three rows with a NULL fk
    # component are never counted, even against the parent's (1, NULL)
    assert got == {("c", "relationship", "f1,f2"): 2}


def test_parity_entity_is_subject_and_parent(spark, tmp_path):
    got = _both(
        spark, tmp_path,
        {"h": ([("h1", "r1"), ("h2", "r9"), ("h2", "r1")], "hk string, rk string"),
         "l": ([("l1", "h1"), ("l2", "h3"), ("l3", "h2")], "lk string, hk string"),
         "r": ([("r1",)], "rk string")},
        Check("h", "unique", ("hk",)),
        Check("l", "relationship", ("hk",), to_entity="h"),
        Check("h", "relationship", ("rk",), to_entity="r"),
        Check("h", "not_null", ("hk",)))
    assert got == {("h", "unique", "hk"): 1, ("l", "relationship", "hk"): 1,
                   ("h", "relationship", "rk"): 1, ("h", "not_null", "hk"): 0}


def test_parity_long_keys_beside_string_hashkeys(spark, tmp_path):
    got = _both(
        spark, tmp_path,
        {"h": ([(1, "a" * 32), (2, "b" * 32), (2, "c" * 32)],
               "id long, hk string"),
         "l": ([(1, 1, "a" * 32), (7, 7, "b" * 32), (2, 3, "d" * 32)],
               "fk long, fk_i int, hk string")},
        Check("h", "unique", ("id",)),
        Check("h", "unique", ("hk",)),
        Check("l", "relationship", ("fk",), to_entity="h",
              to_columns=("id",)),
        Check("l", "relationship", ("fk_i",), to_entity="h",
              to_columns=("id",)),
        Check("l", "relationship", ("hk",), to_entity="h"))
    assert got == {("h", "unique", "id"): 1, ("h", "unique", "hk"): 0,
                   ("l", "relationship", "fk"): 1,
                   ("l", "relationship", "fk_i"): 2,
                   ("l", "relationship", "hk"): 1}


def test_parity_relationship_keys_of_different_types_compare_by_value(
        spark, tmp_path):
    got = _both(
        spark, tmp_path,
        {"c": ([(1.0,), (2.5,)], "fk double"),
         "p": ([(1,), (2,)], "pk long")},
        Check("c", "relationship", ("fk",), to_entity="p",
              to_columns=("pk",)))
    # 1.0 = 1 holds; only 2.5 is orphaned
    assert got == {("c", "relationship", "fk"): 1}
