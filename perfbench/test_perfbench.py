"""The benchmark's own tests: seeded inputs and the output checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402

SMALL = {"customers": 200, "orders": 1000, "days": 2}


def _file_bytes(dirname):
    return {f: open(os.path.join(dirname, f), "rb").read()
            for f in sorted(os.listdir(dirname))}


def test_vault_inputs_repeat_per_seed(tmp_path):
    days = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        ext = gen.vault_extracts(seed, **SMALL)
        for d, rows in enumerate(ext):
            gen.write_vault_day(str(tmp_path / tag / str(d)), rows)
        days[tag] = [_file_bytes(str(tmp_path / tag / str(d)))
                     for d in range(len(ext))]
    assert days["a"] == days["b"]
    for d in range(SMALL["days"] + 1):
        assert days["a"][d]["customer.parquet"] != \
            days["c"][d]["customer.parquet"]


def test_curation_inputs_repeat_per_seed(tmp_path):
    out = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        docs, _pairs = gen.curation_inputs(seed)
        gen.write_curation(str(tmp_path / tag), docs)
        out[tag] = _file_bytes(str(tmp_path / tag))
    assert out["a"] == out["b"]
    assert out["a"] != out["c"]


def test_vault_manifest_counts_real_changes_only():
    ext = gen.vault_extracts(1, **SMALL)
    day0 = gen.vault_manifest(ext[:1])
    n0 = int(SMALL["customers"] * gen.DAY0_SHARE)
    assert day0["hub_customer"] == n0 + gen.GHOST_ROWS
    assert day0["sat_customer_n0_s"] == n0 + gen.GHOST_ROWS
    assert day0["hub_order"] == SMALL["orders"] // 2 + gen.GHOST_ROWS
    both = gen.vault_manifest(ext[:2])
    c_rows = ext[1][0]
    new = [r for r in c_rows if r[0] >= n0]
    prev = {r[0]: r[3:5] for r in ext[0][0]}
    changed = [r for r in c_rows if r[0] < n0 and r[3:5] != prev[r[0]]]
    resent = [r for r in c_rows if r[0] < n0 and r[3:5] == prev[r[0]]]
    assert resent, "the generator must re-send some unchanged rows"
    assert both["hub_customer"] == day0["hub_customer"] + len(new)
    assert both["sat_customer_n0_s"] == (day0["sat_customer_n0_s"]
                                         + len(new) + len(changed))


def test_injected_duplicates():
    docs, pairs = gen.curation_inputs(5)
    assert len(pairs) == gen.EXACT_DUPS + gen.NEAR_DUPS
    text = {d[0]: d[1] for d in docs}
    exact = [p for p in pairs if text[p[0]] == text[p[1]]]
    assert len(exact) == gen.EXACT_DUPS
    for a, b in pairs[gen.EXACT_DUPS:]:
        wa, wb = text[a].split(), text[b].split()
        assert wa[:-1] == wb[:-1] and wa[-1] != wb[-1]
        assert len(wa) >= gen.NEAR_DUP_MIN_WORDS


def test_dup_pairs_split_detects_a_split_pair():
    class Rows:
        def __init__(self, rows):
            self.rows = rows

        def select(self, *_cols):
            return self

        def collect(self):
            return self.rows

    groups = Rows([{"doc_id": 1, "group_id": 1}, {"doc_id": 2, "group_id": 1},
                   {"doc_id": 3, "group_id": 3}, {"doc_id": 4, "group_id": 4}])
    assert checks.dup_pairs_split(groups, [(1, 2)]) == []
    assert checks.dup_pairs_split(groups, [(1, 2), (3, 4), (5, 6)]) == \
        [(3, 4), (5, 6)]


# ------------------------------------------------- checks against Spark --


@pytest.fixture(scope="module")
def loaded_vault(tmp_path_factory):
    """A two-day incremental load of the bench vault project."""
    pytest.importorskip("pyspark")
    import run

    work = str(tmp_path_factory.mktemp("vault"))
    run.prepare_env(work)
    spark = run.make_session(work, 2)
    from datavault4dbt_spark.context import Registry
    from datavault4dbt_spark.plans.incremental import ParquetStore
    from datavault4dbt_spark.plans.pipeline import run_pipeline
    from datavault4dbt_spark.plans.project import load_project

    ext = gen.vault_extracts(3, **SMALL)[:2]
    store = ParquetStore(spark, os.path.join(work, "store"))
    for d, rows in enumerate(ext):
        reg = Registry()
        for name, path in gen.write_vault_day(
                os.path.join(work, "in", str(d)), rows)["paths"].items():
            reg.register_parquet(name, path)
        run_pipeline(spark, load_project(run.VAULT_PROJECT), store, reg,
                     count_rows=False)
    yield spark, store, ext, work
    run.stop_session(spark)


def _copy_store(spark, store, work, tag):
    from datavault4dbt_spark.plans.incremental import ParquetStore

    root = os.path.join(work, tag)
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(store.root, root)
    return ParquetStore(spark, root)


def _rewrite(store, table, edit):
    """Replace the first non-empty file of ``table`` with edit(rows),
    dropping its Hadoop checksum so Spark reads the edited bytes."""
    path = sorted(p for p, (e, _) in checks.store_files(store.root).items()
                  if e == table and pq.ParquetFile(p).metadata.num_rows)[0]
    pq.write_table(edit(pq.read_table(path)), path,
                   use_deprecated_int96_timestamps=True)
    crc = os.path.join(os.path.dirname(path),
                       f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_checks_pass_on_a_correct_load(loaded_vault):
    import run

    spark, store, ext, work = loaded_vault
    assert checks.vault_problems(store, gen.vault_manifest(ext)) == []
    assert run.oneshot_mismatch(spark, store, os.path.join(work, "ok"),
                                ext) == []


def test_checks_fail_on_a_dropped_sat_row(loaded_vault):
    import run

    spark, store, ext, work = loaded_vault
    bad = _copy_store(spark, store, work, "drop_sat_row")
    _rewrite(bad, "sat_customer_n0_s", lambda t: t.slice(1))
    assert checks.vault_problems(bad, gen.vault_manifest(ext))
    assert run.oneshot_mismatch(spark, bad, os.path.join(work, "o1"), ext)


def test_checks_fail_on_a_duplicated_hub_row(loaded_vault):
    import run

    spark, store, ext, work = loaded_vault
    bad = _copy_store(spark, store, work, "dup_hub_row")
    _rewrite(bad, "hub_customer",
             lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    assert checks.vault_problems(bad, gen.vault_manifest(ext))
    assert run.oneshot_mismatch(spark, bad, os.path.join(work, "o2"), ext)
