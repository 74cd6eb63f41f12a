"""Driver-contract smoke: entry() must run against a bare SparkSession
and return a stable-schema DataFrame; queries()/oracle_sql() must stay
consistent (every oracle key has a query, column names line up after
the driver's sort-by-name compare)."""

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import testdata_registry as make_registry
from datavault4dbt_spark.operators import bundle


def test_entry_runs_and_has_stable_schema(spark):
    df = entrymod.entry(spark)
    cols = set(df.columns)
    assert {"hk_customer_h", "c_custkey", "hd_customer_n_s",
            "ldts", "ledts"} <= cols
    assert df.count() >= 0


def test_queries_and_oracle_keys_consistent():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert list(qs) == fixtures.all_entity_names()
    # the driver checks the first 50 keys: the exposed surface must fit
    # entirely inside that window (bundled entities are verified through
    # the four thematic bundles — see fixtures._BUNDLED /
    # operators/bundle.py)
    assert len(qs) <= 50
    for b in ("vault_core_bundle", "curation_bundle",
              "corpus_stats_bundle", "analytics_bundle"):
        assert b in qs
    # localization contract (r9 advice #1): no bundle may regrow past
    # 30 members — a broken member must localize to a <=30-member union
    for cfg in fixtures.BUNDLES.values():
        assert len(cfg.members) <= 30, cfg.name
    # every declared entity is either exposed or bundle-verified
    exposed = set(qs) | fixtures._BUNDLED
    assert exposed == set(fixtures.declared_entity_names())


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_bundle_union_split_gated_on_source_bytes(spark, sf_dir,
                                                  monkeypatch):
    """Bundle union split: on the small testdata registry every thematic
    bundle's union gets per-branch rebalance exchanges; with the
    registry's source bytes at the ceiling (or an unknown-scale
    registry, source_bytes == 0) the union must stay exchange-free at
    the top — the production shape."""
    df = fixtures.entity_query("vault_core_bundle")(spark, sf_dir)
    assert "RebalancePartitions" in _analyzed(df)

    monkeypatch.setattr(bundle, "UNION_SPLIT_MAX_SOURCE_BYTES",
                        make_registry(sf_dir).source_bytes)
    off = fixtures.entity_query("vault_core_bundle")(spark, sf_dir)
    assert "RebalancePartitions" not in _analyzed(off)
    monkeypatch.undo()

    reg = fixtures.registry(spark, sf_dir)
    reg.source_bytes = 0
    unknown = reg.load(spark, "vault_core_bundle")
    assert "RebalancePartitions" not in _analyzed(unknown)
