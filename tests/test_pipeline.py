"""Sources (csv/json readers) and the pipeline runner (dbt-run
equivalent): full vault load in dependency order, idempotent re-run."""

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import DEFAULT, testdata_registry as make_registry
from datavault4dbt_spark.sources.readers import (SourceConfig, read_source,
                                                 register_sources)
from datavault4dbt_spark.operators.stage import build_stage
from datavault4dbt_spark.operators.hub import build_hub
from datavault4dbt_spark.operators.link import build_link
from datavault4dbt_spark.operators.sat import build_sat_v0
from datavault4dbt_spark.plans.incremental import ParquetStore
from datavault4dbt_spark.plans.pipeline import EntityDecl, topo_sort, run_pipeline


@pytest.fixture(scope="module")
def csv_json_sources(tmp_path_factory):
    root = tmp_path_factory.mktemp("srcfmt")
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM '{SF_DIR}/nation.parquet') "
                f"TO '{root}/nation.csv' (FORMAT CSV, HEADER)")
    con.execute(f"COPY (SELECT * FROM '{SF_DIR}/customer.parquet') "
                f"TO '{root}/customer.json' (FORMAT JSON)")
    return str(root)


def test_csv_and_json_sources_match_parquet(spark, sf_dir, csv_json_sources):
    pq = spark.read.parquet(f"{sf_dir}/nation.parquet")
    csv = read_source(spark, SourceConfig(
        "nation", f"{csv_json_sources}/nation.csv", "csv",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        options=(("header", "true"),)))
    assert sorted(map(str, csv.collect())) == sorted(map(str, pq.collect()))

    js = read_source(spark, SourceConfig(
        "customer", f"{csv_json_sources}/customer.json", "json",
        schema=("c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING")))
    assert js.count() == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


def test_register_sources_feeds_stage(spark, sf_dir, csv_json_sources):
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    register_sources(reg, [SourceConfig(
        "nation", f"{csv_json_sources}/nation.csv", "csv",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        options=(("header", "true"),))])
    got = build_stage(spark, reg, fixtures.STAGES["stage_nation"])
    want = fixtures.entity_query("stage_nation")(spark, sf_dir)
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def _decls():
    return {
        "stage_customer": EntityDecl(
            "stage_customer", build_stage, fixtures.STAGES["stage_customer"],
            deps=(), materialize="table"),
        "hub_customer": EntityDecl(
            "hub_customer", build_hub, fixtures.HUBS["hub_customer"],
            deps=("stage_customer",), keys=("hk_customer_h",)),
        "link_customer_nation": EntityDecl(
            "link_customer_nation", build_link,
            fixtures.LINKS["link_customer_nation"],
            deps=("stage_customer",), keys=("hk_customer_nation_l",)),
        "sat_customer_n0_s": EntityDecl(
            "sat_customer_n0_s", build_sat_v0, fixtures.SATS["sat_customer_n0_s"],
            deps=("stage_customer",), keys=("hk_customer_h", "hd_customer_n_s")),
    }


def test_topo_sort_orders_deps_first():
    order = topo_sort(_decls())
    assert order.index("stage_customer") < order.index("hub_customer")
    assert order.index("stage_customer") < order.index("sat_customer_n0_s")


def test_run_pipeline_full_then_idempotent_rerun(spark, sf_dir, tmp_path):
    fixtures.ensure_session_conf(spark)
    store = ParquetStore(spark, str(tmp_path))
    reg = make_registry(sf_dir)
    counts = run_pipeline(spark, _decls(), store, reg)
    want_hub = fixtures.entity_query("hub_customer")(spark, sf_dir)
    assert counts["hub_customer"] == want_hub.count()
    got = store.read("hub_customer")
    assert sorted(map(str, got.collect())) == sorted(map(str, want_hub.collect()))

    # re-run: stage rewrites (table), incrementals insert nothing
    reg2 = make_registry(sf_dir)
    counts2 = run_pipeline(spark, _decls(), store, reg2)
    assert counts2["hub_customer"] == 0
    assert counts2["link_customer_nation"] == 0
    assert counts2["sat_customer_n0_s"] == 0
    assert store.read("hub_customer").count() == want_hub.count()


class _FailingAppendStore(ParquetStore):
    def append(self, name, df, **kw):
        raise OSError("disk full")


def test_run_pipeline_failed_write_releases_delta_cache(spark, sf_dir,
                                                        tmp_path):
    # count_rows persists the delta before its count + write; a failed
    # write must still unpersist it, or it stays cached for the life of
    # the session
    fixtures.ensure_session_conf(spark)
    spark.catalog.clearCache()
    decls = {"stage_customer": _decls()["stage_customer"]}
    with pytest.raises(OSError, match="disk full"):
        run_pipeline(spark, decls, _FailingAppendStore(spark, str(tmp_path)),
                     make_registry(sf_dir))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_select_nodes_grammar():
    from datavault4dbt_spark.plans.pipeline import select_nodes
    decls = _decls()
    assert select_nodes(decls) == set(decls)
    assert select_nodes(decls, "hub_customer") == {"hub_customer"}
    assert select_nodes(decls, "+hub_customer") == {
        "stage_customer", "hub_customer"}
    assert select_nodes(decls, "stage_customer+") == set(decls)
    assert select_nodes(decls, "sat_*") == {"sat_customer_n0_s"}
    assert select_nodes(decls, "stage_customer+",
                        exclude="link_*") == set(decls) - {
        "link_customer_nation"}
    with pytest.raises(ValueError, match="matches no"):
        select_nodes(decls, "nope_*")


def test_run_pipeline_selective_subtree(spark, sf_dir, tmp_path):
    """dbt --select semantics: (1) a selected subtree whose skipped
    dependency was never materialized fails up front; (2) +node builds
    the ancestors too; (3) a later selective run rebuilds ONLY the
    chosen node against the STORED dependency — the other entities'
    tables stay untouched."""
    fixtures.ensure_session_conf(spark)
    store = ParquetStore(spark, str(tmp_path))
    with pytest.raises(ValueError, match="never materialized"):
        run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                     select="hub_customer")
    counts = run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                          select="+hub_customer")
    assert set(counts) == {"stage_customer", "hub_customer"}
    assert not store.exists("sat_customer_n0_s")
    want_hub = store.read("hub_customer").count()
    assert counts["hub_customer"] == want_hub > 0

    # now the satellite alone: reads the STORED stage, builds only itself
    counts2 = run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                           select="sat_customer_n0_s")
    assert set(counts2) == {"sat_customer_n0_s"}
    want_sat = fixtures.entity_query("sat_customer_n0_s")(spark, sf_dir)
    got = store.read("sat_customer_n0_s")
    assert sorted(map(str, got.collect())) == sorted(
        map(str, want_sat.collect()))
    # untouched branch stayed untouched; selective rerun is idempotent
    assert not store.exists("link_customer_nation")
    counts3 = run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                           select="sat_customer_n0_s")
    assert counts3 == {"sat_customer_n0_s": 0}
