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


# -- input-key skip -------------------------------------------------------

_INCREMENTAL = {"hub_customer", "link_customer_nation", "sat_customer_n0_s",
                "pit_customer", "bridge_customer_nation"}


def _example_sources(root):
    """Private copies of the example project's two sources, so a test can
    rewrite them."""
    import shutil
    root.mkdir()
    paths = {}
    for t in ("customer", "nation"):
        paths[t] = str(root / f"{t}.parquet")
        shutil.copy(f"{SF_DIR}/{t}.parquet", paths[t])
    return paths


def _parquet_registry(paths):
    from datavault4dbt_spark.context import Registry
    reg = Registry()
    for name, path in paths.items():
        reg.register_parquet(name, path)
    return reg


def _rewrite(path):
    """Rewrite a file in place with the same bytes (same size and
    inode, later mtime)."""
    import time
    with open(path, "rb") as f:
        data = f.read()
    time.sleep(0.05)
    with open(path, "wb") as f:
        f.write(data)


def _counted(decls, calls):
    """decls whose builders append their entity name to ``calls``."""
    import dataclasses

    def wrap(name, fn):
        def build(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)
        return build
    return {n: dataclasses.replace(d, build=wrap(n, d.build))
            for n, d in decls.items()}


class _Vault:
    """The example project over private sources, with builder calls
    counted: ``run()`` returns the incremental entities it built."""

    def __init__(self, spark, root, paths=None):
        from datavault4dbt_spark.plans.project import load_project
        fixtures.ensure_session_conf(spark)
        self.spark = spark
        self.paths = paths or _example_sources(root / "src")
        self.calls: list = []
        self.decls = _counted(load_project("examples/project"), self.calls)
        self.store = ParquetStore(spark, str(root / "wh"))

    def run(self, reg=None, **kw):
        self.calls.clear()
        self.counts = run_pipeline(self.spark, self.decls, self.store,
                                   reg or _parquet_registry(self.paths),
                                   **kw)
        return set(self.calls) & _INCREMENTAL

    def listing(self):
        return {n: self.store.listing(n) for n in _INCREMENTAL}

    def rows(self, name):
        return sorted(map(str, self.store.read(name).collect()))

    def set_cfg(self, name, **changes):
        import dataclasses
        d = self.decls[name]
        self.decls[name] = dataclasses.replace(
            d, cfg=dataclasses.replace(d.cfg, **changes))


def test_rerun_skips_and_each_change_reruns_its_closure(spark, tmp_path):
    v = _Vault(spark, tmp_path)
    assert v.run() == _INCREMENTAL
    before = v.listing()
    # nothing changed: no incremental builder runs, no file lands
    assert v.run() == set()
    assert all(v.counts[n] == 0 for n in _INCREMENTAL)
    assert v.listing() == before
    assert v.counts["vault_checks"] == 6        # tables still rebuild

    # one entity's config: the snapshot view feeds only pit and bridge
    v.set_cfg("control_snap_v1", current_ts="2024-02-02 00:00:00")
    assert v.run() == {"pit_customer", "bridge_customer_nation"}
    assert v.run() == set()

    # one source file rewritten at the same size: the stage view's
    # consumers rerun; they append nothing, so pit and bridge skip
    _rewrite(v.paths["nation"])
    assert v.run() == {"hub_customer", "link_customer_nation",
                       "sat_customer_n0_s"}
    assert v.run() == set()

    # an external append to one upstream table: it and its consumers
    hub = v.store.read("hub_customer")
    v.store.append("hub_customer", spark.createDataFrame(
        hub.limit(1).collect(), hub.schema))
    assert v.run() == {"hub_customer", "pit_customer",
                       "bridge_customer_nation"}
    assert v.run() == set()


def test_unknowable_inputs_never_skip(spark, tmp_path):
    import os

    v = _Vault(spark, tmp_path)
    v.set_cfg("control_snap_v1", current_ts=None)
    v.run()
    # snap_v1 reads "now": pit and bridge rerun and keep no key
    assert v.run() == {"pit_customer", "bridge_customer_nation"}
    assert not os.path.exists(os.path.join(v.store.path("pit_customer"),
                                           ParquetStore.KEY_FILE))

    # a loader source is unknown to the key: its consumers always rerun
    v.set_cfg("control_snap_v1", current_ts="2024-02-01 00:00:00")
    reg = _parquet_registry(v.paths)
    reg.register("nation", lambda s, p=v.paths["nation"]: s.read.parquet(p),
                 "nation")
    v.run(reg=reg)
    assert v.run(reg=reg) == {"hub_customer", "link_customer_nation",
                              "sat_customer_n0_s"}


def test_builder_reading_outside_its_deps_never_skips(spark, sf_dir,
                                                     tmp_path):
    # _decls()'s stage_customer declares no deps but reads customer and
    # nation: the key would not see them change, so nothing downstream
    # of it may skip
    fixtures.ensure_session_conf(spark)
    calls: list = []
    decls = _counted(_decls(), calls)
    store = ParquetStore(spark, str(tmp_path))
    paths = {t: f"{sf_dir}/{t}.parquet" for t in ("customer", "nation")}
    for _ in range(2):
        calls.clear()
        run_pipeline(spark, decls, store, _parquet_registry(paths))
        assert "hub_customer" in calls
    assert store.recorded_key("stage_customer") is None


def test_input_key_refuses_clock_reads_and_unstable_values(sf_dir,
                                                           tmp_path):
    import dataclasses

    from datavault4dbt_spark.plans.pipeline import input_keys
    from datavault4dbt_spark.plans.project import load_project

    decls = load_project("examples/project")
    reg = _parquet_registry({t: f"{sf_dir}/{t}.parquet"
                             for t in ("customer", "nation")})
    store = ParquetStore(None, str(tmp_path))
    assert input_keys(decls, store, reg)("hub_customer") is not None
    stage = decls["stage_customer"]
    for ldts in ("current_timestamp()", "CURRENT_DATE - INTERVAL 1 DAY",
                 lambda: "2024-01-01"):
        changed = {**decls, "stage_customer": dataclasses.replace(
            stage, cfg=dataclasses.replace(stage.cfg, ldts=ldts))}
        key = input_keys(changed, store, reg)
        assert key("stage_customer") is None, ldts
        assert key("hub_customer") is None, ldts


def test_excluded_table_dependency_contributes_recorded_key(spark, tmp_path):
    v = _Vault(spark, tmp_path)
    v.run()
    v.set_cfg("control_snap_v0", end_date="2024-01-30")
    # excluded: its stored table and recorded key stand, so consumers
    # skip although its live config changed
    assert v.run(exclude="control_snap_v0") == set()
    # rebuilt: the new key reaches pit and bridge
    assert v.run() == {"pit_customer", "bridge_customer_nation"}


def test_kill_between_data_write_and_key_write(spark, tmp_path):
    """A run killed after a successful write but before its key write
    (an append, then an overwrite) converges to a clean load."""
    v = _Vault(spark, tmp_path)
    v.run()
    _rewrite(v.paths["customer"])       # hub must really run next
    real, killed = v.store.record_key, []

    def record_key(name, key):
        if name in ("hub_customer", "control_snap_v0") and name not in killed:
            killed.append(name)
            raise OSError(f"killed before {name}'s key write")
        return real(name, key)
    v.store.record_key = record_key
    with pytest.raises(OSError, match="hub_customer"):
        v.run()
    hub = v.store.listing("hub_customer")
    # hub's recorded key is stale: it runs again and appends nothing
    with pytest.raises(OSError, match="control_snap_v0"):
        v.run()
    assert "hub_customer" in v.calls
    assert v.store.listing("hub_customer") == hub
    v.run()
    clean = _Vault(spark, tmp_path / "clean", paths=v.paths)
    clean.run()
    for name in _INCREMENTAL | {"control_snap_v0", "vault_checks"}:
        assert v.rows(name) == clean.rows(name), name
    assert v.run() == set()


_KEYS_SCRIPT = """
import json, sys
from datavault4dbt_spark.plans.incremental import ParquetStore
from datavault4dbt_spark.plans.pipeline import input_keys
from datavault4dbt_spark.plans.project import load_project
from datavault4dbt_spark.context import Registry
reg = Registry()
for name, path in json.loads(sys.argv[2]).items():
    reg.register_parquet(name, path)
decls = load_project("examples/project")
key = input_keys(decls, ParquetStore(None, sys.argv[1]), reg)
print(json.dumps({n: key(n) for n in sorted(decls)}))
"""


def test_input_keys_are_deterministic(spark, tmp_path):
    """Two parses and two interpreters with different hash seeds agree
    on every key: no hash(), id() or address-bearing repr enters it."""
    import json
    import os
    import subprocess
    import sys

    from datavault4dbt_spark.plans.pipeline import input_keys
    from datavault4dbt_spark.plans.project import load_project

    v = _Vault(spark, tmp_path)
    v.decls = load_project("examples/project")
    v.run()
    keys = [input_keys(load_project("examples/project"), v.store,
                       _parquet_registry(v.paths)) for _ in range(2)]
    want = {n: keys[0](n) for n in sorted(v.decls)}
    assert want == {n: keys[1](n) for n in sorted(v.decls)}
    assert want["hub_customer"] == v.store.recorded_key("hub_customer")
    assert want["pit_customer"] == v.store.recorded_key("pit_customer")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", _KEYS_SCRIPT, v.store.root,
             json.dumps(v.paths)], cwd=repo, capture_output=True,
            text=True, check=True,
            env={**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": repo})
        assert json.loads(out.stdout.strip().splitlines()[-1]) == want
