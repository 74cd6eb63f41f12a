"""Incremental edge cases the oracle gate cannot exercise (it only
compares initial loads): reversion groups in multi-batch deltas,
per-rsrc_static watermarks for late-added sources, earliest-arrival
ldts ties, NULL-safe DELETE, crash-recoverable overwrite, empty
log_logic rejection."""

import datetime

import pytest
from pyspark.sql import functions as F

from datavault4dbt_spark.context import DEFAULT, Registry
from datavault4dbt_spark.operators.ref_entities import (
    RefHubConfig, RefSatConfig, build_ref_hub, build_ref_sat_v0)
from datavault4dbt_spark.operators.nh import NhLinkConfig, build_nh_link
from datavault4dbt_spark.operators.hub import (EntitySource, HubConfig,
                                               build_hub)
from datavault4dbt_spark.operators.link import LinkConfig, build_link
from datavault4dbt_spark.plans.incremental import ParquetStore

G = DEFAULT
TS = datetime.datetime


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_ref_sat_v0_keeps_reversion_group(spark):
    """Multi-batch delta K: ldts1=B, ldts2=A where the target's latest
    hashdiff is A — the reversion back to A MUST be inserted (reference:
    ref_sat_v0.sql restricts the NOT EXISTS to rn=1); anti-joining every
    delta row would end history at B forever."""
    schema = "k string, hd string, rsrc string, ldts timestamp"
    target = _df(spark, [("K", "A", "src", TS(2024, 1, 1))], schema)
    delta = _df(spark, [("K", "B", "src", TS(2024, 1, 2)),
                        ("K", "A", "src", TS(2024, 1, 3))], schema)
    reg = Registry()
    reg.spark_loaders["stage_ref"] = lambda _s: delta
    cfg = RefSatConfig("ref_sat_x", "stage_ref", ("k",), "hd")
    out = build_ref_sat_v0(spark, reg, cfg, G, target=target)
    got = sorted((r.hd, str(r.ldts)) for r in out.collect())
    assert got == [("A", "2024-01-03 00:00:00"), ("B", "2024-01-02 00:00:00")]

    # and when the first delta row MATCHES the latest, only it is dropped
    delta2 = _df(spark, [("K", "A", "src", TS(2024, 1, 2)),
                         ("K", "B", "src", TS(2024, 1, 3))], schema)
    # register() (not a bare spark_loaders assignment) so the cached
    # first-delta plan is invalidated
    reg.register("stage_ref", lambda _s: delta2, "stage_ref")
    out2 = build_ref_sat_v0(spark, reg, cfg, G, target=target)
    assert [(r.hd,) for r in out2.collect()] == [("B",)]


# the four builders of the earliest-arrival pattern, each over a stage
# with key k: (builder, config for one EntitySource)
EARLIEST_ARRIVAL = {
    "hub": (build_hub, lambda sm: HubConfig("hub_x", "k", ("a",), (sm,))),
    "link": (build_link,
             lambda sm: LinkConfig("link_x", "k", ("a", "b"), (sm,))),
    "nh_link": (build_nh_link, lambda sm: NhLinkConfig(
        "nh_link_x", "k", ("a", "b"), ("pay",), (sm,),
        source_is_single_batch=False)),
    "ref_hub": (build_ref_hub,
                lambda sm: RefHubConfig("ref_hub_x", ("k",), (sm,))),
}
STAGE = "k string, a string, b string, ldts timestamp, rsrc string, pay double"


@pytest.mark.parametrize("kind", sorted(EARLIEST_ARRIVAL))
def test_earliest_arrival_new_source_history_and_ldts_tie(spark, kind):
    """A newly added rsrc_static source whose rows predate the target's
    global HWM must still load (reference: hub.sql:44-131, nh_link.sql:
    61-100 per-source record-source lookup) — the global watermark
    belongs to the OTHER sources. Plus a hand-computed ldts tie."""
    build, make_cfg = EARLIEST_ARRIVAL[kind]
    target = _df(spark, [("K1", "a1", "b1", TS(2026, 1, 1), "S1/x", 1.0)],
                 STAGE)
    # new source S2: history older than target's max ldts
    s2 = _df(spark, [("K2", "a2", "b2", TS(2025, 6, 1), "S2/x", 2.0)], STAGE)
    reg = Registry()
    reg.spark_loaders["stage_s2"] = lambda _s: s2
    cfg = make_cfg(EntitySource("stage_s2", rsrc_static="S2/%"))
    out = build(spark, reg, cfg, G, target=target)
    assert [r.k for r in out.collect()] == ["K2"]
    # sanity: WITHOUT rsrc_static the global HWM drops the history
    cfg_plain = make_cfg(EntitySource("stage_s2"))
    assert build(spark, reg, cfg_plain, G, target=target).count() == 0

    # two rows of one key at the same ldts, rsrc 'B' first in the input
    # and 'A' second: the (ldts, rsrc) order keeps 'A' on the initial
    # load; against a target that already holds the key (at an earlier
    # ldts, so the HWM passes both rows) nothing is inserted
    tie = _df(spark, [("K", "aB", "bB", TS(2025, 1, 1), "B", 1.0),
                      ("K", "aA", "bA", TS(2025, 1, 1), "A", 2.0)], STAGE)
    reg.spark_loaders["stage_tie"] = lambda _s: tie
    cfg = make_cfg(EntitySource("stage_tie"))
    rows = build(spark, reg, cfg, G).collect()
    assert [(r.k, r.rsrc) for r in rows] == [("K", "A")]
    held = _df(spark, [("K", "a0", "b0", TS(2024, 1, 1), "A", 0.0)], STAGE)
    assert build(spark, reg, cfg, G, target=held).count() == 0


def test_delete_where_null_condition_keeps_row(spark, tmp_path):
    """SQL DELETE only removes TRUE matches; a NULL condition keeps the
    row."""
    store = ParquetStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, 5), (2, None), (3, 7)], "id int, x int")
    store.overwrite("t", df)
    store.delete_where("t", F.col("x") == 5)
    left = sorted(r.id for r in store.read("t").collect())
    assert left == [2, 3]          # NULL row kept, matching row deleted


def test_overwrite_crash_recovery(spark, tmp_path):
    """Simulated crash between the two renames: final missing, committed
    copy in .__old__ — read()/exists() REFUSE to self-heal (the read
    path stays mutation-free so readers can't race a live overwrite)
    and raise StoreRecoveryNeeded; explicit repair() restores."""
    import os
    from datavault4dbt_spark.plans.incremental import StoreRecoveryNeeded
    store = ParquetStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1,), (2,)], "id int")
    store.overwrite("t", df)
    os.rename(store.path("t"), store.path("t") + ".__old__")  # crash state
    with pytest.raises(StoreRecoveryNeeded, match="repair"):
        store.exists("t")
    with pytest.raises(StoreRecoveryNeeded, match="repair"):
        store.read("t")
    # append in the crash window must refuse too: writing a fresh
    # final dir would MASK the recovery state and strand the committed
    # history in .__old__ forever (repair only restores while the
    # final path is missing)
    with pytest.raises(StoreRecoveryNeeded, match="repair"):
        store.append("t", spark.createDataFrame([(7,)], "id int"))
    store.repair("t")
    assert store.exists("t")
    assert sorted(r.id for r in store.read("t").collect()) == [1, 2]
    # a fresh overwrite from the crash state also self-heals
    os.rename(store.path("t"), store.path("t") + ".__old__")
    store.overwrite("t", spark.createDataFrame([(9,)], "id int"))
    assert sorted(r.id for r in store.read("t").collect()) == [9]
    assert not os.path.isdir(store.path("t") + ".__old__")


def test_empty_log_logic_rejected(spark):
    from datavault4dbt_spark.operators.snapshots import (
        SnapV1Config, LogLogic, _snap_v1_sql)
    cfg = SnapV1Config("snap_x", "snap_v0",
                       log_logic={"is_active": LogLogic()})
    with pytest.raises(ValueError, match="no\\s+daily/weekly"):
        _snap_v1_sql(cfg, "snap_v0", G)


def test_sat_v0_null_hashdiff_inserts_not_vanishes(spark):
    """NULL hashdiff semantics mirror the reference NOT EXISTS, which
    drops only when t.hashdiff = src.hashdiff is strictly TRUE: a NULL
    delta hashdiff against a non-NULL target latest (and vice versa)
    must INSERT, not evaluate to NULL and silently vanish."""
    from datavault4dbt_spark.operators.sat import SatConfig, build_sat_v0

    schema = "hk string, hd string, rsrc string, ldts timestamp"
    target = _df(spark, [("K", "A", "src", TS(2024, 1, 1))], schema)
    delta = _df(spark, [("K", None, "src", TS(2024, 1, 2))], schema)
    reg = Registry()
    reg.spark_loaders["stage_x"] = lambda _s: delta
    cfg = SatConfig("sat_x", "stage_x", "hk", "hd")
    out = build_sat_v0(spark, reg, cfg, G, target=target)
    assert [(r.hd, str(r.ldts)) for r in out.collect()] == [
        (None, "2024-01-02 00:00:00")]

    # NULL target latest vs non-NULL delta also inserts
    target2 = _df(spark, [("K", None, "src", TS(2024, 1, 1))], schema)
    reg.register("stage_x", lambda _s: _df(
        spark, [("K", "B", "src", TS(2024, 1, 2))], schema), "stage_x")
    out2 = build_sat_v0(spark, reg, cfg, G, target=target2)
    assert [(r.hd,) for r in out2.collect()] == [("B",)]

    # NULL vs NULL: SQL equality is NULL, NOT EXISTS inserts
    reg.register("stage_x", lambda _s: delta, "stage_x")
    out3 = build_sat_v0(spark, reg, cfg, G, target=target2)
    assert [(r.hd,) for r in out3.collect()] == [(None,)]


def test_ref_sat_v0_null_hashdiff_inserts_not_vanishes(spark):
    """Same NULL contract for ref_sat_v0's rn=1 latest-compare."""
    schema = "k string, hd string, rsrc string, ldts timestamp"
    target = _df(spark, [("K", "A", "src", TS(2024, 1, 1))], schema)
    delta = _df(spark, [("K", None, "src", TS(2024, 1, 2))], schema)
    reg = Registry()
    reg.spark_loaders["stage_ref"] = lambda _s: delta
    cfg = RefSatConfig("ref_sat_x", "stage_ref", ("k",), "hd")
    out = build_ref_sat_v0(spark, reg, cfg, G, target=target)
    assert [(r.hd,) for r in out.collect()] == [(None,)]


def test_sat_v0_lag_dedup_null_matches_oracle_case(spark):
    """LAG dedup drops only on strict equality (oracle CASE WHEN eq THEN
    FALSE ELSE TRUE): consecutive NULL hashdiffs are both kept."""
    from datavault4dbt_spark.operators.sat import SatConfig, build_sat_v0

    schema = "hk string, hd string, rsrc string, ldts timestamp"
    src = _df(spark, [("K", None, "src", TS(2024, 1, 1)),
                      ("K", None, "src", TS(2024, 1, 2)),
                      ("K", "A", "src", TS(2024, 1, 3)),
                      ("K", "A", "src", TS(2024, 1, 4))], schema)
    reg = Registry()
    reg.spark_loaders["stage_x"] = lambda _s: src
    cfg = SatConfig("sat_x", "stage_x", "hk", "hd")
    out = build_sat_v0(spark, reg, cfg, G)
    got = sorted(((r.hd, str(r.ldts)) for r in out.collect()),
                 key=lambda t: t[1])
    assert got == [(None, "2024-01-01 00:00:00"),
                   (None, "2024-01-02 00:00:00"),
                   ("A", "2024-01-03 00:00:00")]
