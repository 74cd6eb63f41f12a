"""fixtures.ensure_session_conf repairs a live session: it sets every
runtime entry of context.SESSION_CONFS, skips the static ones (fixed
when the session was built), and lets a real error through."""

import pytest

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import SESSION_CONFS


class _RecordingConf:
    def __init__(self, conf, fail=False):
        self._conf = conf
        self._fail = fail
        self.set_keys = []

    def isModifiable(self, key):
        return self._conf.isModifiable(key)

    def set(self, key, value):
        if self._fail:
            raise RuntimeError(f"cannot set {key}")
        self.set_keys.append(key)
        self._conf.set(key, value)


class _Session:
    def __init__(self, conf):
        self.conf = conf


def test_runtime_confs_set_static_skipped(spark):
    static = [k for k, _ in SESSION_CONFS if not spark.conf.isModifiable(k)]
    assert static == ["spark.sql.codegen.cache.maxEntries"]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    rec = _RecordingConf(spark.conf)
    try:
        fixtures.ensure_session_conf(_Session(rec))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert rec.set_keys == [k for k, _ in SESSION_CONFS if k not in static]
    # the suite's session is built through configure_session_builder,
    # so the static entry holds too
    for k, v in SESSION_CONFS:
        assert spark.conf.get(k) == v
    fixtures.ensure_session_conf(spark)     # the real session: no raise


def test_error_setting_a_runtime_conf_raises(spark):
    with pytest.raises(RuntimeError, match="cannot set"):
        fixtures.ensure_session_conf(
            _Session(_RecordingConf(spark.conf, fail=True)))
