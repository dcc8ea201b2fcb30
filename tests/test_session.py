"""Session configuration: the engine's confs reach the session, and a
conf that cannot be applied is reported, never silently dropped."""

from __future__ import annotations

import warnings

import pytest

from event_stream_checkout_spark import session as S

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


class _StubConf:
    """``spark.conf`` of a session built elsewhere: ``refuse`` lists
    confs whose ``set`` raises, ``fixed`` maps static confs to the
    values that session was built with."""

    def __init__(self, refuse=(), fixed=None):
        self.refuse = set(refuse)
        self.values = dict(fixed or {})

    def set(self, key, value):
        if key in self.refuse:
            raise RuntimeError(f"Cannot modify the value of the config: {key}")
        self.values[key] = value

    def get(self, key):
        return self.values[key]


class _StubSession:
    def __init__(self, **kw):
        self.conf = _StubConf(**kw)


@pytest.fixture()
def fresh_warnings(monkeypatch):
    monkeypatch.setattr(S, "_warned", set())


def test_configure_warns_once_per_conf_it_cannot_apply(fresh_warnings):
    """A driver-built session: one optional runtime conf is refused
    and the codegen cache kept Spark's default size.  Each is named in
    one warning, and a second ``configure`` (it runs on every table
    load) repeats neither."""
    stub = _StubSession(
        refuse=["spark.sql.shuffle.partitions"], fixed={CACHE_CONF: "100"}
    )
    with pytest.warns(RuntimeWarning) as record:
        S.configure(stub)
    messages = sorted(str(w.message) for w in record)
    assert len(messages) == 2, messages
    assert "spark.sql.shuffle.partitions" in messages[0]
    assert CACHE_CONF in messages[1] and "100" in messages[1]
    assert stub.conf.values[NANOS_CONF] == "true"
    with warnings.catch_warnings(record=True) as again:
        warnings.simplefilter("always")
        S.configure(stub)
    assert again == []


def test_configure_raises_when_a_required_conf_is_refused(fresh_warnings):
    """Without nanosAsLong the events table cannot be scanned at all, so
    a session that refuses it fails at configure time, naming the conf."""
    with pytest.raises(RuntimeError, match=NANOS_CONF):
        S.configure(_StubSession(refuse=[NANOS_CONF]))


def test_engine_session_applies_every_conf(spark, fresh_warnings):
    """The engine's own session carries the static codegen cache size
    and takes every runtime conf without a warning."""
    assert spark.conf.get(CACHE_CONF) == S._STATIC_CONFS[CACHE_CONF]
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        S.configure(spark)
    assert [str(w.message) for w in record] == []
