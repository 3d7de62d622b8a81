"""operators/materialize.shared_table memo bookkeeping, without a JVM:
the session handle and the built frame are stubs exposing only what
shared_table touches (applicationId, localCheckpoint)."""

from __future__ import annotations

import time

from aristoteles_spark.operators import materialize


class _Frame:
    def localCheckpoint(self):
        return self


class _Session:
    def __init__(self, app_id: str):
        self.sparkContext = type("Ctx", (), {"applicationId": app_id})()


def _build(seconds: float):
    def build():
        time.sleep(seconds)
        return _Frame()

    return build


def test_build_log_is_session_scoped(monkeypatch):
    log: dict[str, float] = {}
    monkeypatch.setattr(materialize, "_CACHE", {})
    monkeypatch.setattr(materialize, "BUILD_LOG", log)
    key = ("t", "/sf")

    materialize.shared_table(_Session("app-A"), key, _build(0.3))
    assert log["t"] >= 0.3
    b = materialize.shared_table(_Session("app-B"), key, _build(0.0))

    # cleared in place (callers hold the name), holding only B's build
    assert materialize.BUILD_LOG is log
    assert list(log) == ["t"] and log["t"] < 0.3
    assert materialize._CACHE == {("app-B", *key): b}
    # a memo hit charges nothing
    materialize.shared_table(_Session("app-B"), key, _build(0.3))
    assert log["t"] < 0.3
