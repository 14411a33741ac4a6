"""entry_queries.session_table: one build per (session, key), and a new
session's insert evicts every other session's entries. Stub sessions
carry only ``sparkContext.applicationId`` — no Spark session starts."""

from types import SimpleNamespace

from ner_spark import entry_queries as eq


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_table_builds_once_per_app_and_key(monkeypatch):
    monkeypatch.setattr(eq, "_SESSION_TABLES", {})
    builds = []

    def build(tag):
        def _b():
            builds.append(tag)
            return tag

        return _b

    a = _session("app-a")
    assert eq.session_table(a, "kg", build("a/kg")) == "a/kg"
    assert eq.session_table(a, "kg", build("again")) == "a/kg"
    assert eq.session_table(a, "lpa", build("a/lpa")) == "a/lpa"
    assert builds == ["a/kg", "a/lpa"]

    # a new applicationId builds its own entry and drops app-a's
    b = _session("app-b")
    assert eq.session_table(b, "kg", build("b/kg")) == "b/kg"
    assert set(eq._SESSION_TABLES) == {("app-b", "kg")}
    assert eq.session_table(a, "kg", build("a/kg#2")) == "a/kg#2"
    assert set(eq._SESSION_TABLES) == {("app-a", "kg")}
    assert builds == ["a/kg", "a/lpa", "b/kg", "a/kg#2"]
