"""Three decisions the engine makes in exactly one place each:

* the REGISTRY order, which decides the external driver's 50-entry
  verification window, is one literal pinned here by hash;
* every per-application driver-side artifact lives in the session
  memo (``session.memo``), which ``session.clear_memo()`` empties;
* every bounded streaming drain in the registry runs through
  ``queries._drain`` (trigger, timeout and session-conf policy).
"""

from __future__ import annotations

import hashlib
import inspect
import pathlib
from types import SimpleNamespace

import pytest

from kinesis_log_streamer_spark import session
from kinesis_log_streamer_spark.plans import queries as Q

REGISTRY_SHA256 = (
    "a16cfc6616a1ece39ab39e61e0bb2a33c2220917d2960ae76e13dcf0efd9a2a4"
)


class TestRegistryOrder:
    def test_order_pinned(self):
        names = list(Q.REGISTRY)
        assert len(names) == 336
        digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
        assert digest == REGISTRY_SHA256
        assert names[:3] == [
            "d17_portable_simhash_pairs",
            "d24_simhash_star_edges",
            "k08_aws_transport_roundtrip",
        ]
        assert names[49] == "f16_multiline_json_array"

    def test_single_literal_no_rebuilds(self):
        leftovers = [
            a for a in vars(Q)
            if a.startswith("_ROUND") or a.startswith("_missing")
        ]
        assert leftovers == []
        assert inspect.getsource(Q).count("REGISTRY = {") == 1

    def test_entries_are_their_functions(self):
        assert all(f is getattr(Q, n) for n, f in Q.REGISTRY.items())


class _Conf:
    """Dict-backed stand-in for ``spark.conf`` (unset = absent key)."""

    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _Query:
    def __init__(self, finishes=True, error=None):
        self.finishes = finishes
        self.error = error
        self.stopped = False
        self.name = "stub_q"
        self.id = "stub-id"

    def awaitTermination(self, timeout):  # noqa: N802
        if self.error is not None:
            raise self.error
        return self.finishes

    def stop(self):
        self.stopped = True


class _Writer:
    def __init__(self, query, on_start=lambda: None):
        self.query = query
        self.on_start = on_start
        self.triggers = []

    def trigger(self, **kw):
        self.triggers.append(kw)
        return self

    def start(self):
        self.on_start()
        return self.query


class TestOneDrainPolicy:
    def _spark(self, values):
        return SimpleNamespace(conf=_Conf(values))

    def test_timeout_stops_query_and_raises(self):
        q = _Query(finishes=False)
        with pytest.raises(RuntimeError, match="timed out"):
            Q._drain(self._spark({}), _Writer(q))
        assert q.stopped

    def test_returns_finished_query_with_available_now(self):
        q = _Query()
        w = _Writer(q)
        assert Q._drain(self._spark({}), w) is q
        assert w.triggers == [{"availableNow": True}]

    @pytest.mark.parametrize("error", [None, ValueError("query failed")])
    def test_confs_restored_after_drain(self, error):
        spark = self._spark({"a": "1", "c": "3"})
        seen = {}
        w = _Writer(
            _Query(error=error),
            on_start=lambda: seen.update(spark.conf.values),
        )
        confs = {"a": "8", "b": "x", "c": None}
        if error is None:
            Q._drain(spark, w, confs)
        else:
            with pytest.raises(ValueError):
                Q._drain(spark, w, confs)
        # held during the drain (None = unset) ...
        assert seen == {"a": "8", "b": "x"}
        # ... and afterwards: prior values back, the unset key unset
        assert spark.conf.values == {"a": "1", "c": "3"}

    def test_one_drain_site_in_the_registry(self):
        src = inspect.getsource(Q)
        drain_src = inspect.getsource(Q._drain)
        for needle in (".trigger(availableNow=True)", "awaitTermination("):
            assert src.count(needle) == 1, needle
            assert needle in drain_src, needle

    def test_no_removed_twins_in_the_package(self):
        pkg = pathlib.Path(Q.__file__).resolve().parents[1]
        hits = [
            (str(f.relative_to(pkg)), needle)
            for f in sorted(pkg.rglob("*.py"))
            for needle in ("transformWithStateInPandas", "fake_aws")
            if needle in f.read_text(encoding="utf-8")
        ]
        assert hits == []
        assert not (pkg / "sources" / "fake_aws.py").exists()


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class TestMemoSemantics:
    def setup_method(self):
        session.clear_memo()

    def teardown_method(self):
        session.clear_memo()

    def test_hit_miss_per_application_and_key(self):
        built = []

        def build(tag):
            return lambda: built.append(tag) or object()

        a1 = session.memo(_app("a"), "k", "x", build=build("a/x"))
        assert session.memo(_app("a"), "k", "x", build=build("again")) is a1
        b1 = session.memo(_app("b"), "k", "x", build=build("b/x"))
        a2 = session.memo(_app("a"), "k", "y", build=build("a/y"))
        assert len({id(a1), id(b1), id(a2)}) == 3
        assert built == ["a/x", "b/x", "a/y"]
        assert set(session._STORE) == {
            ("a", "k", "x"), ("b", "k", "x"), ("a", "k", "y"),
        }

    def test_invalid_hit_is_dropped_and_rebuilt(self):
        first = session.memo(_app("a"), "k", build=lambda: ["old"])
        again = session.memo(
            _app("a"), "k", build=lambda: ["new"], valid=lambda v: True
        )
        assert again is first
        fresh = session.memo(
            _app("a"), "k", build=lambda: ["new"], valid=lambda v: False
        )
        assert fresh == ["new"]
        assert session._STORE[("a", "k")] is fresh

    def test_failed_build_stores_nothing(self):
        def boom():
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError):
            session.memo(_app("a"), "k", build=boom)
        assert session._STORE == {}


class TestSessionArtifacts:
    def test_one_clear_drops_every_artifact(self, spark, sf_dir):
        from kinesis_log_streamer_spark.operators.similarity import _planes_df
        from kinesis_log_streamer_spark.sources.tables import load_table

        builders = {
            "table": lambda: load_table(spark, sf_dir, "events"),
            "planes": lambda: _planes_df(spark, 8, 4, 42),
            "access": lambda: Q._access(spark, sf_dir),
            "ivf_prep": lambda: Q._ivf_prepared(spark, sf_dir),
        }
        session.clear_memo()
        try:
            first = {k: b() for k, b in builders.items()}
            kinds = {key[1] for key in session._STORE}
            assert set(builders) <= kinds
            app = spark.sparkContext.applicationId
            assert all(key[0] == app for key in session._STORE)
            # Hits return the identical artifact.
            assert all(b() is first[k] for k, b in builders.items())

            session.clear_memo()
            assert session._STORE == {}

            # The next call rebuilds.
            assert all(b() is not first[k] for k, b in builders.items())
            assert set(builders) <= {key[1] for key in session._STORE}
        finally:
            session.clear_memo()
