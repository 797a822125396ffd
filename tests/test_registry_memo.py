"""Two decisions the engine makes in exactly one place each:

* the REGISTRY order, which decides the external driver's 50-entry
  verification window, is one literal pinned here by hash;
* every per-application driver-side artifact lives in the session
  memo (``session.memo``), which ``session.clear_memo()`` empties.
"""

from __future__ import annotations

import hashlib
import inspect
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
