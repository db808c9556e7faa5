from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

import run
from digest import digest
from statusstore import Work


def _counts(spark, sf):
    return spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()


def _flaky():
    """A query that works on its first call and throws on every later one."""
    calls = []

    def fn(spark, sf):
        calls.append(sf)
        if len(calls) > 1:
            raise RuntimeError("broken on a second run")
        return spark.range(10).selectExpr("id * 2 AS v")

    return fn


class FakeStatus:
    """Stands in for the status store, which the test session keeps too
    short for these queries."""

    jvm_pid = os.getpid()

    def read(self, *groups):
        return [Work() for _ in groups]

    def gc_s(self):
        return 0.0


@pytest.fixture
def make_bench(spark, tmp_path, monkeypatch):
    """A Bench over the given small queries on the test session, with the
    expected digests given by the caller."""

    def make(fns, expected):
        monkeypatch.setitem(run.WORKLOADS, "test", run.Workload("sf", tuple(fns)))
        path = tmp_path / "expected.json"
        path.write_text(json.dumps({"sf": expected}))
        monkeypatch.setattr(run, "EXPECTED", str(path))
        bench = run.Bench("test", "unused", seed=1, trace=False)
        bench.spark = spark
        bench.registry = {q: SimpleNamespace(fn=fn) for q, fn in fns.items()}
        bench.status = FakeStatus()
        return bench

    return make


def test_matching_digests_give_ok_ratio_one(spark, make_bench):
    fns = {"a": _counts, "b": _flaky()}
    expected = {q: digest(fn(spark, "sf")) for q, fn in {"a": _counts, "b": _flaky()}.items()}
    bench = make_bench(fns, expected)
    bench.warm_up()
    assert (bench.attempted, bench.failed, bench.ok_ratio) == (2, 0, 1.0)


def test_one_corrupted_expected_digest_lowers_ok_ratio(spark, make_bench):
    good = digest(_counts(spark, "sf"))
    bad = good[:-1] + ("0" if good[-1] != "0" else "1")
    bench = make_bench({"a": _counts, "b": _counts}, {"a": good, "b": bad})
    bench.warm_up()
    assert (bench.attempted, bench.failed, bench.ok_ratio) == (2, 1, 0.5)


def test_a_query_that_throws_in_a_pass_lowers_ok_ratio(spark, make_bench):
    fns = {"a": _counts, "b": _flaky()}
    expected = {"a": digest(_counts(spark, "sf")), "b": digest(_flaky()(spark, "sf"))}
    bench = make_bench(fns, expected)
    bench.warm_up()
    assert bench.ok_ratio == 1.0
    res = bench.run_pass(0, traced=False)
    assert set(res.query_s) == {"a"}
    assert (bench.attempted, bench.failed) == (4, 1)
    assert bench.ok_ratio == 0.75
