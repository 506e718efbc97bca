"""The benchmark's own tests: the layer wrappers count what they claim, a
wrong result is caught and counted, and the seed fixes the query order.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from workloads import BASE, WORKLOADS, pass_orders  # noqa: E402

SF_DIR = os.path.join(HERE, "data", BASE)


def test_seed_fixes_query_order():
    queries = WORKLOADS["scan_text_serve"].queries
    assert pass_orders(queries, 7, 6) == pass_orders(queries, 7, 6)
    assert pass_orders(queries, 7, 6) != pass_orders(queries, 8, 6)
    for order in pass_orders(queries, 7, 6):
        assert sorted(order) == sorted(queries)


class _FakeCount:
    def __init__(self, n):
        self.n = n

    def execute(self, sql):
        assert "count(*)" in sql
        return self

    def fetchone(self):
        return (self.n,)


def test_kmeans_auto_oracle_follows_corpus_size():
    from oracles import oracle_sql

    from nocouncil_etl_spark.operators.kmeans_index import auto_nlist
    from nocouncil_etl_spark.plans import clustering as c
    from nocouncil_etl_spark.registry import load_all

    q = load_all()["vec_knn_index_kmeans_auto"]
    assert oracle_sql(q.name, q, _FakeCount(500)) == q.oracle  # the scale it was pinned at
    at_2000 = oracle_sql(q.name, q, _FakeCount(2000))
    assert auto_nlist(2000) != c.KC_AUTO_AT_ORACLE_SF
    assert c.kmeans_cte("eq", auto_nlist(2000), c.KC_ITERS) in at_2000
    assert c.kmeans_cte("eq", c.KC_AUTO_AT_ORACLE_SF, c.KC_ITERS) not in at_2000


@pytest.fixture(scope="module")
def traced():
    """A Spark session with the layer probes installed before the catalog
    is imported, as the traced client does."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from probes import Tracer, install, rebind

    tracer = Tracer()
    originals = install(tracer)
    from nocouncil_etl_spark.registry import load_all
    from nocouncil_etl_spark.session import get_session

    spark = get_session("perfbench-tests")
    registry = load_all()
    rebind(originals)
    yield spark, registry, tracer
    spark.catalog.clearCache()


def _oracles(registry, names):
    import duckdb
    from oracles import digests

    return {f"{q}@{BASE}": v for q, v in digests(duckdb.connect(), registry, SF_DIR, names).items()}


def test_wrapper_counts_kmeans_fit(traced):
    spark, registry, tracer = traced
    from client import Runner
    from oracle_check import digest

    name = "vec_knn_index_kmeans_build"
    runner = Runner(spark, registry, {BASE: SF_DIR}, _oracles(registry, [name]), digest, tracer)
    rec = runner.run_query(name, BASE)
    assert rec["ok"], runner.failures
    calls = rec["layers"]["calls"]
    assert calls.get("kmeans.fit", 0) >= 1
    assert calls.get("artifact.publish", 0) >= 1
    assert rec["layers"]["busy"]["kmeans.fit"] > 0
    assert rec["construct_jobs"] > 0


def test_perturbed_result_fails_digest_and_counts(traced):
    spark, registry, tracer = traced
    from client import Runner
    from oracle_check import digest

    from nocouncil_etl_spark.registry import Query

    name = "pricing_summary"
    real = registry[name]
    perturbed = {
        name: Query(name, lambda s, d: real.fn(s, d).orderBy("l_returnflag", "l_linestatus").limit(1), real.oracle)
    }
    oracles = _oracles(registry, [name])
    runner = Runner(spark, registry, {BASE: SF_DIR}, oracles, digest, tracer)
    assert runner.run_query(name, BASE)["ok"]
    runner.registry = perturbed
    assert not runner.run_query(name, BASE)["ok"]
    assert (runner.attempted, runner.failed) == (2, 1)
    assert runner.failures == [f"{name}@{BASE}: digest mismatch"]
