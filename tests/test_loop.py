"""operators/_loop.Fixpoint: bounded cache while a loop runs, nothing
cached after it, and the operators that loop through it."""

import re
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from phenobert_spark.operators import kg_metrics as km
from phenobert_spark.operators._loop import Fixpoint
from phenobert_spark.operators.closure import connected_components, transitive_closure


def _cache(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("every", [1, 3, 4, 5])
def test_fixpoint_bounds_cache_and_releases_on_exit(spark, every):
    spark.catalog.clearCache()
    n = 12
    with Fixpoint() as fp:
        fp.pin(spark.range(10), "id")
        state = spark.range(5)
        for i in fp.rounds(n, every):
            state = fp.carry(state.select((F.col("id") + 1).alias("id")), cached=True)
            assert state.count() == 5
            # one pin + the states since the last checkpoint; the budget's
            # last round also keeps its own state cached for result()
            bound = 1 + every - 1 + (i == n - 1)
            assert _cache(spark).cachedData().size() <= bound, i
        got = sorted(r.id for r in fp.result(state).collect())
    assert got == list(range(n, n + 5))
    assert _cache(spark).isEmpty()

    with pytest.raises(RuntimeError, match="round 1 failed"):
        with Fixpoint() as fp:
            fp.pin(spark.range(3))
            for i in fp.rounds(n, every):
                fp.carry(spark.range(i + 2), cached=True).count()
                if i == 1:
                    raise RuntimeError("round 1 failed")
    assert _cache(spark).isEmpty()


_CHAIN = [(f"v{i + 1:02d}", f"v{i:02d}") for i in range(20)][::-1]
# op, peak cached DataFrames on the 20-edge chain: the pins, plus for
# the probing loops the states cached since the last checkpoint
_LOOPS = {
    "pagerank": (km.pagerank, 3),
    "personalized_pagerank": (
        lambda e: km.personalized_pagerank(
            e, e.sparkSession.createDataFrame([("v03",)], "node string")
        ),
        3,
    ),
    "label_propagation": (lambda e: km.label_propagation(e, iters=3), 2),
    "hits": (km.hits, 3),
    "connected_components": (connected_components, 2 + 2),
    "transitive_closure": (
        lambda e: transitive_closure(
            e.select(F.col("src").alias("child"), F.col("dst").alias("parent"))
        ),
        2 + 2 * 3,
    ),
}


@pytest.mark.parametrize("name", list(_LOOPS))
def test_fixpoint_operator_cache_is_bounded_and_released(spark, monkeypatch, name):
    op, bound = _LOOPS[name]
    chain = spark.createDataFrame(_CHAIN, "src string, dst string")
    spark.catalog.clearCache()
    cache = _cache(spark)
    peak = [0]
    persist = type(chain).persist

    def counting_persist(df, *args, **kwargs):
        out = persist(df, *args, **kwargs)
        peak[0] = max(peak[0], cache.cachedData().size())
        return out

    monkeypatch.setattr(type(chain), "persist", counting_persist)
    assert op(chain).count() > 0
    assert 0 < peak[0] <= bound
    assert cache.isEmpty()


def test_personalized_pagerank_releases_cache_on_raise(spark):
    spark.catalog.clearCache()
    edges = spark.createDataFrame(_CHAIN, "src string, dst string")
    with pytest.raises(ValueError, match="at least one seed"):
        km.personalized_pagerank(edges, spark.createDataFrame([], "node string"))
    assert _cache(spark).isEmpty()


def test_only_the_fixpoint_helper_persists():
    """Cache bookkeeping lives in operators/_loop.py alone."""
    ops = Path(km.__file__).parent
    found = [
        p.name
        for p in sorted(ops.glob("*.py"))
        if p.name != "_loop.py" and re.search(r"\.(un)?persist\(", p.read_text())
    ]
    assert found == []
