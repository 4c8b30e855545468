"""The session cache (``catalog.cached``): one value per key and
(session, sf_dir), eviction that follows ``deps``, and recovery from
lost blocks by recomputation."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import DataFrame

from pythondataingestionprocess_spark import catalog
from pythondataingestionprocess_spark.oracle import _canon_rows
from pythondataingestionprocess_spark.plans import REGISTRY
from pythondataingestionprocess_spark.plans import graph_queries as gq
from pythondataingestionprocess_spark.plans import llm_heavy as lh


def _plan(name):
    """Build a registered face's plan, which fills its cache key."""
    return lambda spark, sf_dir: REGISTRY[name].fn(spark, sf_dir)


# key -> a call that builds (or hits) that key
TOUCH = {
    "table:documents": lambda spark, sf_dir: catalog.load_table(spark, sf_dir, "documents"),
    "copurchase_edges": gq._copurchase_edges,
    "graph_chain": gq._graph_chain,
    "doc_sh": lh._doc_sh_cached,
    "lsh_pairs": lh._lsh_pairs_cached,
    "incr_index": lh._incr_corpus_index,
    "cosine_corpus_n": _plan("dedup_embedding_cosine"),
    "quantile_n:orders.o_totalprice": _plan("feature_winsorize_robust"),
    "quantile_n:lineitem.l_extendedprice/l_returnflag": _plan("percentile_cont_prices"),
}
# key -> the entries derived from it, which must move with it
DEPENDENTS = {
    "copurchase_edges": ["graph_chain"],
    "doc_sh": ["lsh_pairs", "incr_index"],
}


def _entry(key):
    sess, sf_dir, value, _deps = catalog._CACHE[key]
    return sess, sf_dir, value


def _frames(value):
    return [v for v in (value if isinstance(value, tuple) else (value,)) if isinstance(v, DataFrame)]


def _persisted(keys):
    return [df for k in keys for df in _frames(_entry(k)[2]) if df.is_cached]


@pytest.mark.parametrize("key", list(TOUCH))
def test_cache_family_hits_evicts_and_isolates_sessions(spark, sf_dir, key):
    small = sf_dir
    other = os.path.join(
        os.path.dirname(small), "sf0.001" if small.endswith("sf0.01") else "sf0.01"
    )
    touch = TOUCH[key]
    touch(spark, small)
    first = _entry(key)[2]
    touch(spark, small)
    # a hit keeps the very same object
    assert _entry(key)[:2] == (spark, small) and _entry(key)[2] is first

    dependents = DEPENDENTS.get(key, [])
    for dep in dependents:
        TOUCH[dep](spark, small)
    old = _persisted([key, *dependents])
    assert all(df.storageLevel.useMemory for df in old)

    # another sf_dir replaces the value: the old frames and every
    # dependent's frames are unpersisted, the dependents dropped
    touch(spark, other)
    assert _entry(key)[:2] == (spark, other) and _entry(key)[2] is not first
    assert all(df.storageLevel.useMemory is False for df in old)
    assert not any(dep in catalog._CACHE for dep in dependents)

    # a new session never receives this session's entry
    other_session = spark.newSession()
    touch(other_session, other)
    sess, entry_dir, value = _entry(key)
    assert sess is other_session and entry_dir == other
    assert all(df.sparkSession is other_session for df in _frames(value))

    # leave the test session's small-sf entries for later tests
    for k in [key, *dependents]:
        TOUCH[k](spark, small)


def _digest(df) -> str:
    return hashlib.md5(repr(_canon_rows(df.toPandas())).encode()).hexdigest()


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_incremental_minhash",
        "copurchase_triangles",
        "dedup_embedding_cosine",
        "percentile_cont_prices",
    ],
)
def test_lost_cache_blocks_are_recomputed(spark, sf_dir, name):
    """Dropping every cached block under the session cache's entries
    must cost a recompute, never a failure or a different answer."""
    fn = REGISTRY[name].fn
    before = _digest(fn(spark, sf_dir))
    spark.catalog.clearCache()
    try:
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert _digest(fn(spark, sf_dir)) == before
    finally:
        # the entries' frames are no longer registered as cached: start
        # later tests from a fresh cache rather than recomputing them
        catalog._CACHE.clear()
