"""Cache lifetime on the error path.

Every operator that persists an intermediate does it through
``cache_scope()``.  Here each one is made to raise after its last
persist; the exception must propagate and leave nothing behind: no
``_CACHE_REFS`` count and no CacheManager entry.  (``isEmpty`` on the
CacheManager ignores ``localCheckpoint`` RDDs, which the chunk loops own
separately; ``getPersistentRDDs`` would count them.)
"""

from __future__ import annotations

import gc
import sys
import threading

import pytest
from pyspark.sql import functions as F

from blaze_spark import cache_scope as cs
from blaze_spark import data
from blaze_spark.cache_scope import cache_scope


class Boom(RuntimeError):
    pass


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _assert_nothing_cached(spark):
    assert cs._CACHE_REFS == {}
    assert _cache_manager_empty(spark)


@pytest.fixture
def clean(spark):
    """Start from an empty cache: drop what results of earlier tests
    still hold."""
    gc.collect()
    if cs._CACHE_REFS or not _cache_manager_empty(spark):
        spark.catalog.clearCache()
        cs._CACHE_REFS.clear()
    yield


@pytest.fixture
def inject(spark, monkeypatch):
    """``inject(method, after, cls)``: ``cls.<method>`` raises Boom once
    ``after`` DataFrame persists have happened.  Returns the persist
    counter."""
    df_cls = type(spark.range(0))

    def arm(method, after, cls=df_cls):
        seen = {"persists": 0}
        real_persist = df_cls.persist

        def persist(self, *a, **k):
            seen["persists"] += 1
            return real_persist(self, *a, **k)

        real = getattr(cls, method)

        def boom(self, *a, **k):
            if seen["persists"] >= after:
                raise Boom(f"injected {method} failure")
            return real(self, *a, **k)

        monkeypatch.setattr(df_cls, "persist", persist)
        monkeypatch.setattr(cls, method, boom)
        return seen

    return arm


def _docs(star):
    return star["documents"]


def _emb(star):
    return star["embeddings"]


# Each case: (prepare(spark, star, tmp_path) -> thunk, method, after).
# ``method`` is the first call after the operator's last persist (its
# first eager action where it has one); ``after`` is the number of
# persists the operator makes before it.

def _neardup(spark, star, tmp_path):
    from blaze_spark.pipeline import embedding_neardup_pairs

    return lambda: embedding_neardup_pairs(_emb(star), threshold=0.9)


def _semantic_dedup(spark, star, tmp_path):
    from blaze_spark.pipeline import semantic_dedup
    from blaze_spark.pipeline.ivf import kmeans_fit

    cents = kmeans_fit(_emb(star), k=4, iters=2)
    return lambda: semantic_dedup(_emb(star), threshold=0.98, k_cells=4,
                                  centroids=cents)


def _lm_self_fit(spark, star, tmp_path):
    from blaze_spark.pipeline import ngram_lm_logprob

    return lambda: ngram_lm_logprob(_docs(star), n_buckets=256, n=2)


def _ppl_buckets(spark, star, tmp_path):
    from blaze_spark.pipeline import perplexity_buckets

    return lambda: perplexity_buckets(_docs(star), reference=_docs(star),
                                      n_buckets=256, n=2, by_col="lang")


def _bm25(spark, star, tmp_path):
    from blaze_spark.pipeline import bm25_topk

    return lambda: bm25_topk(_docs(star), ["table scan fast",
                                           "spark stream window"], k=5)


def _bloom_two_phase(spark, star, tmp_path):
    from blaze_spark import Table
    from blaze_spark.pipeline import bloom_two_phase_contamination

    d = _docs(star).df
    deny = Table(d.filter(F.col("doc_id") % 20 == 0), "documents")
    corpus = Table(d.filter(F.col("doc_id") % 20 != 0), "documents")
    return lambda: bloom_two_phase_contamination(
        corpus, deny, n=2, threshold=0.2, m_bits=1 << 16, k=5)


def _packing(spark, star, tmp_path):
    from blaze_spark.pipeline import pack_sequences

    return lambda: pack_sequences(_docs(star), budget=5000, partitions=4)


def _crosslingual(spark, star, tmp_path):
    from blaze_spark.pipeline.crosslingual import (
        crosslingual_minhash_candidates)

    words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
    lex = data([(w, i) for i, w in enumerate(words)]
               + [(w + "x", i) for i, w in enumerate(words)],
               spark=spark, schema="token string, concept_id long",
               name="lex")
    docs = data([(1, " ".join(words)),
                 (2, " ".join(w + "x" for w in words))],
                spark=spark, schema="doc_id long, text string", name="cl")
    return lambda: crosslingual_minhash_candidates(docs, lex, bands=16,
                                                   num_perm=32)


def _dup_spans(spark, star, tmp_path):
    from blaze_spark.pipeline import dup_span_popularity

    return lambda: dup_span_popularity(_docs(star), n=5)


def _minhash(spark, star, tmp_path):
    from blaze_spark.pipeline import minhash_candidates

    return lambda: minhash_candidates(_docs(star), num_perm=16, bands=4)


def _exact_jaccard(spark, star, tmp_path):
    from blaze_spark.pipeline.dedup import exact_jaccard_pairs

    return lambda: exact_jaccard_pairs(_docs(star))


def _simhash(spark, star, tmp_path):
    from blaze_spark.pipeline import simhash_candidates

    return lambda: simhash_candidates(_docs(star), max_hamming=3)


def _winnow(spark, star, tmp_path):
    from blaze_spark.pipeline import winnow_candidates

    return lambda: winnow_candidates(_docs(star), k=3, w=4)


def _kmeans(spark, star, tmp_path):
    from blaze_spark.pipeline.ivf import kmeans_fit

    return lambda: kmeans_fit(_emb(star), k=4, iters=2)


def _classifier(spark, star, tmp_path):
    from blaze_spark.pipeline import train_quality_classifier

    rows = [(i, ("science essay " if i % 2 else "buy free pills ") * 3,
             i % 2) for i in range(40)]
    t = data(rows, spark=spark, schema="doc_id bigint, text string, y int",
             name="labeled")
    return lambda: train_quality_classifier(t, "y = 1", n_buckets=64,
                                            epochs=1, persist=True)


def _pq_codes(spark, star, tmp_path):
    from blaze_spark.pipeline import pq_encode, pq_fit, pq_neardup_pairs

    cb = pq_fit(_emb(star), m=8, ks=16, iters=2, train_rows=200)
    codes = pq_encode(_emb(star), cb)
    return lambda: pq_neardup_pairs(_emb(star), codes=codes, codebooks=cb,
                                    threshold=0.9, queries_per_batch=100)


CASES = [
    pytest.param(_neardup, "groupBy", 2, id="embedding_neardup_pairs"),
    pytest.param(_semantic_dedup, "collect", 1, id="semantic_dedup"),
    pytest.param(_lm_self_fit, "collect", 1, id="ngram_lm_logprob_self_fit"),
    pytest.param(_ppl_buckets, "select", 1, id="perplexity_buckets"),
    pytest.param(_bm25, "groupBy", 1, id="bm25_topk"),
    pytest.param(_bloom_two_phase, "filter", 1,
                 id="bloom_two_phase_contamination"),
    pytest.param(_packing, "collect", 1, id="pack_sequences"),
    pytest.param(_crosslingual, "select", 1,
                 id="crosslingual_minhash_candidates"),
    pytest.param(_dup_spans, "groupBy", 2, id="dup_span_popularity"),
    pytest.param(_minhash, "select", 1, id="minhash_candidates"),
    pytest.param(_exact_jaccard, "select", 1, id="exact_jaccard_pairs"),
    pytest.param(_simhash, "select", 1, id="simhash_candidates"),
    pytest.param(_winnow, "groupBy", 1, id="winnow_candidates"),
    pytest.param(_kmeans, "toPandas", 1, id="kmeans_fit"),
    pytest.param(_classifier, "collect", 1, id="train_quality_classifier"),
    pytest.param(_pq_codes, "localCheckpoint", 1, id="pq_neardup_pairs"),
]


@pytest.mark.parametrize("prepare, method, after", CASES)
def test_operator_failing_after_its_persist_leaves_no_cache(
        spark, star, tmp_path, clean, inject, prepare, method, after):
    run = prepare(spark, star, tmp_path)
    seen = inject(method, after)
    with pytest.raises(Boom):
        run()
    assert seen["persists"] >= after  # it failed AFTER persisting
    _assert_nothing_cached(spark)


def test_assign_clusters_failing_join_leaves_no_cache(spark, star, clean):
    """A missing ``doc_id_col`` fails the join after the (id, cell)
    persist — no injection needed."""
    from pyspark.errors import AnalysisException

    from blaze_spark.pipeline import assign_clusters

    with pytest.raises(AnalysisException):
        assign_clusters(_docs(star), _emb(star), k_cells=4, kmeans_iters=2,
                        doc_id_col="no_such_col")
    _assert_nothing_cached(spark)


def test_incremental_batch_failing_write_leaves_no_cache(
        spark, tmp_path, clean, inject, monkeypatch):
    """A failed pairs write must release ``sigs`` and ``entries``: the
    streaming wrapper retries the batch, and each retry would otherwise
    leak both."""
    from blaze_spark.streaming.incremental_dedup import process_batch

    base = "the quick brown fox jumps over the lazy dog again " * 3
    batch = data([(1, base), (2, base + "tonight"), (3, "other words " * 9)],
                 spark=spark, schema="doc_id long, text string", name="b")
    store = str(tmp_path / "store")
    for _ in range(2):  # a retried batch fails the same way
        seen = inject("parquet", 2, cls=type(batch.df.write))
        with pytest.raises(Boom):
            process_batch(batch, store)
        assert seen["persists"] >= 2
        _assert_nothing_cached(spark)
        monkeypatch.undo()


def test_release_is_once_only_across_threads(spark, clean):
    """The same release fired from several threads at once, and again on
    leaving the scope, must decrement the shared plan's count once: an
    identical-plan survivor keeps reading its cache.  The last holder's
    release still frees the entry."""
    def frame():
        return spark.range(1000).selectExpr("id", "id * 43 as race_probe")

    with cache_scope() as scope:
        cached = scope.persist(frame())
        survivor = scope.attach(cached.groupBy().sum("race_probe"))
    key = next(iter(cs._CACHE_REFS))

    n_threads = 8  # more than the session's 4 cores
    barrier = threading.Barrier(n_threads)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cache_scope() as scope:  # construction-only: released on exit
            scope.persist(frame())  # identical plan: shares the entry
            assert cs._CACHE_REFS[key] == 2

            def fire():
                barrier.wait(timeout=30)
                scope.__exit__(None, None, None)

            threads = [threading.Thread(target=fire)
                       for _ in range(n_threads)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=30)
                assert not th.is_alive()
    finally:
        sys.setswitchinterval(interval)
    # every thread plus the with-statement: one decrement in all
    assert cs._CACHE_REFS == {key: 1}
    plan = survivor._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan

    del survivor, cached
    gc.collect()
    _assert_nothing_cached(spark)


def test_caller_raw_persist_is_left_alone(spark, clean):
    """A frame cached by a raw persist the refcount never saw belongs to
    its caller: the scope neither registers nor releases it."""
    raw = spark.range(500).selectExpr("id", "id * 47 as raw_probe").persist()
    try:
        with cache_scope() as scope:
            scope.persist(spark.range(500)
                          .selectExpr("id", "id * 47 as raw_probe"))
        assert cs._CACHE_REFS == {}
        assert raw.storageLevel.useMemory  # still cached
    finally:
        raw.unpersist()
