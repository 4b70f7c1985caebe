"""SessionVersionCache: the bound that keeps dictionary-version churn in a
long-lived application from accumulating broadcasts/LocalRelations
(VERDICT r4 next-round #7 / ADVICE rows 1 and 5)."""

import threading
import warnings

import pytest

from kg_microbe_spark.caching import SessionVersionCache, destroy_broadcast


class FakeBroadcast:
    def __init__(self, name):
        self.name = name
        self.unpersisted = False
        self.destroyed = False

    def unpersist(self, blocking=False):
        self.unpersisted = True

    def destroy(self, blocking=False):
        self.destroyed = True


def test_lru_cap_cycles_five_versions_peak_at_cap():
    evicted = []
    cache = SessionVersionCache(max_per_app=4, on_evict=evicted.append)
    vals = {f"v{i}": FakeBroadcast(f"v{i}") for i in range(5)}
    peak = 0
    for k, v in vals.items():
        cache.put("app1", k, v)
        peak = max(peak, len(cache))
    assert peak <= 4
    assert [e.name for e in evicted] == ["v0"]  # oldest out, exactly once
    assert cache.get("app1", "v0") is None
    assert cache.get("app1", "v4") is vals["v4"]


def test_evictor_releases_broadcast_resources():
    cache = SessionVersionCache(max_per_app=1, on_evict=destroy_broadcast)
    a, b = FakeBroadcast("a"), FakeBroadcast("b")
    cache.put("app1", "a", a)
    cache.put("app1", "b", b)
    assert a.unpersisted and a.destroyed
    assert not b.unpersisted and not b.destroyed


def test_lru_recency_get_refreshes():
    cache = SessionVersionCache(max_per_app=2)
    cache.put("app1", "a", 1)
    cache.put("app1", "b", 2)
    assert cache.get("app1", "a") == 1  # refresh a
    cache.put("app1", "c", 3)  # evicts b, not a
    assert cache.get("app1", "a") == 1
    assert cache.get("app1", "b") is None


def test_dead_application_entries_dropped_without_evictor():
    """Dead-app entries are DROPPED, never on_evict'ed: in local mode a
    stale broadcast handle's destroy() resolves through the CURRENT
    SparkEnv and would delete the live app's same-numbered broadcast
    blocks (INTERNAL_ERROR_BROADCAST on the next job)."""
    evicted = []
    cache = SessionVersionCache(max_per_app=4, on_evict=evicted.append)
    cache.put("dead-app", "k", "old")
    cache.put("live-app", "k", "new")
    assert cache.get("dead-app", "k") is None
    assert evicted == []  # dropped, NOT destroyed
    # same-app LRU eviction still releases resources
    c2 = SessionVersionCache(max_per_app=1, on_evict=evicted.append)
    c2.put("app", "a", "va")
    c2.put("app", "b", "vb")
    assert evicted == ["va"]


def test_fingerprint_mismatch_warns_and_discards():
    cache = SessionVersionCache(max_per_app=4)
    cache.put("app1", "lexicon-v1", "built-from-schema-A", fingerprint="schema-A")
    with pytest.warns(UserWarning, match="different input fingerprint"):
        assert cache.get("app1", "lexicon-v1", fingerprint="schema-B") is None
    # discarded, not served — a fresh put with the new fingerprint works
    cache.put("app1", "lexicon-v1", "built-from-schema-B", fingerprint="schema-B")
    assert cache.get("app1", "lexicon-v1", fingerprint="schema-B") == "built-from-schema-B"


def test_concurrent_put_get_no_corruption():
    cache = SessionVersionCache(max_per_app=8)
    errors = []

    def worker(i):
        try:
            for j in range(200):
                k = f"v{j % 12}"
                cache.put("app1", k, (i, j))
                got = cache.get("app1", k)
                assert got is None or isinstance(got, tuple)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(cache) <= 8


def _entity_rows(res):
    rows = {(r.url, r.curie, r.n_mentions) for r in res.entities.collect()}
    res.entities.unpersist()
    return rows


def _cache_warnings(caught):
    return [w for w in caught if "SessionVersionCache" in str(w.message)]


def test_stopword_configs_give_distinct_results_under_one_key(spark):
    """Two run_pipeline calls with one dim_cache_key but different stopwords
    each get their own name index and matcher: no stale reuse, no warning,
    and the first result (still lazy) keeps a live matcher broadcast."""
    from kg_microbe_spark.plans.pipeline import run_pipeline
    from kg_microbe_spark.sources import synthetic

    pages = synthetic.pages_df(spark, 60, num_partitions=2)
    lexicon = synthetic.lexicon_df(spark)
    stop = list(synthetic.STOPWORDS) + ["soil"]

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res_default = run_pipeline(spark, pages, lexicon, dim_cache_key="stopwords-test")
        res_stop = run_pipeline(spark, pages, lexicon, stopwords=stop, dim_cache_key="stopwords-test")
        default_rows = _entity_rows(res_default)
        stop_rows = _entity_rows(res_stop)
    assert not _cache_warnings(caught)
    assert default_rows == _entity_rows(run_pipeline(spark, pages, lexicon))
    assert stop_rows == _entity_rows(run_pipeline(spark, pages, lexicon, stopwords=stop))
    assert stop_rows != default_rows


def test_alternating_stopwords_build_each_config_once(spark, monkeypatch):
    """Alternating two stopword lists under one dim_cache_key builds each
    list's name index and matcher once; later calls hit the cache."""
    from kg_microbe_spark.operators import mentions
    from kg_microbe_spark.plans import pipeline
    from kg_microbe_spark.sources import synthetic

    builds = {"name_index": 0, "matcher": 0}

    def counting(name, fn):
        def wrapped(*args, **kwargs):
            builds[name] += 1
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(pipeline, "build_name_index", counting("name_index", pipeline.build_name_index))
    monkeypatch.setattr(mentions, "build_matcher", counting("matcher", mentions.build_matcher))

    pages = synthetic.pages_df(spark, 40, num_partitions=2)
    lexicon = synthetic.lexicon_df(spark)
    configs = [tuple(synthetic.STOPWORDS), tuple(synthetic.STOPWORDS) + ("soil",)]
    results = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for stop in configs + configs:
            res = pipeline.run_pipeline(spark, pages, lexicon, stopwords=stop, dim_cache_key="alternate-test")
            results.setdefault(stop, []).append(_entity_rows(res))
    assert not _cache_warnings(caught)
    assert builds == {"name_index": 2, "matcher": 2}
    assert all(first == again for first, again in results.values())
    assert results[configs[0]][0] != results[configs[1]][0]
