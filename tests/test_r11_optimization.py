"""Round-11 optimization internals: the composition-frame memo cache
(memo_persist / knn_graph_cached / _sem_probe_frames) and the honesty
contract the bench relies on — clear_signature_cache must leave NO
persisted state behind, so cold repetitions stay cold."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _memo_range(spark, _sf_dir):
    """A synthetic memo_persist entry: the second lookup is a hit on the
    same persisted frame."""
    from hadoop_digit_recognition_spark.operators.dedup import memo_persist

    built = []

    def build():
        built.append(1)
        return spark.range(10)

    a = memo_persist(spark, "r11test::range", build)
    assert memo_persist(spark, "r11test::range", build) is a
    assert built == [1], "second lookup must be a cache hit"
    assert a.storageLevel.useMemory, "memo frames must be persisted"
    return a


@pytest.mark.parametrize("name", [
    "memo_persist",
    "ml_naive_bayes_langid",             # memoized train token stream
    "graph_kcore_dup_clusters",          # localCheckpoint-backed entry
    "text_wordpiece_train",              # bare per-round checkpoints
    "dedup_semdedup_multiprobe_capped",  # one entry holding three frames
])
def test_clear_leaves_nothing_persisted(spark, name):
    """clear_signature_cache releases everything the query persisted,
    memoized or not, so the next call starts cold."""
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
    from hadoop_digit_recognition_spark.operators.dedup import (
        _SIG_CACHE, clear_signature_cache)

    clear_signature_cache(spark)
    build = _memo_range if name == "memo_persist" else SPARK_QUERIES[name]
    build(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    assert not rdds().isEmpty(), f"{name} persists nothing: vacuous case"
    entries = len(_SIG_CACHE.get(spark) or {})
    assert clear_signature_cache(spark) == entries
    assert rdds().isEmpty()
    assert not _SIG_CACHE.get(spark)


def test_clear_during_inflight_build_leaks_nothing(spark):
    """A clear that lands while a memo build is in flight must not orphan
    the build's frame: it finishes into the fresh dict, where the next
    clear releases it together with the session's build locks."""
    import threading

    from hadoop_digit_recognition_spark.operators.dedup import (
        _MEMO_LOCKS, _SIG_CACHE, clear_signature_cache, memo_register)

    clear_signature_cache(spark)
    started, go = threading.Event(), threading.Event()

    def make():
        started.set()
        assert go.wait(timeout=60)
        df = spark.range(10).persist()
        df.count()
        return df

    t = threading.Thread(target=memo_register,
                         args=(spark, "r11test::inflight", make))
    t.start()
    assert started.wait(timeout=60)
    clear_signature_cache(spark)
    go.set()
    t.join(timeout=120)
    assert not t.is_alive()
    assert "r11test::inflight" in (_SIG_CACHE.get(spark) or {})
    clear_signature_cache(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark not in _MEMO_LOCKS


def test_memo_register_single_flight_under_contention(spark):
    """More threads than cores racing on a few keys: each key is built
    exactly once and every thread gets the same entry."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from hadoop_digit_recognition_spark.operators.dedup import (
        clear_signature_cache, memo_register)

    clear_signature_cache(spark)
    builds = {k: 0 for k in range(4)}
    count_lock = threading.Lock()

    def make(k):
        with count_lock:
            builds[k] += 1
        return object()

    def get(i):
        k = i % 4
        return k, memo_register(spark, f"r11test::race{k}", lambda: make(k))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = [f.result(timeout=60)
                   for f in [pool.submit(get, i) for i in range(400)]]
    finally:
        sys.setswitchinterval(old)
        clear_signature_cache(spark)
    assert builds == {k: 1 for k in range(4)}
    for k in range(4):
        assert len({id(e) for kk, e in got if kk == k}) == 1


def test_knn_graph_cached_matches_builder(spark):
    from hadoop_digit_recognition_spark.operators.dedup import (
        clear_signature_cache)
    from hadoop_digit_recognition_spark.operators.similarity import (
        knn_graph_cached, sim_knn_graph)

    clear_signature_cache(spark)
    direct = {tuple(r) for r in
              sim_knn_graph(spark, SF_SMOKE).collect()}
    cached = {tuple(r) for r in
              knn_graph_cached(spark, SF_SMOKE).collect()}
    assert cached == direct
    # memo hit returns the identical frame
    again = knn_graph_cached(spark, SF_SMOKE)
    assert again is knn_graph_cached(spark, SF_SMOKE)
    clear_signature_cache(spark)


def test_sem_probe_frames_memoized_and_cold_after_clear(spark):
    from hadoop_digit_recognition_spark.operators.dedup import (
        SEM_PROBES, _sem_probe_frames, clear_signature_cache)

    clear_signature_cache(spark)
    p1, pr1, q1 = _sem_probe_frames(spark, SF_SMOKE, SEM_PROBES)
    rows1 = {tuple(r) for r in q1.collect()}
    p2, pr2, q2 = _sem_probe_frames(spark, SF_SMOKE, SEM_PROBES)
    assert q2 is q1 and pr2 is pr1, "memo must return the same frames"
    clear_signature_cache(spark)
    _, _, q3 = _sem_probe_frames(spark, SF_SMOKE, SEM_PROBES)
    assert q3 is not q1, "post-eviction call must rebuild"
    assert {tuple(r) for r in q3.collect()} == rows1
    clear_signature_cache(spark)


def test_facility_location_single_totals_job_equivalence(spark, duck):
    """The fused conditional-aggregation totals must equal the oracle's
    per-round coverage chain (already hash-checked by the registered
    oracle; this pins the per-round objective monotonicity the fusion
    must preserve)."""
    from hadoop_digit_recognition_spark.operators.dedup import (
        corpus_facility_location)
    from tests.conftest import SF_ORACLE

    rows = (corpus_facility_location(spark, SF_ORACLE)
            .orderBy("sel_round").collect())
    tots = [r["total_cov_e6"] for r in rows]
    gains = [r["gain_e6"] for r in rows]
    assert tots == sorted(tots), "coverage objective must be monotone"
    assert all(g >= 0 for g in gains)
    # round k's total equals round k-1's total plus its marginal gain
    for k in range(1, len(rows)):
        assert tots[k] == tots[k - 1] + gains[k]
    assert tots[0] == gains[0]
