"""Library entry points must not leak session-lifetime caches, and the
package caches through one owner-keyed pool (recsys_spark_spark/
lifecycle.py)."""

from __future__ import annotations

import re
import sys
from pathlib import Path

from pyspark.sql import functions as F

from recsys_spark_spark import lifecycle


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_ann_and_pagerank_caches_release_to_baseline(spark):
    """ANN bases and PageRank's edge/node/degree caches outlive their
    calls (the returned frames are lazy over them); their owners'
    release must return the session's persistent-RDD set to
    baseline."""
    from recsys_spark_spark.operators.ivf import cosine_knn_ivf
    from recsys_spark_spark.operators.knn import cosine_knn_lsh
    from recsys_spark_spark.operators.pagerank import pagerank
    from recsys_spark_spark.operators.pq import cosine_knn_pq

    lifecycle.release()  # drain anything earlier tests left behind
    base_ids = _persistent_ids(spark)

    vecs = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.sin(F.col("id") * (j + 1)).cast("double"),
        ).alias("embedding"),
    )
    queries = vecs.where(F.col("vec_id") < 3)
    cosine_knn_lsh(vecs, queries, 3).count()
    cosine_knn_ivf(vecs, queries, 3, n_cells=4, n_probe=2).count()
    cosine_knn_pq(vecs, queries, 3, m_sub=2, k_codes=4).count()

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src long, dst long, w double",
    )
    pagerank(edges, iters=2).count()

    # set-difference, not counts: the ContextCleaner may concurrently
    # evict OTHER tests' dead caches under a shared session (r6
    # full-suite lesson) — only ids NEW since base are ours to release
    assert _persistent_ids(spark) - base_ids  # the new caches exist...
    for owner in ("knn", "ivf", "pq", "pagerank"):
        lifecycle.release(owner)
    assert _persistent_ids(spark) - base_ids == set()  # ...all released
    assert lifecycle._pool == []


def test_scoped_release_only_evicts_own_caches(spark):
    """Two owners sharing a session: releasing one owner's caches must
    leave the other's persisted, and a bare release still drains
    everything."""
    lifecycle.release()
    base_ids = _persistent_ids(spark)

    a = object()  # an object owner, e.g. a model instance
    df_a = lifecycle.materialize(spark.range(10), owner=a, eager=True)
    df_b = lifecycle.materialize(spark.range(20), owner="b", eager=True)
    assert len(_persistent_ids(spark) - base_ids) == 2

    lifecycle.release(a)  # evicts ONLY owner a's cache
    assert len(_persistent_ids(spark) - base_ids) == 1
    assert not df_a.is_cached
    assert df_b.storageLevel.useMemory  # b untouched

    lifecycle.release()  # bare form drains the rest regardless of owner
    assert _persistent_ids(spark) - base_ids == set()


def test_checkpoint_releases_with_its_owner(spark):
    """lifecycle.checkpoint: the lineage-free frame holds the source's
    rows, another owner's release leaves it in place, and its own
    owner's release unpersists its blocks and empties the pool."""
    lifecycle.release()
    base_ids = _persistent_ids(spark)

    src = spark.range(50).select("id", (F.col("id") * 3).alias("y"))
    ck = lifecycle.checkpoint(src, owner="ck")
    assert sorted(ck.collect()) == sorted(src.collect())
    ck_ids = _persistent_ids(spark) - base_ids
    assert len(ck_ids) == 1

    lifecycle.materialize(spark.range(5), owner="other", eager=True)
    lifecycle.release("other")  # another owner: the checkpoint stays
    assert _persistent_ids(spark) - base_ids == ck_ids
    assert sorted(ck.collect()) == sorted(src.collect())

    lifecycle.release("ck")
    assert _persistent_ids(spark) - base_ids == set()
    assert lifecycle._pool == []


def test_track_release_thread_safe(spark):
    """The pool mutation is lock-guarded, so concurrent registration
    and release from threads sharing the session can neither lose an
    entry (a cache that is never released) nor double-release one.
    Hammer the pool with racing owners and assert exact accounting:
    every release runs exactly once, every cache ends uncached, and the
    pool ends empty."""
    import threading

    lifecycle.release()  # drain anything earlier tests left behind
    n_threads, n_each = 8, 25
    dfs = []
    calls: dict[tuple[int, int], int] = {}
    lock = threading.Lock()

    def bump(key):
        with lock:
            calls[key] = calls.get(key, 0) + 1

    def worker(i: int) -> None:
        owner = object()
        mine = []
        for j in range(n_each):
            mine.append(lifecycle.materialize(spark.range(j + 1), owner=owner))
            lifecycle.on_release(lambda k=(i, j): bump(k), owner=owner)
        lifecycle.release(owner)
        with lock:
            dfs.extend(mine)

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: widen the races
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)

    assert len(dfs) == n_threads * n_each
    assert all(not df.is_cached for df in dfs)
    assert calls == {(i, j): 1 for i in range(n_threads) for j in range(n_each)}
    assert lifecycle._pool == []


def test_lifecycle_module_is_the_only_cache_site():
    """One mechanism: no module of the package persists a DataFrame
    except through lifecycle.materialize (localCheckpoint truncates
    lineage and is not a cache, so it is exempt)."""
    pkg = Path(lifecycle.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != Path(lifecycle.__file__)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.(persist|cache)\(", line)
    ]
    assert hits == []
