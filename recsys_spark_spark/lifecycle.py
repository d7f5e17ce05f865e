"""Cache lifecycle: the one place this package persists a DataFrame.

Every cached relation goes through one of two primitives, and each
registers its release in one pool keyed by an owner:

- :func:`materialize` persists a frame and keeps its plan.  A released
  relation is recomputed if its plan runs again, so releasing it never
  changes a result, only when work is done.
- :func:`checkpoint` computes a frame now into executor-local blocks
  (an eager ``localCheckpoint``) and returns a frame whose plan is a
  scan of those blocks: lineage-free.  Every plan built on it
  afterwards is analyzed and optimized over that small leaf instead of
  the full upstream plan.  The blocks are the only copy, so a lazy plan
  over the frame fails after its release, or after the executor that
  holds them is lost.

Use :func:`checkpoint` for a leaf that later plans are built on (the
neighborhood models' ranked top-k, the CF ratings index); use
:func:`materialize` everywhere else.

The owner is a module name (``"als"``, ``"cf_lsh"``, ``"dedup"``,
``"neighborhood"``, ...) for caches that must outlive the call that
made them (the returned DataFrame is lazy over them), or an object: a
model instance that releases its own caches at the end of a fit or on
a refit, or a fresh ``object()`` for state that lives only inside one
call, which the call releases before it returns.  State that is not a
DataFrame joins the same pool through :func:`on_release` (a
broadcast's ``destroy``, MLlib's factor RDDs).  The one entry whose
lifetime is neither a call nor an owner's release is the CF ratings
index (``recommenders.neighborhood.ratings_index``): it is
checkpointed under its own token, released with ``"neighborhood"``,
and also when a CF call on another ratings frame replaces it.

:func:`release` runs one owner's releases, or every release when no
owner is given; ``plans.registry.release_query_state`` calls the bare
form between queries.  Release only once every result still needed is
collected, written or cached by the caller: a lazy plan over a released
checkpoint or a destroyed broadcast fails instead of recomputing.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame

#: (owner, release callable), oldest first
_pool: list[tuple[object, Callable[[], object]]] = []

#: guards _pool only; releases run outside it, so a slow unpersist
#: never blocks another thread's registration
_lock = threading.Lock()


def _owned_by(key: object, owner: object) -> bool:
    """Module-name owners match by value, object owners by identity."""
    return key is owner or (isinstance(key, str) and key == owner)


def on_release(fn: Callable[[], object], *, owner: object) -> None:
    """Register ``fn`` to run when ``owner`` (or everything) is released."""
    with _lock:
        _pool.append((owner, fn))


def materialize(df: DataFrame, *, owner: object, eager: bool = False) -> DataFrame:
    """Persist ``df`` at the session's default storage level
    (MEMORY_AND_DISK), register its unpersist under ``owner`` and
    return it.

    ``eager=True`` counts the frame before returning.  The rule: eager
    iff the frame has more than one consumer in the same action under
    AQE.  AQE launches the stages of one action concurrently, and every
    consumer subtree of a lazy persist computes the relation itself
    before any cache block registers (profiled: 3-4 racing stages each
    re-running one shingle explode).  One count builds the cache once;
    every consumer then reads its blocks.  A frame with a single
    consumer per action stays lazy: its first action fills the cache
    at no extra job."""
    df = df.cache()
    on_release(df.unpersist, owner=owner)
    if eager:
        df.count()
    return df


def checkpoint(df: DataFrame, *, owner: object) -> DataFrame:
    """Compute ``df`` now (an eager ``localCheckpoint`` at
    MEMORY_AND_DISK), register the unpersist of its blocks under
    ``owner`` and return the lineage-free frame over them."""
    df = df.localCheckpoint(eager=True)
    # the checkpointed RDD is the leaf of the new frame's plan
    rdd = df._jdf.queryExecution().analyzed().rdd()
    on_release(lambda: rdd.unpersist(False), owner=owner)
    return df


def release(owner: object = None) -> None:
    """Run the releases registered under ``owner``, newest first, or
    every release in the pool when ``owner`` is None.  Each entry leaves
    the pool exactly once, so concurrent registration and release can
    neither lose an entry nor release one twice."""
    with _lock:
        hit = [owner is None or _owned_by(key, owner) for key, _ in _pool]
        mine = [e for e, h in zip(_pool, hit) if h]
        _pool[:] = [e for e, h in zip(_pool, hit) if not h]
    for _, fn in reversed(mine):
        fn()
