"""Phase timings: the one way this package times the phases of a query.

``with phase(name):`` records the wall seconds of its block in one
process-wide log, and :func:`take` returns the log and clears it.

- A phase opened while another phase is open, on any thread, is a
  sub-phase (``Phase.sub``): reported, but not part of a sum.  The
  hybrid's ``axis_user`` / ``axis_item`` threads run inside its
  ``axes_wall``; connected components' phases run inside
  ``corpus_train_ready``'s ``pairs_components``.
- The log keeps one entry per name, and the latest wins.

Phases wrap only work that runs at call time.  The lazy remainder that
the caller's action pays is the caller's to time.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from typing import Iterator, NamedTuple


class Phase(NamedTuple):
    name: str
    seconds: float
    #: opened while another phase was open
    sub: bool


_log: dict[str, Phase] = {}
_open = 0
_lock = threading.Lock()


@contextmanager
def phase(name: str) -> Iterator[None]:
    """Log the wall seconds of the block under ``name``."""
    global _open
    with _lock:
        sub = _open > 0
        _open += 1
    t0 = time.perf_counter()
    try:
        yield
    finally:
        seconds = time.perf_counter() - t0
        with _lock:
            _open -= 1
            _log.pop(name, None)  # re-insert: the log is in closing order
            _log[name] = Phase(name, seconds, sub)


def take() -> list[Phase]:
    """The logged phases in the order they closed; the log is then empty."""
    with _lock:
        out = list(_log.values())
        _log.clear()
    return out
