"""Plain-vs-chunked window-form selection, per carry class.

Every bounded-task window twin in this engine (sessions / running
revenue / prev-gap / rolling-RANGE / as-of) trades one per-key
unbounded sort for a two-phase composition; the switch signal is the
hot key's row count (from ``events_key_skew_audit`` /
``lineitem``'s skew audit: ``skew_ratio × mean_rows_per_key``).  The
r10/r11 stress measurements showed the crossover is NOT one number —
it scales with the window's per-row maintenance cost:

    carry class          crossover measured             PERF.md section
    range_frame          8.02x at 2M, 4.63x at 10M      GHOST REPLICAS
    running_sum          4x at 10M                      Sessionization hot-user
    flag_sum (sessions)  1.73x at 2M (one 2M-row key)   Sessionization hot-user
    one_row_lag          same class as flag_sum         —
    asof_struct          1.10x at 4M, 2.57x at 20M      as-of bounded-task twin

A RANGE frame pays per-row frame maintenance and crosses over two
sizes earlier than the as-of carry (``last(ignorenulls)`` — the
cheapest per-row window Spark has).  The thresholds below sit at
each class's measured break-even with ~2x headroom, so switching at
the threshold never loses more than a few percent and a hot key one
order past it wins integer factors.
"""

from __future__ import annotations

#: rows-on-the-hottest-key above which the chunked twin wins, by
#: carry class (see module docstring for the measurements)
CARRY_CLASS_CROSSOVER_ROWS: dict[str, int] = {
    # per-row frame maintenance — bites earliest
    "range_frame": 500_000,
    # exact-decimal prefix sum
    "running_sum": 2_000_000,
    # one flag per row, summed
    "flag_sum": 1_000_000,
    # lag carries one row
    "one_row_lag": 1_000_000,
    # last(ignorenulls) struct carry — cheapest, bites latest
    "asof_struct": 3_000_000,
}


def hot_key_rows_of(df, key_col: str) -> int:
    """Rows on the hottest non-null ``key_col`` key — the plan-time
    audit feeding :func:`windowed_form`.  One map-side-combinable
    count-per-key aggregate + a 1-row max; the single collected value
    is O(model) driver state (a scalar threshold input, same class as
    the broadcast-budget probes).  At 100 TB this is one shuffle of
    |keys| counted rows — the same width any shuffle on that key
    would create, and the price of never hand-guessing the form."""
    from pyspark.sql import functions as F

    row = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"))
        .first()
    )
    return int(row["m"] or 0)


def windowed_form(plain, chunked, carry_class: str, hot_key_rows: int):
    """Self-driving plain/chunked dispatch (r11 VERDICT #3): pick the
    window form from the measured crossover table and the audited hot
    key, and return ``(DataFrame, form)`` so callers can surface the
    decision.  ``plain`` / ``chunked`` are zero-arg thunks building
    the respective plan — only the CHOSEN plan is constructed.

    Recipe at scale: run the skew audit (or :func:`hot_key_rows_of`
    on the window's partition key), hand the count here, and the
    five-class threshold table picks the form that was measured
    faster at that size — switching at the threshold never loses more
    than a few percent and a hot key one order past it wins integer
    factors (module docstring).  Unmeasured carry classes raise, by
    design."""
    form = recommend_window_form(hot_key_rows, carry_class)
    return (plain() if form == "plain" else chunked()), form


def recommend_window_form(hot_key_rows: int, carry_class: str) -> str:
    """``'plain'`` or ``'chunked'`` for a window of ``carry_class``
    whose hottest key holds ``hot_key_rows`` rows (take
    ``skew_ratio × rows/n_keys`` from the skew audit).  Unknown carry
    classes raise — a new twin must be measured (recorded in PERF.md)
    and added to the table before it can be auto-selected."""
    try:
        threshold = CARRY_CLASS_CROSSOVER_ROWS[carry_class]
    except KeyError:
        raise ValueError(
            f"unmeasured carry class {carry_class!r}; known: "
            f"{sorted(CARRY_CLASS_CROSSOVER_ROWS)}"
        ) from None
    if hot_key_rows < 0:
        raise ValueError(f"hot_key_rows must be >= 0, got {hot_key_rows}")
    return "chunked" if hot_key_rows >= threshold else "plain"
