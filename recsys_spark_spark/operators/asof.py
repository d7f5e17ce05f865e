"""As-of (last-value-before) joins, Spark-native (SURVEY §2.3 notes
the reference has no range/as-of join; the pattern is required for
event-stream enrichment).

Implementation is the UNION trick, not a range join: tag both inputs,
union them, sort within each key by (ts, side, tiebreak), and carry
the right side's value forward with ``last(..., ignorenulls=True)``
over an unbounded-preceding window; left rows then hold the most
recent right value at-or-before their timestamp.

Why this shape at 100 TB: a naive ``l JOIN r ON l.key = r.key AND
r.ts <= l.ts`` explodes to O(|l|·|r|) per key before the per-row
argmax; the union trick is ONE shuffle on the key and a linear
window pass — the same cost as sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    value_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tiebreak: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Attach to each left row the latest ``value_col`` from ``right``
    with ``right.ts <= left.ts`` (per ``by`` key); NULL when no prior
    right row exists.

    ``tiebreak``: column present on BOTH sides ordering simultaneous
    rows deterministically (right rows at exactly left.ts DO match —
    at-or-before semantics; among equal-ts right rows the highest
    tiebreak wins).  Without it, each side orders by its OWN ts column
    (``left_ts`` on left, ``right_ts`` on right — never the other
    side's name).  Returns all left columns + ``out_col``.

    A genuine NULL in the right table's ``value_col`` is a real
    observation: the right rows are struct-wrapped before the
    ``last(ignorenulls)`` carry, so the most recent right record wins
    even when its value is NULL (a bare-column carry would silently
    serve the older non-NULL value instead).
    """
    out_col = out_col or f"asof_{value_col}"
    tb_l = tiebreak or left_ts
    tb_r = tiebreak or right_ts

    lcols = left.columns
    vtype = right.schema[value_col].dataType
    l = left.select(
        F.col(by).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.col(tb_l).alias("_tb"),
        F.lit(1).alias("_is_l"),
        F.lit(None).cast(f"struct<v: {vtype.simpleString()}>").alias("_v"),
        F.struct(*lcols).alias("_row"),
    )
    r = right.select(
        F.col(by).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.col(tb_r).alias("_tb"),
        F.lit(0).alias("_is_l"),
        F.struct(F.col(value_col).alias("v")).alias("_v"),
        F.lit(None).cast(l.schema["_row"].dataType).alias("_row"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_is_l", "_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = l.unionByName(r).withColumn(
        "_asof", F.last("_v", ignorenulls=True).over(w)["v"]
    )
    return tagged.where(F.col("_is_l") == 1).select(
        *[F.col("_row")[c].alias(c) for c in lcols],
        F.col("_asof").alias(out_col),
    )


def asof_join_chunked(
    left: DataFrame,
    right: DataFrame,
    by: str,
    value_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tiebreak: str | None = None,
    out_col: str | None = None,
    chunk_s: int = 86_400,
    check_unique: bool = False,
) -> DataFrame:
    """Bounded-task scale twin of :func:`asof_join` (IDENTICAL output
    and semantics) — fifth member of the chunked window-twin family
    and its simplest carry class yet (sessions carry a FLAG, running
    revenue a SUM, lag ONE ROW, rolling-RANGE a GHOST TAIL; the as-of
    carry is the previous chunk's LAST RIGHT-SIDE STRUCT):

    1. the union-trick carry runs WITHIN (key, time-chunk), so no
       task ever sorts more than one key-chunk of rows — the plain
       form's per-key unbounded window sort is the measured hot-key
       straggler class (PERF.md "GHOST REPLICAS": 8× at 2M rows
       per key for per-row-maintenance frames; ``last(ignorenulls)``
       is cheaper per row but a 10M-event key still lands one task);
    2. one tiny per-(key, present-chunk) relation summarizes each
       chunk's last right struct in window order; an exclusive
       ``last(ignorenulls)`` prefix over it supplies each chunk's
       carry-in — rows in a chunk with no earlier in-chunk right row
       fall back to the carried struct (hole chunks propagate the
       carry through ``ignorenulls``).

    The chunk id is monotone in the (ts, side, tiebreak) window order
    and same-second ties share a chunk by construction (epoch-second
    floor), so composition is exact: a right row at exactly a left
    row's ts lands in the same chunk and the in-chunk window applies
    the at-or-before tie rule; a key's first chunk carries NULL,
    matching the plain form's no-prior-right NULL.  Struct-wrapped
    carry preserves the genuine-NULL-value semantics (docstring of
    :func:`asof_join`).  Switch signal: the skew audit's skew_ratio,
    as for every twin.

    DUPLICATE-(ts, tiebreak) CAVEAT (r11 ADVICE): twin equivalence
    requires the caller's tiebreak to be UNIQUE per (key, right_ts) —
    the deterministic-tiebreak contract both forms already assume.
    If duplicate (ts, tiebreak) right rows carry DIFFERENT values,
    the window order among them is ambiguous: the plain form's
    ``last()`` serves whichever the engine happens to sort last,
    while this twin's per-chunk ``max(struct(_ts, _tb, _v))`` carry
    compares through the VALUE field and deterministically serves the
    largest value — the two forms can then disagree (and the plain
    form can disagree with itself across shuffles).  The registered
    attribution query is immune (its value_col IS the right ts).

    ``check_unique=True`` (r12 VERDICT #5) ENFORCES that contract
    instead of documenting it: one aggregate over the right side
    counts (key, ts, tiebreak) groups holding more than one DISTINCT
    value (same-value duplicates are harmless — any order serves the
    same answer) and raises ``ValueError`` naming an offending key —
    a loud failure where the divergence would otherwise be silent.
    The check is an EAGER Spark action at call time (one
    groupBy + limit-1 collect, O(right) map-side-combinable);
    default-off so production plans stay fully lazy."""
    if check_unique:
        tb_chk = tiebreak or right_ts
        dup = (
            right.groupBy(by, right_ts, tb_chk)
            .agg(F.count_distinct(F.col(value_col)).alias("_nv"))
            .where(F.col("_nv") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            d = dup[0]
            raise ValueError(
                "asof_join_chunked: duplicate right rows at "
                f"({by}={d[by]!r}, {right_ts}={d[right_ts]!r}, "
                f"tiebreak={d[tb_chk]!r}) carry {d['_nv']} distinct "
                f"{value_col!r} values — the window order among them is "
                "ambiguous and the plain/chunked twins can diverge; make "
                "the tiebreak unique per (key, ts) or collapse the "
                "duplicates first"
            )
    out_col = out_col or f"asof_{value_col}"
    tb_l = tiebreak or left_ts
    tb_r = tiebreak or right_ts

    lcols = left.columns
    vtype = right.schema[value_col].dataType
    l = left.select(
        F.col(by).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.col(tb_l).alias("_tb"),
        F.lit(1).alias("_is_l"),
        F.lit(None).cast(f"struct<v: {vtype.simpleString()}>").alias("_v"),
        F.struct(*lcols).alias("_row"),
    )
    r = right.select(
        F.col(by).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.col(tb_r).alias("_tb"),
        F.lit(0).alias("_is_l"),
        F.struct(F.col(value_col).alias("v")).alias("_v"),
        F.lit(None).cast(l.schema["_row"].dataType).alias("_row"),
    )
    # NTZ-safe epoch chunking — same arithmetic as the other twins
    # (second-truncate first so boundary semantics are tz-independent)
    tagged = l.unionByName(r).withColumn(
        "_chunk",
        F.floor(
            F.unix_timestamp(F.date_trunc("second", F.col("_ts")))
            / F.lit(chunk_s)
        ),
    )
    w_in = (
        Window.partitionBy("_k", "_chunk")
        .orderBy("_ts", "_is_l", "_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_chunk = tagged.withColumn(
        "_asof_in", F.last("_v", ignorenulls=True).over(w_in)
    )
    # per-(key, present chunk) summary: the chunk's last right struct
    # in window order — right rows order by (_ts, _tb) among
    # themselves (side is constant), so max of (_ts, _tb, _v) is the
    # window-order last
    per_chunk = tagged.groupBy("_k", "_chunk").agg(
        F.max(
            F.when(
                F.col("_is_l") == 0,
                F.struct("_ts", "_tb", F.col("_v").alias("v")),
            )
        ).alias("_last_r")
    )
    cw = (
        Window.partitionBy("_k")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = per_chunk.select(
        "_k",
        "_chunk",
        F.last("_last_r", ignorenulls=True).over(cw)["v"].alias("_carry"),
    )
    return (
        in_chunk.join(carry, ["_k", "_chunk"])
        .where(F.col("_is_l") == 1)
        .select(
            *[F.col("_row")[c].alias(c) for c in lcols],
            F.coalesce(F.col("_asof_in"), F.col("_carry"))["v"].alias(out_col),
        )
    )
