"""Two-level (bucketed) per-key prefix windows — the scale path for
the `Window.partitionBy(key).orderBy(time)` family when a key is HOT.

A single per-key window serializes each key into one task: the r12
hot-entity audit (`tools/window_skew_check.py`, SCALING.md) measured a
30%-hot key at 2.5-2.8x of uniform for `sessionize_events` /
`asof_join_events` — inside their 3x bound, so the registered queries
keep the simple plan — and 4.25x for `running_totals`, whose adaptive
fix (queries/core.py) inlines exactly the decomposition this module
generalizes. These operators are the stand-alone recipe for the other
two shapes, pinned result-identical to their single-window twins so a
hotter corpus than the audit's can swap them in without re-deriving
the boundary algebra: the alternative physical strategy lives behind
the same semantics, measured and tested, before the day it is needed.

The decomposition (token_budget_mix / running_totals pattern): bucket
rows by a PREFIX of the sort order (calendar day of the timestamp —
every row with equal ts lands in one bucket, so intra-bucket order
extends to the global order), run the row-level window inside
(key, bucket) — a hot key spreads over its buckets — and stitch the
bucket boundaries with a per-(key, bucket) aggregate whose own window
is tiny (|keys| x |buckets| rows). Stitching is exact, not
approximate: session flags and carries are integer/last-non-null
algebra, so offset + intra-bucket value equals the global value
row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _day_bucket(ts_col: str):
    """Bucket id: microseconds-since-epoch of the row's UTC day — an
    integer, monotone in ts, constant within equal ts (so intra-bucket
    (ts, tiebreak) order extends to the global order)."""
    return F.unix_micros(F.date_trunc("DAY", F.col(ts_col)))


def sessionize_two_level(
    events: DataFrame,
    gap_us: int = 1_800_000_000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization, identical rows to the single-window
    form (lag + running sum over ``partitionBy(key).orderBy(ts, id)``)
    — pinned in tests/test_prefix_windows.py on uniform AND hot-key
    fixtures.

    Boundary algebra: within a (key, day) bucket the lag/cumsum run
    locally; each bucket's FIRST row has no intra lag, so its
    new-session flag comes from the bucket frame — previous bucket's
    max(ts) (the timeline's last ts before this bucket, since the
    bucket is a ts prefix) vs this bucket's min(ts). session_idx =
    exclusive-prefix sum of per-bucket totals (first-row flag + intra
    flags) + this bucket's first-row flag + the intra running sum."""
    e = events.withColumn("__b", _day_bucket(ts_col))
    wi = Window.partitionBy(key_col, "__b").orderBy(ts_col, id_col)
    intra_prev = F.lag(ts_col).over(wi)
    # window functions can't nest: materialize the flag column first,
    # then run the cumulative sum over it in a second projection
    flagged = e.select(
        id_col,
        key_col,
        ts_col,
        "__b",
        F.when(intra_prev.isNull(), F.lit(0))
        .otherwise(
            (
                F.unix_micros(F.col(ts_col)) - F.unix_micros(intra_prev) > gap_us
            ).cast("int")
        )
        .alias("__if"),
    )
    rows = flagged.select(
        id_col,
        key_col,
        ts_col,
        "__b",
        F.sum("__if")
        .over(wi.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__ic"),
    )
    g = (
        flagged.groupBy(key_col, "__b")
        .agg(
            F.min(ts_col).alias("__first_ts"),
            F.max(ts_col).alias("__last_ts"),
            F.sum("__if").alias("__isum"),
        )
    )
    wb = Window.partitionBy(key_col).orderBy("__b")
    prev_last = F.lag("__last_ts").over(wb)
    first_flag = F.when(prev_last.isNull(), F.lit(1)).otherwise(
        (
            F.unix_micros(F.col("__first_ts")) - F.unix_micros(prev_last) > gap_us
        ).cast("int")
    )
    totals = g.select(
        key_col,
        "__b",
        first_flag.alias("__ff"),
        (first_flag + F.col("__isum")).alias("__btotal"),
    )
    offs = totals.select(
        key_col,
        "__b",
        "__ff",
        F.coalesce(
            F.sum("__btotal").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__off"),
    )
    return rows.join(offs, [key_col, "__b"]).select(
        id_col,
        key_col,
        ts_col,
        (F.col("__off") + F.col("__ff") + F.col("__ic")).cast("long").alias(
            "session_idx"
        ),
    )


def carry_last_two_level(
    tagged: DataFrame,
    carry_cols: list[str],
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "kind", "event_id"),
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key last-non-null carry (the as-of union-and-carry core):
    appends ``carried_<c>`` columns identical to
    ``F.last(c, ignorenulls=True)`` over
    ``partitionBy(key).orderBy(*order_cols)`` — for the tagged-union
    shape where the carry columns are null-or-set TOGETHER (carrier
    rows set all of them, probe rows none).

    Boundary algebra: intra-bucket carry runs locally; each bucket's
    carry-in is the prior buckets' last carrier row — per-bucket
    max(struct(order, carries)) over carrier rows, carried across the
    tiny bucket frame by the same last-non-null window (on a full
    bucket spine, so carrier-less buckets still receive a carry-in) —
    coalesced UNDER the intra value."""
    t = tagged.withColumn("__b", _day_bucket(ts_col))
    wi = (
        Window.partitionBy(key_col, "__b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = t.select(
        "*",
        *[F.last(c, ignorenulls=True).over(wi).alias(f"__i_{c}") for c in carry_cols],
    )
    # carry fields re-aliased inside the anchor struct: order_cols and
    # carry_cols may share names (as-of carries event_id and also
    # tie-breaks on it), and duplicate struct fields make getField
    # ambiguous
    anchor = F.struct(
        *[F.col(c) for c in order_cols],
        *[F.col(c).alias(f"c_{c}") for c in carry_cols],
    )
    g = (
        t.where(F.col(carry_cols[0]).isNotNull())
        .groupBy(key_col, "__b")
        .agg(F.max(anchor).alias("__last"))
        .select(
            key_col,
            "__b",
            *[F.col(f"__last.c_{c}").alias(f"__g_{c}") for c in carry_cols],
        )
    )
    wb = (
        Window.partitionBy(key_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spine = t.select(key_col, "__b").distinct()
    carry_in = spine.join(g, [key_col, "__b"], "left").select(
        key_col,
        "__b",
        *[
            F.last(f"__g_{c}", ignorenulls=True).over(wb).alias(f"__p_{c}")
            for c in carry_cols
        ],
    )
    out = intra.join(carry_in, [key_col, "__b"])
    return out.select(
        *list(tagged.columns),
        *[
            F.coalesce(F.col(f"__i_{c}"), F.col(f"__p_{c}")).alias(f"carried_{c}")
            for c in carry_cols
        ],
    )
