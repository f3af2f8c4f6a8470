"""Event sessionization: segment per-user event streams into sessions.

Not in the reference (no temporal operators anywhere in record_matcher;
the closest anchor is the conversation rollup, SURVEY §2.5) — mandated by
the training-data-pipeline scope: session segmentation is the event-log
analogue of the turn→conversation rollup, and the standard first step for
building behavioral / agent-trajectory training corpora.

Two operators over one semantics (a *session* is a maximal run of
events of one user where consecutive event times differ by AT MOST
``gap`` = ``GAP_SECONDS``; a difference strictly greater than gap starts a
new session):

- :func:`sessionize`       per-event session assignment (lag + running
                           count over a per-user window)
- :func:`session_stats`    per-session aggregates via Spark's NATIVE
                           ``F.session_window`` (gap-merged event-time
                           windows)

Boundary exactness: Spark's session window for an event at t spans
[t, t+gap) but MERGES a successor whose start touches the end
inclusively — next - t <= gap keeps the session, verified by test
(an event exactly ``gap`` after its predecessor stays in the session) —
so the lag formulation's complement is next - t > gap → new session.
Both paths and the DuckDB oracle twin
compare *integer epoch microseconds* (``unix_micros`` / ``epoch_us``), so
session boundaries are bit-exact across engines — no float time math.

Scale shape (100 TB):
- ``session_stats`` is ONE shuffle on the user key; Spark's session-window
  aggregation sorts each partition by event time and merges runs — no
  per-event Python, no window function, map-side partial merge of
  non-overlapping sessions.
- ``sessionize`` needs a per-user ordered window (inherent to emitting a
  per-event label). Parallelism is bounded by #users, not #events; the
  skew risk is one hyperactive user funneling into one task — pass
  ``split_bucket_seconds`` to run the heavy window per
  (user, coarse-time-bucket) instead, with an exact boundary-stitching
  pass over the tiny per-bucket summary (labels identical to the unsplit
  path — see the parameter docstring; equivalence property-tested in
  tests/test_sessions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Same-user events at most GAP_SECONDS apart share a session.
GAP_SECONDS = 12 * 3600
# Event-table columns: the user and event-time keys of both operators,
# the window tie-break in ``sessionize`` and the two aggregated columns
# of ``session_stats``.
USER_COL = "user_id"
TS_COL = "ts"
EVENT_ID_COL = "event_id"
EVENT_TYPE_COL = "event_type"
VALUE_COL = "value"


def sessionize(
    df: DataFrame, *, split_bucket_seconds: int | None = None
) -> DataFrame:
    """Per-event session labels → input columns + ``session_idx`` (0-based
    per user, in time order) and ``session_id`` (``"<user>#<idx>"``).

    Rows with a NULL user or NULL timestamp are dropped (a session is
    per-user per-time by definition; blanks never form a session — same
    convention as blocking keys).

    ``EVENT_ID_COL`` breaks timestamp ties deterministically for the
    window sort; tied timestamps always land in the SAME session regardless
    of order (their gap is 0 < gap), so the labels — like the
    session-window path, which sorts by time alone — do not depend on the
    tie-break.

    ``split_bucket_seconds`` — heavy-user skew split. The default path
    windows over ``partitionBy(user)``: one hyperactive user funnels all
    its events into one task. With a bucket width set, the ordered window
    runs per (user, floor(epoch/bucket)) — bounding any task's input to
    one user-bucket — and a second window over the per-bucket SUMMARY
    rows (one row per non-empty user-bucket, negligible next to events)
    stitches the boundaries exactly: a bucket's first event continues the
    previous non-empty bucket's run iff their true adjacent-event gap is
    within ``GAP_SECONDS``, and each bucket's label offset is the running
    sum of boundary-corrected session starts before it. Labels are
    IDENTICAL to the unsplit path for every bucket width (equivalence is
    property-tested, boundary-straddling sessions included); tied
    timestamps share a bucket by construction, so the tie-break argument
    above still holds.
    """
    user_col, ts_col = USER_COL, TS_COL
    ts = F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        # unix_micros needs TIMESTAMP; interpreting NTZ wall time in the
        # session time zone is Spark's own cast semantics (identity on the
        # stored micros under UTC). session_window accepts NTZ directly,
        # so the session_stats path needs no cast.
        ts = ts.cast("timestamp")
    us = F.unix_micros(ts)
    gap = GAP_SECONDS * 1_000_000
    base = df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())

    def _label(pre: DataFrame, part_cols: list[str]) -> DataFrame:
        """new-session flags + running local count within the partition."""
        w = Window.partitionBy(*part_cols).orderBy(ts_col, EVENT_ID_COL)
        prev = F.lag("_us").over(w)
        flag = F.when(
            prev.isNull() | ((F.col("_us") - prev) > F.lit(gap)), 1
        ).otherwise(0)
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return pre.withColumn("_f", flag).withColumn(
            "_lc", F.sum("_f").over(run)
        )

    if split_bucket_seconds is None:
        out = _label(base.withColumn("_us", us), [user_col]).withColumn(
            "session_idx", F.col("_lc") - F.lit(1)
        )
    else:
        bucket_us = int(split_bucket_seconds) * 1_000_000
        pre = base.withColumn("_us", us).withColumn(
            "_bkt", F.floor(F.col("_us") / F.lit(bucket_us))
        )
        ev = _label(pre, [user_col, "_bkt"])
        summary = ev.groupBy(user_col, "_bkt").agg(
            F.min("_us").alias("_first_us"),
            F.max("_us").alias("_last_us"),
            F.sum("_f").alias("_ns"),
        )
        ws = Window.partitionBy(user_col).orderBy("_bkt")
        prev_last = F.lag("_last_us").over(ws)
        cont = F.when(
            prev_last.isNotNull()
            & ((F.col("_first_us") - prev_last) <= F.lit(gap)),
            F.lit(1),
        ).otherwise(F.lit(0))
        fixed = summary.withColumn("_cont", cont).withColumn(
            "_off",
            F.coalesce(
                F.sum(F.col("_ns") - F.col("_cont")).over(
                    ws.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        out = ev.join(
            fixed.select(user_col, "_bkt", "_cont", "_off"),
            [user_col, "_bkt"],
        ).withColumn(
            "session_idx",
            F.col("_off") + F.col("_lc") - F.col("_cont") - F.lit(1),
        )
    return (
        out.withColumn(
            "session_id",
            F.concat_ws("#", F.col(user_col).cast("string"),
                        F.col("session_idx").cast("string")),
        )
        .drop("_us", "_bkt", "_f", "_lc", "_cont", "_off")
    )


def session_stats(df: DataFrame) -> DataFrame:
    """Per-session aggregates via the native session window → one row per
    (user, session): ``session_start_epoch`` / ``session_end_epoch``
    (floor epoch seconds of the first/last event), ``n_events``,
    ``n_event_types`` (distinct ``EVENT_TYPE_COL``) and
    ``value_cents_sum`` (sum of round(``VALUE_COL`` * 100) as BIGINT —
    an integer sum is associative, so partial aggregation order cannot
    produce cross-engine float drift the way ``SUM(double)`` can).

    One shuffle on ``USER_COL``; sessions are merged by Spark's
    session-window aggregation (sort-merge of gap-runs inside each
    partition, partial merge map-side). No window functions, no Python.
    """
    user_col, ts_col = USER_COL, TS_COL
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_timestamp(F.col(ts_col))).alias("session_start_epoch"),
        F.max(F.unix_timestamp(F.col(ts_col))).alias("session_end_epoch"),
        F.countDistinct(F.col(EVENT_TYPE_COL)).alias("n_event_types"),
        F.sum(F.round(F.col(VALUE_COL) * 100).cast("long")).alias(
            "value_cents_sum"
        ),
    ]
    return (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), f"{GAP_SECONDS} seconds"),
        )
        .agg(*aggs)
        .drop("session_window")
    )

