"""Event analytics: tumbling-window aggregation and sessionization.

The reference has no streaming/event operators (SURVEY.md 2.9); these cover
the engine's monitoring surface (a production ingest watches its own event
stream) and exercise Spark's time-window operators with exact DuckDB twins.

Portability notes: window starts are exported as epoch seconds (BIGINT) —
cross-engine timestamp rendering differs, epoch arithmetic does not. The
events table ships TIMESTAMP_NTZ; session TZ is pinned UTC so
unix_timestamp(cast(ts as timestamp)) == duckdb epoch(ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND = 6


def windowed_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """(win_start, event_type, n, sum_value): tumbling windows via Spark's
    window() operator, start exported as epoch seconds."""
    secs = minutes * 60
    return (
        events.withColumn("tts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("tts", f"{minutes} minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), ROUND).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).cast("bigint").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def windowed_counts_duck_sql(events_rel: str = "events", minutes: int = 5) -> str:
    secs = minutes * 60
    return f"""
SELECT CAST(floor(epoch(ts) / {secs}) * {secs} AS BIGINT) AS win_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), {ROUND}) AS sum_value
FROM {events_rel}
GROUP BY 1, 2
""".strip()


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """(user_id, session_start, n_events, sum_value): a new session starts
    when the gap to the user's previous event exceeds gap_seconds — the
    classic lag + running-sum sessionization (no UDF, two window functions).
    """
    events.withColumn(
        "ep", F.unix_timestamp(F.col("ts").cast("timestamp")).cast("bigint")
    ).createOrReplaceTempView("_ev_sess")
    return events.sparkSession.sql(
        f"""
WITH g AS (
  SELECT user_id, ep,
         value,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep) > {gap_seconds}
              OR lag(ep) OVER (PARTITION BY user_id ORDER BY ep) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM _ev_sess
), s AS (
  SELECT user_id, ep, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ep
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id, CAST(min(ep) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), {ROUND}) AS sum_value
FROM s GROUP BY user_id, session_no
"""
    )


def sessionize_duck_sql(events_rel: str = "events", gap_seconds: int = 1800) -> str:
    return f"""
WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value FROM {events_rel}),
g AS (
  SELECT user_id, ep, value,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep) > {gap_seconds}
              OR lag(ep) OVER (PARTITION BY user_id ORDER BY ep) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM e
), s AS (
  SELECT user_id, ep, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ep
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id, CAST(min(ep) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), {ROUND}) AS sum_value
FROM s GROUP BY user_id, session_no
""".strip()


def asof_join(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
) -> DataFrame:
    """As-of join: each `left_type` event gets the most recent `right_type`
    event AT-OR-BEFORE its timestamp for the same user.

    (event_id, user_id, ts_epoch, prior_event_id, prior_value, lag_seconds);
    prior_* are NULL when no earlier right event exists. Ties: a right event
    at exactly the left ts matches; among several right events at one
    (user, ts) the highest event_id wins (full deterministic ordering).

    Spark has no ASOF JOIN; a naive range join explodes to
    O(|left| x |right per user|). This is the scale-safe union-tag pattern:
    tag both sides, sort per user by (ts, tag, event_id) with right rows
    before left at equal ts, and carry the running last non-null right
    payload — ONE shuffle on user_id, per-key windows only (never global),
    linear in |left| + |right|. At 100 TB the user_id key space is huge and
    uniform, so the single repartition is the floor for any per-user
    computation.

    ``left_type`` and ``right_type`` must differ: each event gets exactly
    one tag, so equal types would leave no left rows and an empty result.
    """
    from pyspark.sql import Window

    if left_type == right_type:
        raise ValueError(
            f"asof_join: left_type and right_type must differ, both are "
            f"{left_type!r}"
        )
    # tag 0 = right (visible to same-ts lefts), 1 = left. ONE scan with a
    # tag expression — the former union of two filtered branches read the
    # input twice (the pushed-down filters make the subtrees differ, so
    # exchange reuse cannot kick in).
    tagged = events.filter(
        F.col("event_type").isin(right_type, left_type)
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("tts"),
        F.when(F.col("event_type") == right_type, 0).otherwise(1).alias("tag"),
        "event_id",
        F.when(F.col("event_type") == right_type, F.col("value"))
        .cast("double")
        .alias("r_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # exclude the current row from the carried payload via lag-of-running:
    # for a LEFT row the running last right payload over [start, current]
    # IS the as-of match (current row contributes nulls). All three
    # running-last expressions sit in ONE select so they collapse into a
    # single Window operator (three separate withColumns planned three) —
    # per-column IGNORE NULLS semantics identical to the oracle.
    joined = tagged.select(
        "*",
        F.last(
            F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True
        ).over(w).alias("prior_event_id"),
        F.last(
            F.when(F.col("tag") == 0, F.col("tts")), ignorenulls=True
        ).over(w).alias("prior_ts"),
        F.last(
            F.when(F.col("tag") == 0, F.col("r_value")), ignorenulls=True
        ).over(w).alias("prior_value"),
    ).filter(F.col("tag") == 1)
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("tts").cast("bigint").alias("ts_epoch"),
        "prior_event_id",
        F.round("prior_value", ROUND).alias("prior_value"),
        (F.unix_timestamp("tts") - F.unix_timestamp("prior_ts"))
        .cast("bigint")
        .alias("lag_seconds"),
    )


def asof_join_duck_sql(
    events_rel: str = "events",
    left_type: str = "purchase",
    right_type: str = "click",
) -> str:
    """Identical union-tag window plan in DuckDB (not its native ASOF JOIN:
    with duplicate right timestamps ASOF picks an unspecified row, while the
    explicit (ts, tag, event_id) ordering is deterministic in both engines)."""
    return f"""
WITH tagged AS (
  SELECT user_id, ts AS tts, 0 AS tag, event_id, value AS r_value
  FROM {events_rel} WHERE event_type = '{right_type}'
  UNION ALL
  SELECT user_id, ts AS tts, 1 AS tag, event_id, NULL AS r_value
  FROM {events_rel} WHERE event_type = '{left_type}'
), run AS (
  SELECT user_id, tts, tag, event_id,
         last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS) OVER w AS prior_event_id,
         last_value(CASE WHEN tag = 0 THEN tts END IGNORE NULLS) OVER w AS prior_ts,
         last_value(CASE WHEN tag = 0 THEN r_value END IGNORE NULLS) OVER w AS prior_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY tts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       -- floor, not CAST: duckdb CAST(double AS BIGINT) rounds while
       -- Spark's unix_timestamp truncates sub-second parts
       CAST(floor(epoch(tts)) AS BIGINT) AS ts_epoch,
       prior_event_id,
       round(prior_value, {ROUND}) AS prior_value,
       CAST(floor(epoch(tts)) - floor(epoch(prior_ts)) AS BIGINT) AS lag_seconds
FROM run WHERE tag = 1
"""
