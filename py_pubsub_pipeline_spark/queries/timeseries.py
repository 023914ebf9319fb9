"""Time-series operators over the events stream table: OHLC
resampling and gap-filled bucketing with LOCF interpolation — the
hypertable-rollup family a time-series workload expects.

Scale notes:
- resample_ohlc is ONE shuffle on (user_id, bucket) + an in-partition
  sort; open/close come from row_number endpoints, never a self-join
  back to the raw stream.
- time_bucket_gapfill generates the dense bucket spine DECLARATIVELY
  (sequence + explode — Catalyst sees the cardinality, no driver
  loop) and joins sparse aggregates onto it; LOCF is a single
  ignore-nulls window pass. Spine size = time range / bucket width,
  independent of event volume — the join is spine-sized, tiny at any
  corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ckpt import checkpoint
from ..registry import query
from ..tables import table


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT user_id, bucket,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY user_id, bucket
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly OHLC resample (open/high/low/close + count) —
    the downsampling rollup of a metrics/hypertable store. Open and
    close are the endpoint rows under a TOTAL order (ts, event_id —
    co-timed events tie-break deterministically), found via
    row_number, then collapsed in the same grouped aggregate as
    high/low/count: one shuffle, no raw-stream re-join."""
    ev = table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts")).alias("bucket")
    base = ev.select("user_id", bucket, "value", "ts", "event_id")
    wa = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        base.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("user_id", "bucket")
        .agg(
            F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6)
            .alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6)
            .alias("close"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "ts_bucket_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events WHERE event_type = 'purchase'),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds),
    sparse AS (
      SELECT date_trunc('hour', ts) AS bucket,
             ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS hour_sum,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1)
    SELECT s.bucket,
           COALESCE(sp.n, 0) AS n_events,
           CAST(sp.hour_sum AS DOUBLE) AS hour_sum,
           CAST(LAST_VALUE(sp.hour_sum IGNORE NULLS)
                OVER (ORDER BY s.bucket) AS DOUBLE) AS hour_sum_locf
    FROM spine s LEFT JOIN sparse sp USING (bucket)
    """,
)
def ts_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup of purchase events with
    last-observation-carried-forward interpolation (the TimescaleDB
    time_bucket_gapfill / locf shape). The dense bucket spine comes
    from sequence()+explode — declarative, spine-sized (hours in the
    time range), never a driver loop — sparse per-hour aggregates
    LEFT-join onto it, and LOCF is one ignore-nulls last() window
    pass over the spine. That window is deliberately un-partitioned:
    it orders the SPINE (one row per hour in the range — bounded,
    ~9k rows/year), never event rows, so the single-partition sort is
    a constant-size tail however large the corpus; partition it by a
    series key when gapfilling many series."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    sparse = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6).alias("hour_sum"),
        F.count("*").alias("n"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    w = Window.orderBy("bucket")
    return (
        spine.join(sparse, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.col("hour_sum").cast("double").alias("hour_sum"),
            F.last(F.col("hour_sum"), ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("hour_sum_locf"),
        )
    )


@query(
    "cdc_latest_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, ROUND(value, 6) AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction (upsert latest-wins): collapse a change
    stream to one CURRENT row per key — the merge/upsert materialize
    step of a lakehouse pipeline, expressed engine-agnostically as
    top-1-per-key under the total order (ts, event_id). One shuffle
    on the key; row_number + rn=1 lets Spark's window top-k filter
    prune per partition. At 100 TB the same plan compacts a day's CDC
    into the snapshot — no MERGE primitive needed for append-only
    logs."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


@query(
    "scd2_intervals",
    oracle="""
    SELECT user_id, event_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: each
    change row becomes a validity interval [valid_from, valid_to)
    closed by the NEXT change for the same key (lead over the same
    total order as cdc_latest_state); the open interval is flagged
    current. One shuffle + one in-partition sort serves the whole
    history rebuild — the pattern that turns an event log into a
    point-in-time-joinable dimension (join_asof then queries it)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id)
    SELECT
      COUNT(*) AS n_users,
      COUNT(t_view) AS n_viewed,
      COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after_view,
      COUNT(CASE WHEN t_buy > t_click AND t_click > t_view THEN 1 END)
        AS n_full_funnel,
      COUNT(CASE WHEN t_buy > t_click AND t_click > t_view
                  AND t_buy <= t_view + INTERVAL 24 HOUR THEN 1 END)
        AS n_full_funnel_24h
    FROM firsts
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (view -> click -> purchase, ordered, with a
    24h completion bound): the canonical product-analytics composite.
    ONE scan + one (user, conditional-min) hash agg builds each
    user's first-touch timestamps; every funnel stage is then a
    COUNT over that user-sized frame — no per-stage self-joins of the
    event log (the naive N-stage formulation joins events N times).
    Conditional aggregation keeps NULL semantics exact: a user
    missing a stage has NULL there, and NULL comparisons drop them
    from later stages on both engines identically."""
    ev = table(spark, sf_dir, "events")
    first_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_buy"),
    )
    after = F.col("t_buy") > F.col("t_click")
    mid = F.col("t_click") > F.col("t_view")
    within = F.col("t_buy") <= F.col("t_view") + F.expr("INTERVAL 24 HOUR")
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(mid, 1)).alias("n_clicked_after_view"),
        F.count(F.when(after & mid, 1)).alias("n_full_funnel"),
        F.count(F.when(after & mid & within, 1)).alias("n_full_funnel_24h"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_seen f ON f.user_id = e.user_id)
    SELECT cohort_day, day_offset, COUNT(*) AS n_active
    FROM activity
    WHERE day_offset BETWEEN 0 AND 7
    GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, one
    row per (cohort, day-offset 0..7) with active-user counts. Two
    aggs + one key-only join: first_seen is user-sized and joins the
    event log on user_id (at scale: the smaller side broadcasts or
    the join co-partitions with the later distinct's shuffle); the
    distinct collapses to (user, offset) before the final
    cohort-sized count."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset").between(0, 7))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


EWMA_W = 8  # finite EWMA horizon (rows)


@query(
    "ts_ewma",
    oracle=f"""
    WITH arrs AS (
      SELECT event_id, user_id,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {EWMA_W - 1} PRECEDING AND CURRENT ROW) AS arr
      FROM events)
    SELECT event_id, user_id,
           ROUND(
             list_sum(list_transform(arr,
               (x, i) -> x * pow(0.5, len(arr) - i)))
             / list_sum(list_transform(arr,
               (x, i) -> pow(0.5, len(arr) - i))),
             6) AS ewma
    FROM arrs
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (finite
    {EWMA_W}-row horizon, newest-heaviest): the standard smoothing
    transform for metric streams, expressed as a windowed collect +
    weighted fold rather than the unbounded recurrence (which has no
    relational form and serializes per key).

    Determinism is engineered, not hoped for: alpha = 0.5 makes every
    weight pow(0.5, k) an EXACT power of two, so each x*w product is
    an exact IEEE scaling (no libm variance, unlike pow(0.7, k) which
    may differ in the last ulp across runtimes); both engines fold the
    same frame-ordered array left-to-right (Spark transform is
    0-indexed, DuckDB 1-indexed — the exponent n-i aligns them), and
    the quotient rounds to 6.

    Scale: one shuffle on user_id; the frame carries at most {EWMA_W}
    doubles per row — window state is bounded, the same plan class as
    win_frame_rows."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_W - 1), 0)
    )
    arr = F.collect_list("value").over(w)
    d = e.select("event_id", "user_id", arr.alias("arr"))
    n = F.size("arr")
    num = F.aggregate(
        F.transform(
            F.col("arr"),
            lambda x, i: x * F.pow(F.lit(0.5), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            F.col("arr"),
            lambda x, i: F.pow(F.lit(0.5), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return d.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma")
    )


ROLL_W = 10  # rolling-distinct frame width (rows)


@query(
    "win_rolling_distinct",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {ROLL_W - 1} PRECEDING AND CURRENT ROW)
             AS INTEGER) AS n_types
    FROM events
    """,
)
def win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count per key — how many distinct event types
    in the user's last {ROLL_W} events. Spark has no COUNT(DISTINCT)
    OVER, so the engine expresses it as a windowed collect_list +
    array_distinct: the frame is ROWS-bounded, so the carried state is
    at most {ROLL_W} short strings per row and the whole query is one
    shuffle on user_id — the same plan class as any bounded-frame
    window. (An unbounded-frame distinct would NOT scale this way;
    bounding the frame is what keeps it 100 TB-safe.)"""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_W - 1), 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .alias("n_types"),
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s.mu) / s.sd, 6) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS(ROUND((e.value - s.mu) / s.sd, 6)) > 2.5
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection: flag events whose value deviates
    more than 2.5 sigma from their event-type's distribution.

    The stats table is one tiny grouped aggregate (cardinality = #
    event types) broadcast back over the stream, so the detector is
    one corpus scan + one map-side join — no window, no second pass
    over raw data. The gate compares the ROUNDED z on both engines so
    a boundary row can't flip on one-pass-moment ulp noise."""
    e = table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6)
    return (
        e.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
    )


@query(
    "cdc_apply_merge",
    oracle="""
    WITH snap AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 4 != 0)
      WHERE rn = 1),
    chg AS (
      SELECT user_id, value,
             CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op
      FROM (
        SELECT user_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 4 = 0)
      WHERE rn = 1)
    SELECT COALESCE(s.user_id, c.user_id) AS user_id,
           CASE WHEN c.user_id IS NOT NULL THEN 'change'
                ELSE 'snapshot' END AS src,
           ROUND(CASE WHEN c.user_id IS NOT NULL THEN c.value
                      ELSE s.value END, 6) AS value
    FROM snap s FULL OUTER JOIN chg c ON s.user_id = c.user_id
    WHERE c.op IS NULL OR c.op != 'D'
    """,
)
def cdc_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics (insert / update / delete) applied
    relationally — the lakehouse MERGE INTO, expressed as compaction +
    one full outer join, so it runs on any engine with no MERGE
    primitive.

    The change batch is carved deterministically from the stream
    (event_id % 4 = 0; 'click' changes are deletes, the rest
    upserts); both snapshot and batch compact latest-wins per key
    first (bounded window top-1), then a single key-partitioned full
    outer join applies: matched+D -> drop, matched+U -> update,
    unmatched-change -> insert, untouched -> carry forward. Scale: two
    window passes + one join, all hash-partitioned on the same key —
    AQE coalesces; no row ever visits the driver."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snap = (
        ev.filter(F.col("event_id") % 4 != 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "value")
    )
    chg = (
        ev.filter(F.col("event_id") % 4 == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("value").alias("c_value"),
            F.when(F.col("event_type") == "click", F.lit("D"))
            .otherwise(F.lit("U")).alias("op"),
        )
    )
    merged = snap.join(
        chg, snap.user_id == chg.c_user_id, "full_outer"
    ).filter(F.col("op").isNull() | (F.col("op") != "D"))
    has_chg = F.col("c_user_id").isNotNull()
    return merged.select(
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        F.when(has_chg, F.lit("change")).otherwise(F.lit("snapshot"))
        .alias("src"),
        F.round(
            F.when(has_chg, F.col("c_value")).otherwise(F.col("value")), 6
        ).alias("value"),
    )


@query(
    "ts_gapfill_linear",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM events WHERE event_type = 'purchase'),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds),
    sparse AS (
      SELECT date_trunc('hour', ts) AS bucket,
             ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1),
    j AS (
      SELECT s.bucket, CAST(sp.v AS DOUBLE) AS v,
             CAST(epoch(s.bucket) AS BIGINT) AS e
      FROM spine s LEFT JOIN sparse sp USING (bucket)),
    w AS (
      SELECT bucket, v, e,
             LAST_VALUE(v IGNORE NULLS) OVER (
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS)
               OVER (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pe,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS)
               OVER (ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS ne
      FROM j)
    SELECT bucket, v AS hour_sum,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (e - pe) / (ne - pe)
           END, 6) AS hour_sum_interp
    FROM w
    """,
)
def ts_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with LINEAR interpolation (the
    time_bucket_gapfill / interpolate shape): missing buckets take
    the time-weighted blend of the nearest observed values on either
    side; leading/trailing gaps degrade to nearest-neighbor.

    Two ignore-nulls window passes over the SPINE (one backward, one
    forward — both on the bounded one-row-per-hour spine, never on
    event rows, same single-partition-tail argument as
    ts_bucket_gapfill); the blend weight is exact integer epoch
    arithmetic, and the result rounds to 6 on both engines."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    sparse = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6).alias("v")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    j = spine.join(sparse, "bucket", "left").select(
        "bucket",
        F.col("v").cast("double").alias("v"),
        F.unix_timestamp("bucket").alias("e"),
    )
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.orderBy("bucket").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    e_obs = F.when(F.col("v").isNotNull(), F.col("e"))
    w = j.select(
        "bucket", "v", "e",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(e_obs, ignorenulls=True).over(wb).alias("pe"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(e_obs, ignorenulls=True).over(wf).alias("ne"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("e") - F.col("pe"))
            / (F.col("ne") - F.col("pe"))
        )
    )
    return w.select(
        "bucket",
        F.col("v").alias("hour_sum"),
        F.round(interp, 6).alias("hour_sum_interp"),
    )


@query(
    "win_streaks",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id,
                                CASE WHEN event_type = 'error'
                                     THEN 1 ELSE 0 END
                                ORDER BY ts, event_id) AS rn_c
      FROM events),
    runs AS (
      SELECT user_id, COUNT(*) AS run_len
      FROM seq WHERE is_err = 1
      GROUP BY user_id, rn - rn_c)
    SELECT user_id,
           CAST(MAX(run_len) AS BIGINT) AS max_error_streak,
           CAST(COUNT(*) AS BIGINT) AS n_error_runs
    FROM runs
    GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-condition run per key (gaps-and-islands on
    a predicate): the rn - rn_cond difference is constant within each
    unbroken run of error events, so one grouped count per (user,
    diff) recovers every run length without self-joins or iteration.

    Scale: both row_number windows share the same (user_id) partition
    ordering — ONE shuffle, one in-partition sort, then two hash aggs
    whose keys are run-bounded. Per-key window state is a counter, not
    history. The classic sessionize-adjacent shape (sessionize_gaps
    islands on TIME gaps; this islands on a PREDICATE)."""
    ev = table(spark, sf_dir, "events")
    is_err = (F.col("event_type") == "error").cast("int")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cond = Window.partitionBy("user_id", "is_err").orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "user_id", "event_id", "ts", is_err.alias("is_err")
    ).select(
        "user_id", "is_err",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_cond).alias("rn_c"),
    )
    runs = (
        seq.filter(F.col("is_err") == 1)
        .groupBy("user_id", (F.col("rn") - F.col("rn_c")).alias("grp"))
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("long").alias("max_error_streak"),
        F.count("*").cast("long").alias("n_error_runs"),
    )


MED_W = 5  # rolling-median frame width (rows)


@query(
    "win_rolling_median",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {MED_W - 1} PRECEDING AND CURRENT ROW),
             6) AS med
    FROM events
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a bounded ROWS frame — the robust
    smoother (immune to the spikes ts_ewma averages in). Spark has no
    median window aggregate, so the engine sorts the {MED_W}-element
    frame array and interpolates the middle (even frames average the
    two central values, matching DuckDB's interpolated median).

    Scale: one shuffle on user_id; the frame carries at most {MED_W}
    doubles per row, and the per-row sort is O(W log W) on a
    constant-W array — bounded state, same plan class as ts_ewma."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(MED_W - 1), 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n - 1) / 2).cast("int") + 1)
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    return e.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2.0, 6).alias("med"),
    )


@query(
    "join_scd2_pit",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_id AS state_id, value AS state_value,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events WHERE event_type = 'click'),
    fact AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id,
           d.state_id, ROUND(d.state_value, 6) AS state_value
    FROM fact f
    JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against an SCD2 dimension: each purchase
    joins the click-state row whose validity interval [valid_from,
    valid_to) contains the purchase time — the lakehouse temporal-
    dimension join (scd2_intervals builds the dimension; this
    consumes it). Intervals partition each key's timeline, so every
    fact matches at most one dimension row — no fan-out.

    Scale: the equi key (user_id) carries the shuffle; the interval
    containment is a join residual evaluated inside the hash match,
    not a nested loop. A dimension too hot for that residual
    (millions of versions per key) wants the as-of formulation
    (join_asof's union+last timeline) — same answer, one sort instead
    of a probe per version."""
    ev = table(spark, sf_dir, "events")
    wd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_id").alias("state_id"),
            F.col("value").alias("state_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wd).alias("valid_to"),
        )
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = fact.join(
        dim,
        (F.col("d_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return j.select(
        "event_id", "user_id", "state_id",
        F.round("state_value", 6).alias("state_value"),
    )


N_LAGS = 4  # cross-correlation lags 0..3 hours


@query(
    "ts_lagged_corr",
    oracle=f"""
    WITH px AS (
      SELECT date_trunc('hour', ts) AS b,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    cy AS (
      SELECT date_trunc('hour', ts) AS b,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events WHERE event_type = 'click' GROUP BY 1)
    SELECT lag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(px.x, cy.y), 6) AS xcorr
    FROM UNNEST(generate_series(0, {N_LAGS - 1})) l(lag)
    JOIN px ON TRUE
    JOIN cy ON cy.b = px.b - lag * INTERVAL 1 HOUR
    GROUP BY lag
    """,
)
def ts_lagged_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event series — does click
    volume LEAD purchase value, and by how many hours? The standard
    lead/lag discovery step before building a forecasting feature.

    Both series aggregate to the hourly spine first (exact decimal
    sums), then one equi-join per lag aligns y[t - lag] under x[t]
    and a corr aggregate scores it. Scale: everything after the two
    bounded hourly aggs is SPINE-sized (hours x {N_LAGS} rows) — the
    lag fan-out multiplies the spine, never the event stream."""
    ev = table(spark, sf_dir, "events")
    px = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("x")
        )
    )
    cy = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(F.count("*").cast("double").alias("y"))
    )
    lags = spark.range(N_LAGS).select(F.col("id").cast("int").alias("lag"))
    joined = (
        px.crossJoin(F.broadcast(lags))
        .join(
            cy.select(F.col("b").alias("yb"), "y"),
            F.col("yb")
            == F.col("b") - F.col("lag") * F.expr("INTERVAL 1 HOUR"),
        )
    )
    return joined.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.corr("x", "y"), 6).alias("xcorr"),
    )


CP_W = 24       # trailing window (hours) for the change-point baseline
CP_SIGMA = 3.0  # deviation gate


@query(
    "ts_change_detect",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS b,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    scored AS (
      SELECT b, x,
             AVG(x) OVER (ORDER BY b
                          ROWS BETWEEN {CP_W} PRECEDING AND 1 PRECEDING)
               AS mu,
             stddev_samp(x) OVER (ORDER BY b
                          ROWS BETWEEN {CP_W} PRECEDING AND 1 PRECEDING)
               AS sd,
             COUNT(*) OVER (ORDER BY b
                          ROWS BETWEEN {CP_W} PRECEDING AND 1 PRECEDING)
               AS n_hist
      FROM hourly)
    SELECT b, ROUND(x, 6) AS x,
           ROUND((x - mu) / sd, 6) AS dev
    FROM scored
    WHERE n_hist >= {CP_W}
      AND ABS(ROUND((x - mu) / sd, 6)) > {CP_SIGMA}
    """,
)
def ts_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point flagging: an hour whose purchase volume deviates
    more than {CP_SIGMA} trailing standard deviations from its own
    {CP_W}-hour history (frame excludes the current row, so the
    baseline can't absorb the anomaly it is judging; warm-up hours
    with short history are suppressed).

    Scale: one bounded hourly agg, then a single ROWS-frame window
    over the SPINE (one row per hour — constant state per row). The
    gate compares the ROUNDED deviation on both engines, the same
    boundary discipline as ts_anomaly_zscore."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("b")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double").alias("x")
    )
    w = Window.orderBy("b").rowsBetween(-CP_W, -1)
    scored = hourly.select(
        "b", "x",
        F.avg("x").over(w).alias("mu"),
        F.stddev_samp("x").over(w).alias("sd"),
        F.count("*").over(w).alias("n_hist"),
    )
    dev = F.round((F.col("x") - F.col("mu")) / F.col("sd"), 6)
    return (
        scored.filter(F.col("n_hist") >= CP_W)
        .select("b", F.round("x", 6).alias("x"), dev.alias("dev"))
        .filter(F.abs(F.col("dev")) > CP_SIGMA)
    )


_MAD_K = 3.0


@query(
    "ts_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(d.med), 6) AS med,
           ROUND(ANY_VALUE(m.mad), 6) AS mad,
           CAST(COUNT(*) FILTER (WHERE d.dev > 3.0 * m.mad) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation: per
    event type, flag |x - median| > 3*MAD — the estimator that
    survives the outliers it hunts (z-scores don't: one large spike
    inflates the stddev that judges it; cf. ts_anomaly_zscore).

    DISCRETE medians (percentile_disc) pick actual data values, so
    both engines agree bit-for-bit and the 3*MAD comparison is exact.
    Plan: two agg+broadcast-join rounds over a bounded key (event
    types), each a single fact scan with a map-side join — the two
    extra scans are the unavoidable price of exact two-level medians;
    at 100 TB swap approx_percentile into the same plan shape."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev"))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.any_value("med"), 6).alias("med"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.count_if(F.col("dev") > _MAD_K * F.col("mad"))
            .cast("long").alias("n_outliers"),
        )
    )


_CONC_DUR_S = 300  # each event holds a 5-minute session slot


@query(
    "ts_concurrency_peak",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) // 1000000 AS sec FROM events
    ), delta AS (
      SELECT event_type, sec, SUM(d) AS net FROM (
        SELECT event_type, sec, 1 AS d FROM ev
        UNION ALL
        SELECT event_type, sec + {_CONC_DUR_S}, -1 AS d FROM ev
      ) GROUP BY 1, 2
    ), run AS (
      SELECT event_type,
             SUM(net) OVER (PARTITION BY event_type ORDER BY sec
                            ROWS UNBOUNDED PRECEDING) AS conc
      FROM delta
    )
    SELECT event_type,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY event_type
    """,
)
def ts_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: treat each event as holding a
    {_CONC_DUR_S}-second slot ([start, end) half-open) and find the
    maximum number of simultaneously open slots — the classic interval
    stacking problem (peak sessions online, max connection pool, ...).

    The scale-safe formulation: instead of a running +1/-1 sum over
    the raw EVENT stream (one window row per event), aggregate the
    +1/-1 deltas to per-SECOND net changes FIRST — the running sum
    then walks a spine bounded by the time range (86400 rows/day/type
    worst case), not by event volume; a billion events in one hour
    still yield <= 3600 spine rows. Exact integer arithmetic end to
    end."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(1_000_000)).cast("long").alias("sec"),
    )
    deltas = (
        e.select("event_type", "sec", F.lit(1).alias("d"))
        .unionAll(
            e.select("event_type",
                     (F.col("sec") + _CONC_DUR_S).alias("sec"),
                     F.lit(-1).alias("d")))
        .groupBy("event_type", "sec")
        .agg(F.sum("d").alias("net"))
    )
    w = (Window.partitionBy("event_type").orderBy("sec")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        deltas.select("event_type", F.sum("net").over(w).alias("conc"))
        .groupBy("event_type")
        .agg(F.max("conc").cast("long").alias("peak_concurrency"))
    )


@query(
    "ts_stickiness_dau_mau",
    oracle="""
    WITH dau AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS mon,
             date_trunc('day', ts) AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2
    ), mau AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS mon,
             COUNT(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT d.mon,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(ANY_VALUE(m.mau) AS BIGINT) AS mau,
           ROUND(CAST(CAST(SUM(CAST(CAST(d.dau AS DOUBLE) / m.mau
                               AS DECIMAL(18,9))) AS STRING) AS DOUBLE)
                 / COUNT(*), 6) AS stickiness
    FROM dau d JOIN mau m ON m.mon = d.mon
    GROUP BY d.mon
    """,
)
def ts_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month (avg over days of daily-active /
    monthly-active users) — the standard engagement ratio, and the
    two-granularity distinct-count shape: the SAME fact stream feeds
    a per-day and a per-month COUNT(DISTINCT), joined on the coarser
    key (cf. retention_cohorts, which tracks RETURN behavior; this
    tracks intensity).

    Plan: two distinct-aggs over (time-bucket, user) — each is the
    standard two-phase expand (partial distinct on (bucket, user),
    then count) so the exchanges carry distinct pairs, not events —
    and a months-sized broadcast join. Per-day ratios quantize
    through DECIMAL(18,9) before the month average."""
    e = table(spark, sf_dir, "events")
    dau = e.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("mon"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = e.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("mon")
    ).agg(F.countDistinct("user_id").alias("mau"))
    ratio = (F.col("dau").cast("double") / F.col("mau")).cast("decimal(18,9)")
    return (
        dau.join(F.broadcast(mau), "mon")
        .groupBy("mon")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.any_value("mau").cast("long").alias("mau"),
            F.round(F.sum(ratio).cast("double") / F.count("*"), 6)
            .alias("stickiness"),
        )
    )


@query(
    "ts_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           ROUND(CAST(CAST(SUM(CAST(gap_us AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
                 / COUNT(gap_us), 4) AS mean_gap_us,
           ROUND(1.0e6 / (CAST(CAST(SUM(CAST(gap_us AS DECIMAL(28,0))) AS STRING) AS DOUBLE) / COUNT(gap_us)), 6)
             AS rate_per_sec
    FROM gaps GROUP BY event_type
    """,
)
def ts_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis per event type: gap distribution
    (min/max/mean in exact integer microseconds) and the implied
    Poisson arrival rate — the traffic model a capacity planner or
    anomaly baseline (cf. ts_concurrency_peak) is built on.

    Plan: one LAG window on the event_type partition (unique ORDER BY
    via event_id), then a hash agg per type; gaps sum through
    DECIMAL(28,0) — exact at any volume. The window partitions by a
    LOW-cardinality key: at extreme per-type volume, sub-partition by
    (type, day) and merge day boundaries, the same spine trick as
    ts_concurrency_peak."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    mean_gap = (F.sum(F.col("gap_us").cast("decimal(28,0)")).cast("double")
                / F.count("gap_us"))
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.round(mean_gap, 4).alias("mean_gap_us"),
        F.round(F.lit(1.0e6) / mean_gap, 6).alias("rate_per_sec"),
    )


@query(
    "ts_disorder_ratio",
    oracle="""
    WITH arr AS (
      -- event_id is the ARRIVAL order; ts is event time
      SELECT event_type, event_id, epoch_us(ts) AS t,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS hwm
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE t < hwm) AS BIGINT) AS n_late,
           ROUND(CAST(COUNT(*) FILTER (WHERE t < hwm) AS DOUBLE)
                 / COUNT(*), 6) AS late_share,
           CAST(COALESCE(MAX(CASE WHEN t < hwm THEN hwm - t END), 0)
                AS BIGINT) AS max_lateness_us
    FROM arr GROUP BY event_type
    """,
)
def ts_disorder_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time DISORDER profile: taking event_id as arrival order,
    how often does an event arrive with a timestamp behind the
    running high-water mark, and by at most how much? This is the
    measurement that SIZES A WATERMARK — `withWatermark(max_lateness)`
    is exactly the bound this query reports, so the streaming ops
    (stream_tumbling/.../stream_dedup) stop guessing their lateness
    budget (cf. ts_interarrival_stats for the rate side of the same
    capacity question).

    Plan: one running-max window per event_type partition (arrival
    order = event_id, unique), then a hash agg; lateness stays in
    exact integer microseconds."""
    e = table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (Window.partitionBy("event_type").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    arr = e.select(
        "event_type", t.alias("t"), F.max(t).over(w).alias("hwm"))
    late = F.col("t") < F.col("hwm")
    return arr.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.count_if(late).cast("long").alias("n_late"),
        F.round(F.count_if(late).cast("double") / F.count("*"), 6)
        .alias("late_share"),
        F.coalesce(
            F.max(F.when(late, F.col("hwm") - F.col("t"))), F.lit(0)
        ).cast("long").alias("max_lateness_us"),
    )


_KM_CENSOR_CUTOFF = "2001-05-03"  # corpus max order date minus ~90 days


@query(
    "ts_survival_km",
    oracle=f"""
    WITH life AS (
      SELECT o_custkey,
             date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS dur,
             MAX(o_orderdate) <= TIMESTAMP '{_KM_CENSOR_CUTOFF} 00:00:00'
               AS churned
      FROM orders GROUP BY o_custkey
    ), tot AS (SELECT COUNT(*) AS n FROM life),
    by_dur AS (
      SELECT dur,
             COUNT(*) FILTER (WHERE churned) AS d,
             COUNT(*) AS c
      FROM life GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             tot.n - COALESCE(SUM(c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM by_dur, tot
    ), ev AS (
      SELECT dur, d, n_at_risk,
             1.0 - CAST(d AS DOUBLE) / n_at_risk AS factor
      FROM risk WHERE d > 0
    )
    SELECT dur AS dur_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN MIN(factor) OVER w = 0.0 THEN 0.0
                ELSE ROUND(EXP(CAST(SUM(CAST(LN(factor) AS DECIMAL(18,9)))
                                    OVER w AS DOUBLE)), 6) END AS survival
    FROM ev
    WINDOW w AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
    """,
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime (days between
    first and last order), with customers still active in the final
    ~90 days treated as CENSORED — the churn-analysis estimator that
    uses censored subjects correctly (they stay in the at-risk
    denominator until their observed duration; dropping them biases
    survival down). S(t) = prod over event times <= t of
    (1 - d_i / n_i).

    Plan: per-customer lifetime agg, a duration-grouped count (both
    hash aggs), then the at-risk and product-limit windows run over
    the DISTINCT-DURATION spine — bounded by the observation range in
    days, never by customer count. The product is exp-sum-log with
    per-term DECIMAL quantization (agg_means_family's associative
    form); an exhausted risk set short-circuits to exactly 0 before
    the log."""
    o = table(spark, sf_dir, "orders")
    life = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate").cast("date"),
                   F.min("o_orderdate").cast("date")).alias("dur"),
        (F.max("o_orderdate")
         <= F.lit(_KM_CENSOR_CUTOFF).cast("timestamp_ntz")).alias("churned"),
    )
    tot = life.agg(F.count("*").alias("n"))
    by_dur = life.groupBy("dur").agg(
        F.count_if("churned").alias("d"),
        F.count("*").alias("c"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        by_dur.crossJoin(F.broadcast(tot))
        .select(
            "dur", "d",
            (F.col("n") - F.coalesce(F.sum("c").over(wprev), F.lit(0)))
            .alias("n_at_risk"))
    )
    ev = risk.filter(F.col("d") > 0).select(
        "dur", "d", "n_at_risk",
        (F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk"))
        .alias("factor"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        F.col("dur").alias("dur_days"),
        F.col("n_at_risk").cast("long"),
        F.col("d").cast("long").alias("n_events"),
        F.when(F.min("factor").over(wcum) == 0.0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(
                F.sum(F.log("factor").cast("decimal(18,9)")).over(wcum)
                .cast("double")), 6)
        ).alias("survival"),
    )


@query(
    "ts_theil_sen",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), slopes AS (
      SELECT a.event_type,
             (b.y - a.y) / (b.h - a.h) AS slope
      FROM hourly a JOIN hourly b
        ON b.event_type = a.event_type AND b.h > a.h
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(percentile_disc(0.5) WITHIN GROUP (ORDER BY slope), 6)
             AS theil_sen_slope
    FROM slopes GROUP BY event_type
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend estimate per event type: the MEDIAN of all
    pairwise slopes of the hourly value series — the robust
    alternative to OLS trend (ml_linreg_ols): one broken hour or a
    burst outlier shifts OLS arbitrarily but moves a median of
    O(n^2) slopes almost nothing. Each slope is one double division
    of exact inputs; the discrete median picks an actual slope, so
    both engines select the identical value.

    Scale: pairs are quadratic IN THE SPINE, and the spine is
    time-bounded (ts_concurrency_peak's argument): a year of hourly
    points is 8760 rows -> 38M pairs per key, a shrug for a cluster
    — while pairs over raw events would be impossible. The per-type
    equi-join keys the pair build; at finer spines, Theil-Sen's
    standard subsample (random pairs) drops in via the hash-gate
    sampler."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
         / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
          .alias("y")
          # the pair self-join consumes hourly TWICE; without a
          # checkpoint each side re-scans and re-aggregates the raw
          # events fact.  One spine-bounded materialization instead.
          ).transform(checkpoint)
    a = hourly.select("event_type", F.col("h").alias("ha"),
                      F.col("y").alias("ya"))
    b = hourly.select("event_type", F.col("h").alias("hb"),
                      F.col("y").alias("yb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("hb") > F.col("ha"))
        .select("event_type",
                ((F.col("yb") - F.col("ya"))
                 / (F.col("hb") - F.col("ha"))).alias("slope"))
    )
    return slopes.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)"), 6)
        .alias("theil_sen_slope"),
    )


@query(
    "ts_fano_factor",
    oracle="""
    WITH cnts AS (
      SELECT event_type,
             epoch_us(ts) // 60000000 AS minute,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_minutes,
           ROUND(CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
                 / COUNT(*), 6) AS mean_rate,
           ROUND((CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
                    / COUNT(*)
                  - POWER(CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
                          / COUNT(*), 2))
                 / (CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
                    / COUNT(*)), 6) AS fano,
           (CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS STRING) AS DOUBLE) / COUNT(*)
            - POWER(CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
                    / COUNT(*), 2))
           / (CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE) / COUNT(*))
             > 1.5 AS overdispersed
    FROM cnts GROUP BY event_type
    """,
)
def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness via the Fano factor: variance-to-mean ratio of
    per-minute event counts per type — exactly 1 for a Poisson
    process, >1 for bursty traffic, <1 for regular/paced arrivals.
    Together with ts_interarrival_stats (the rate) and
    ts_disorder_ratio (the lateness), this completes the traffic
    characterization a capacity/watermark plan reads: a mean rate is
    only HALF a provisioning answer when arrivals cluster.

    Plan: one (type, minute) hash agg — ACTIVE-minute bounded, and a
    per-type moment agg; count moments sum through DECIMAL so the
    dispersion ratio divides exact values. Note the minute spine here
    counts only minutes WITH events (zero-minute handling belongs to
    ts_bucket_gapfill's spine if offered-load Fano is wanted)."""
    e = table(spark, sf_dir, "events")
    cnts = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(60_000_000)).cast("long").alias("minute"),
    ).agg(F.count("*").alias("c"))
    mean = (F.sum(F.col("c").cast("decimal(28,0)")).cast("double")
            / F.count("*"))
    m2 = (F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
          .cast("double") / F.count("*"))
    fano = (m2 - mean * mean) / mean
    return cnts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_minutes"),
        F.round(mean, 6).alias("mean_rate"),
        F.round(fano, 6).alias("fano"),
        (fano > 1.5).alias("overdispersed"),
    )


@query(
    "ts_littles_law",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) // 1000000 AS sec FROM events
    ), delta AS (
      SELECT event_type, sec, SUM(d) AS net FROM (
        SELECT event_type, sec, 1 AS d FROM ev
        UNION ALL
        SELECT event_type, sec + {_CONC_DUR_S}, -1 AS d FROM ev
      ) GROUP BY 1, 2
    ), run AS (
      SELECT event_type, sec,
             SUM(net) OVER w AS conc,
             LEAD(sec) OVER w - sec AS dur
      FROM delta
      WINDOW w AS (PARTITION BY event_type ORDER BY sec
                   ROWS UNBOUNDED PRECEDING)
    ), integ AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(conc * dur AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
               AS area,
             MAX(sec) - MIN(sec) AS span
      FROM run WHERE dur IS NOT NULL GROUP BY event_type
    ), rates AS (
      SELECT event_type, COUNT(*) AS n FROM ev GROUP BY event_type
    )
    SELECT i.event_type,
           CAST(r.n AS BIGINT) AS n_events,
           ROUND(i.area / i.span, 6) AS l_measured,
           ROUND(CAST(r.n AS DOUBLE) / i.span * {_CONC_DUR_S}, 6)
             AS l_littles,
           ROUND(i.area / i.span
                 / (CAST(r.n AS DOUBLE) / i.span * {_CONC_DUR_S}), 6)
             AS ratio
    FROM integ i JOIN rates r ON r.event_type = i.event_type
    """,
)
def ts_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit: time-averaged concurrency L (the exact
    integral of the step function over the delta spine, not a sample)
    against lambda*W with arrival rate lambda = n/span and fixed
    service window W = {_CONC_DUR_S}s. The ratio sits just under 1
    (edge effects at the observation boundaries) — a measured ratio
    far from 1 means the concurrency tracker and the rate tracker
    disagree about the same traffic, which is how double-counting
    bugs in ops dashboards get caught. Completes the queueing story:
    peak (ts_concurrency_peak), rate (ts_interarrival_stats), and
    now their consistency.

    Plan: identical spine discipline as ts_concurrency_peak — the
    running sum AND the interval durations (LEAD) ride one window
    over per-second net changes; the integral sums exact integer
    conc*dur products through DECIMAL."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(1_000_000)).cast("long").alias("sec"),
    )
    deltas = (
        e.select("event_type", "sec", F.lit(1).alias("d"))
        .unionAll(e.select("event_type",
                           (F.col("sec") + _CONC_DUR_S).alias("sec"),
                           F.lit(-1).alias("d")))
        .groupBy("event_type", "sec").agg(F.sum("d").alias("net"))
    )
    w = (Window.partitionBy("event_type").orderBy("sec")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    worder = Window.partitionBy("event_type").orderBy("sec")
    run = deltas.select(
        "event_type", "sec",
        F.sum("net").over(w).alias("conc"),
        (F.lead("sec").over(worder) - F.col("sec")).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    integ = run.groupBy("event_type").agg(
        F.sum((F.col("conc") * F.col("dur")).cast("decimal(28,0)"))
        .cast("double").alias("area"),
        (F.max("sec") - F.min("sec")).alias("span"),
    )
    rates = e.groupBy("event_type").agg(F.count("*").alias("n"))
    l_meas = F.col("area") / F.col("span")
    l_pred = F.col("n").cast("double") / F.col("span") * _CONC_DUR_S
    return integ.join(rates, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(l_meas, 6).alias("l_measured"),
        F.round(l_pred, 6).alias("l_littles"),
        F.round(l_meas / l_pred, 6).alias("ratio"),
    )


_OUTAGE_GAP_S = 600  # silence longer than 10 minutes = outage


@query(
    "ts_outage_windows",
    oracle=f"""
    WITH gaps AS (
      SELECT event_type,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS prev_us,
             epoch_us(ts) AS us
      FROM events
    ), outages AS (
      SELECT event_type, (us - prev_us) // 1000000 AS dur_s
      FROM gaps
      WHERE prev_us IS NOT NULL
        AND us - prev_us > {_OUTAGE_GAP_S} * 1000000
    )
    SELECT g.event_type,
           CAST(COUNT(o.dur_s) AS BIGINT) AS n_outages,
           CAST(COALESCE(SUM(o.dur_s), 0) AS BIGINT) AS total_outage_s,
           CAST(COALESCE(MAX(o.dur_s), 0) AS BIGINT) AS longest_outage_s
    FROM (SELECT DISTINCT event_type FROM events) g
    LEFT JOIN outages o ON o.event_type = g.event_type
    GROUP BY g.event_type
    """,
)
def ts_outage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection: silences longer than {_OUTAGE_GAP_S}s in
    each event stream, reported as count / total / longest — the SRE
    availability report that ts_interarrival_stats' MEAN gap hides
    (a stream can average 3s between events and still have a
    20-minute hole). Types with zero outages still report (the LEFT
    JOIN keeps them — an availability report that drops healthy
    streams reads as missing data).

    Plan: one LAG window per type partition, a filter to the rare
    outage gaps, and a per-type agg joined back to the type dim;
    durations are exact integer seconds."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = e.select(
        "event_type", us.alias("us"), F.lag(us).over(w).alias("prev_us"))
    outages = gaps.filter(
        F.col("prev_us").isNotNull()
        & (F.col("us") - F.col("prev_us") > _OUTAGE_GAP_S * 1_000_000)
    ).select(
        "event_type",
        ((F.col("us") - F.col("prev_us")) / 1_000_000).cast("long")
        .alias("dur_s"),
    )
    types = e.select("event_type").distinct()
    return (
        types.join(outages, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.count("dur_s").cast("long").alias("n_outages"),
            F.coalesce(F.sum("dur_s"), F.lit(0)).cast("long")
            .alias("total_outage_s"),
            F.coalesce(F.max("dur_s"), F.lit(0)).cast("long")
            .alias("longest_outage_s"),
        )
    )


@query(
    "ts_seasonal_index",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS rev
      FROM orders GROUP BY 1, 2
    ), yearly AS (
      SELECT yr, SUM(rev) AS yrev, COUNT(*) AS n_months
      FROM monthly GROUP BY yr
    ), idx AS (
      SELECT m.mo,
             CAST(m.rev AS DOUBLE)
               / (CAST(y.yrev AS DOUBLE) / y.n_months) AS ratio
      FROM monthly m JOIN yearly y ON y.yr = m.yr
      WHERE y.n_months = 12
    )
    SELECT mo AS month_of_year,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           ROUND(CAST(CAST(SUM(CAST(ratio AS DECIMAL(18,9))) AS STRING) AS DOUBLE)
                 / COUNT(*), 6) AS seasonal_index
    FROM idx GROUP BY mo
    """,
)
def ts_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal indices by ratio-to-yearly-average: each month's
    revenue over its year's monthly mean, averaged across COMPLETE
    years only (partial years would bias their months' indices —
    the n_months = 12 guard is the classic rookie-error fix). Index
    1.10 = "this month runs 10% hot"; these are the factors a
    deseasonalized trend divides out before ts_change_detect-style
    monitoring, completing the decomposition story next to
    ts_theil_sen (trend) and ts_fano_factor (noise).

    Plan: two chained hash aggs on calendar keys (month spine, then
    year spine), one spine-sized join, per-month average of
    DECIMAL-quantized ratios. Nothing event-sized past the first
    agg."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("rev"))
    yearly = monthly.groupBy("yr").agg(
        F.sum("rev").alias("yrev"), F.count("*").alias("n_months"))
    idx = (
        monthly.join(F.broadcast(yearly), "yr")
        .filter(F.col("n_months") == 12)
        .select(
            "mo",
            (F.col("rev").cast("double")
             / (F.col("yrev").cast("double") / F.col("n_months")))
            .alias("ratio"))
    )
    return idx.groupBy(F.col("mo").alias("month_of_year")).agg(
        F.count("*").cast("long").alias("n_years"),
        F.round(F.sum(F.col("ratio").cast("decimal(18,9)")).cast("double")
                / F.count("*"), 6).alias("seasonal_index"),
    )


_FC_LAG_H = 168  # seasonal-naive horizon: same hour last week


@query(
    "ts_forecast_baseline_wape",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
               AS y
      FROM events GROUP BY 1, 2
    ), joined AS (
      SELECT a.event_type, a.y AS actual, f.y AS forecast
      FROM hourly a JOIN hourly f
        ON f.event_type = a.event_type AND f.h = a.h - {_FC_LAG_H}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(CAST(SUM(ABS(actual - forecast)) AS DOUBLE)
                 / CAST(SUM(ABS(actual)) AS DOUBLE), 6) AS wape,
           ROUND(CAST(SUM(forecast - actual) AS DOUBLE)
                 / CAST(SUM(ABS(actual)) AS DOUBLE), 6) AS bias
    FROM joined GROUP BY event_type
    """,
)
def ts_forecast_baseline_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy floor: the seasonal-naive forecast (same
    hour last week) scored by WAPE and bias per event type — the
    baseline every forecasting model must beat before it earns a
    deploy (WAPE, not MAPE: MAPE explodes on near-zero hours and
    rewards under-forecasting; weighted absolute error doesn't).
    Publishing the naive floor beside any model's number is the
    forecasting analogue of ml_gains_lift's base rate.

    Plan: hourly spine agg, a self-join displaced by {_FC_LAG_H}
    hours on exact integer hour keys (spine-sized, like
    ts_theil_sen's pairs but linear), and error sums kept in exact
    DECIMAL until the two final ratios."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
         / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)"))
          .cast("decimal(28,6)").alias("y")
          # consumed twice by the lag self-join: one spine-bounded
          # materialization instead of two events-fact re-aggs.
          ).transform(checkpoint)
    a = hourly.select("event_type", "h", F.col("y").alias("actual"))
    f = hourly.select("event_type", (F.col("h") + _FC_LAG_H).alias("h"),
                      F.col("y").alias("forecast"))
    joined = a.join(f, ["event_type", "h"])
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.round(F.sum(F.abs(F.col("actual") - F.col("forecast")))
                .cast("double")
                / F.sum(F.abs(F.col("actual"))).cast("double"), 6)
        .alias("wape"),
        F.round(F.sum(F.col("forecast") - F.col("actual")).cast("double")
                / F.sum(F.abs(F.col("actual"))).cast("double"), 6)
        .alias("bias"),
    )


@query(
    "ts_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
               AS y
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type,
             SIGN(CAST(b.y - a.y AS DOUBLE)) AS sg
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
    ), stat AS (
      SELECT p.event_type,
             SUM(CAST(sg AS BIGINT)) AS s,
             n.n AS n
      FROM pairs p
      JOIN (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1) n
        ON n.event_type = p.event_type
      GROUP BY p.event_type, n.n
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS mk_s,
           ROUND((CASE WHEN s > 0 THEN s - 1
                       WHEN s < 0 THEN s + 1 ELSE 0 END)
                 / SQRT(CAST(n AS DOUBLE) * (n - 1) * (2*n + 5) / 18.0),
                 6) AS z_mk
    FROM stat
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily value series: S = sum of
    pairwise signs (later minus earlier), with the continuity-
    corrected normal z — the SIGNIFICANCE companion to ts_theil_sen's
    slope ESTIMATE (sign-based, so monotone-but-nonlinear trends and
    outliers don't fool it the way they fool an OLS t-test). S near
    +-n(n-1)/2 = perfectly monotone.

    Plan: the same time-bounded spine pair join as ts_theil_sen (the
    quadratic is in DAYS); signs are exact-integer comparisons of
    exact DECIMAL daily sums, so S is exact and z is identical double
    arithmetic. (The no-ties variance form — exact DECIMAL daily
    sums make exact ties measure-zero; a tie-heavy series wants the
    tie-corrected variance.)"""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86_400_000_000)).cast("long").alias("d"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)"))
          .cast("decimal(28,6)").alias("y"))
    a = daily.select("event_type", F.col("d").alias("da"),
                     F.col("y").alias("ya"))
    b = daily.select("event_type", F.col("d").alias("db"),
                     F.col("y").alias("yb"))
    pairs = (
        a.join(b, "event_type").filter(F.col("db") > F.col("da"))
        .select("event_type",
                F.signum((F.col("yb") - F.col("ya")).cast("double"))
                .cast("long").alias("sg"))
    )
    n = daily.groupBy("event_type").agg(F.count("*").alias("n"))
    stat = (
        pairs.groupBy("event_type").agg(F.sum("sg").alias("s"))
        .join(F.broadcast(n), "event_type")
    )
    s = F.col("s")
    corr = (F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(F.lit(0)))
    var = (F.col("n").cast("double") * (F.col("n") - 1)
           * (2 * F.col("n") + 5) / 18.0)
    return stat.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        s.cast("long").alias("mk_s"),
        F.round(corr / F.sqrt(var), 6).alias("z_mk"),
    )


_SPEC_LO, _SPEC_HI = 0.0, 200.0  # value spec limits for capability


@query(
    "ts_process_capability",
    oracle=f"""
    WITH mom AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mu,
             SQRT(GREATEST(
               CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                 / COUNT(*)
               - POWER(CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
                       / COUNT(*), 2), 1e-12)) AS sd
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(mu, 6) AS mean_v,
           ROUND(({_SPEC_HI} - {_SPEC_LO}) / (6.0 * sd), 6) AS cp,
           ROUND(LEAST({_SPEC_HI} - mu, mu - {_SPEC_LO}) / (3.0 * sd), 6)
             AS cpk,
           LEAST({_SPEC_HI} - mu, mu - {_SPEC_LO}) / (3.0 * sd) >= 1.33
             AS capable
    FROM mom
    """,
)
def ts_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability: Cp (spec width over 6 sigma — could the
    process fit the [{_SPEC_LO}, {_SPEC_HI}] spec if centered) and
    Cpk (does it, given where the mean actually sits) per event
    type, with the manufacturing 1.33 capability convention — the
    quality-engineering lens on a metric stream that z-scores don't
    give: Cp >> Cpk means the process is FINE but OFF-CENTER, a
    recentering fix, not a variance fix.

    Plan: one per-type moment aggregate (ts_fano_factor's shape);
    DECIMAL-quantized sums, variance floored identically before the
    sqrt, spec constants inlined as literals."""
    e = table(spark, sf_dir, "events")
    mu = (F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
          / F.count("*"))
    m2 = (F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
          .cast("double") / F.count("*"))
    sd = F.sqrt(F.greatest(m2 - mu * mu, F.lit(1e-12)))
    cpk = F.least(F.lit(_SPEC_HI) - mu, mu - F.lit(_SPEC_LO)) / (3.0 * sd)
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(mu, 6).alias("mean_v"),
        F.round(F.lit(_SPEC_HI - _SPEC_LO) / (6.0 * sd), 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        (cpk >= 1.33).alias("capable"),
    )


@query(
    "ts_runs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
               AS y
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY y) AS m
      FROM daily GROUP BY event_type
    ), signed AS (
      SELECT d.event_type, d.d,
             CASE WHEN d.y > med.m THEN 1 ELSE 0 END AS s
      FROM daily d JOIN med ON med.event_type = d.event_type
      WHERE d.y <> med.m
    ), runs AS (
      SELECT event_type, s,
             CASE WHEN LAG(s) OVER (PARTITION BY event_type ORDER BY d)
                       IS DISTINCT FROM s THEN 1 ELSE 0 END AS is_new
      FROM signed
    )
    SELECT event_type,
           CAST(SUM(s) AS BIGINT) AS n_above,
           CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_below,
           CAST(SUM(is_new) AS BIGINT) AS n_runs,
           ROUND((SUM(is_new)
                  - (2.0 * SUM(s) * (COUNT(*) - SUM(s)) / COUNT(*) + 1))
                 / SQRT(GREATEST(
                     2.0 * SUM(s) * (COUNT(*) - SUM(s))
                     * (2.0 * SUM(s) * (COUNT(*) - SUM(s)) - COUNT(*))
                     / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)
                        * (COUNT(*) - 1)), 1e-12)), 6) AS z_runs
    FROM runs GROUP BY event_type
    """,
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the daily series RANDOM around
    its median, or do above/below stretches cluster? Too few runs =
    positive autocorrelation (yesterday predicts today — the
    residual structure that invalidates the independence every test
    in the suite assumes); too many = oscillation. Median-equal days
    drop (the standard treatment). Completes trend diagnostics:
    direction (mann_kendall), magnitude (theil_sen), and now
    serial independence.

    Plan: daily spine agg, discrete median broadcast, one LAG window
    for run boundaries, per-type agg — run counting is exact integer
    arithmetic on exact DECIMAL comparisons; the z's variance is
    clamped before the sqrt."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86_400_000_000)).cast("long").alias("d"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)"))
          .cast("decimal(28,6)").alias("y"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias("m"))
    signed = (
        daily.join(F.broadcast(med), "event_type")
        .filter(F.col("y") != F.col("m"))
        .select("event_type", "d",
                F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    runs = signed.select(
        "event_type", "s",
        F.when(~F.lag("s").over(w).eqNullSafe(F.col("s")), 1)
        .otherwise(0).alias("is_new"),
    )
    na = F.sum("s").cast("double")
    nb = (F.count("*") - F.sum("s")).cast("double")
    n = F.count("*").cast("double")
    r = F.sum("is_new").cast("double")
    er = 2.0 * na * nb / n + 1
    vr = F.greatest(2.0 * na * nb * (2.0 * na * nb - n)
                    / (n * n * (n - 1)), F.lit(1e-12))
    return runs.groupBy("event_type").agg(
        na.cast("long").alias("n_above"),
        nb.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        F.round((r - er) / F.sqrt(vr), 6).alias("z_runs"),
    )


@query(
    "ts_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS b
      FROM events
    ), cells AS (
      SELECT a, b, COUNT(*) AS c FROM seq WHERE b IS NOT NULL
      GROUP BY a, b
    ), rows_ AS (
      SELECT a, SUM(c) AS ra FROM cells GROUP BY a
    ), tot AS (SELECT SUM(c) AS n FROM cells)
    SELECT CAST(tot.n AS BIGINT) AS n_transitions,
           ROUND(CAST(CAST(SUM(CAST(
             -(CAST(cells.c AS DOUBLE) / tot.n)
               * LN(CAST(cells.c AS DOUBLE) / rows_.ra) / LN(2.0)
             AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 6) AS entropy_rate_bits,
           ROUND(LOG2(CAST((SELECT COUNT(*) FROM rows_) AS DOUBLE)), 6)
             AS max_entropy_bits
    FROM cells JOIN rows_ ON rows_.a = cells.a CROSS JOIN tot
    GROUP BY tot.n
    """,
)
def ts_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain: H = -sum_ij
    pi_i p_ij log2 p_ij (stationary weights taken as the observed
    transition-origin frequencies), next to the log2|states| ceiling
    — the single predictability number behind
    win_event_transitions' matrix: near the ceiling means journeys
    are noise (personalization has nothing to grab); far below means
    strong structure. The same number, tracked per release, catches
    a logging change that scrambles event order.

    Plan: the transitions matrix build (one user_id LEAD window +
    |types|^2 agg), marginals from the CELLS, and the entropy sum
    over matrix cells with per-cell terms DECIMAL-quantized (libm
    LN discipline)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    cells = seq.groupBy("a", "b").agg(F.count("*").alias("c"))
    rows_ = cells.groupBy("a").agg(F.sum("c").alias("ra"))
    tot = cells.agg(F.sum("c").alias("n"))
    n_states = rows_.agg(F.count("*").alias("k"))
    term = (-(F.col("c").cast("double") / F.col("n"))
            * F.log(F.col("c").cast("double") / F.col("ra"))
            / F.log(F.lit(2.0))).cast("decimal(18,12)")
    return (
        cells.join(F.broadcast(rows_), "a")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(F.round(F.sum(term).cast("double"), 6)
             .alias("entropy_rate_bits"))
        .crossJoin(F.broadcast(n_states))
        .select(
            F.col("n").cast("long").alias("n_transitions"),
            "entropy_rate_bits",
            F.round(F.log2(F.col("k").cast("double")), 6)
            .alias("max_entropy_bits"),
        )
    )


@query(
    "ts_seasonal_strength",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1, 2
    ), complete AS (
      SELECT yr FROM monthly GROUP BY yr HAVING COUNT(*) = 12
    ), m AS (
      SELECT monthly.* FROM monthly JOIN complete USING (yr)
    ), ymean AS (
      SELECT yr, CAST(CAST(SUM(CAST(rev AS DECIMAL(28,4))) AS STRING) AS DOUBLE) / 12
        AS ym
      FROM m GROUP BY yr
    ), detr AS (
      SELECT m.mo, m.rev / y.ym AS ratio
      FROM m JOIN ymean y ON y.yr = m.yr
    ), idx AS (
      SELECT mo, CAST(CAST(SUM(CAST(ratio AS DECIMAL(18,9))) AS STRING) AS DOUBLE)
               / COUNT(*) AS si
      FROM detr GROUP BY mo
    ), resid AS (
      SELECT d.ratio - 1.0 AS detrended,
             d.ratio - i.si AS remainder
      FROM detr d JOIN idx i ON i.mo = d.mo
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(GREATEST(0.0, 1.0 -
             (CAST(CAST(SUM(CAST(remainder * remainder AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
              / CAST(CAST(SUM(CAST(detrended * detrended AS DECIMAL(18,12))) AS STRING) AS DOUBLE))), 6) AS seasonal_strength
    FROM resid
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength (the STL-style F_s): 1 minus the variance of
    what the seasonal indices FAIL to explain, over the variance of
    the detrended series — 0 = the monthly pattern is noise, near 1
    = the calendar owns this metric. This is the gate in front of
    ts_seasonal_index: applying seasonal factors to a series with
    F_s ~ 0 injects noise instead of removing it, so a forecasting
    pipeline computes this FIRST.

    Plan: the same complete-years monthly spine as ts_seasonal_index
    (ratios to the yearly mean), per-month indices, then one
    residual-variance aggregate — every sum DECIMAL-quantized,
    clamped at 0 like every variance in this repo."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
          .cast("double").alias("rev"))
    complete = (monthly.groupBy("yr").agg(F.count("*").alias("nm"))
                .filter(F.col("nm") == 12).select("yr"))
    m = monthly.join(F.broadcast(complete), "yr")
    ymean = m.groupBy("yr").agg(
        (F.sum(F.col("rev").cast("decimal(28,4)")).cast("double") / 12)
        .alias("ym"))
    detr = m.join(F.broadcast(ymean), "yr").select(
        "mo", (F.col("rev") / F.col("ym")).alias("ratio"))
    idx = detr.groupBy("mo").agg(
        (F.sum(F.col("ratio").cast("decimal(18,9)")).cast("double")
         / F.count("*")).alias("si"))
    resid = detr.join(F.broadcast(idx), "mo").select(
        (F.col("ratio") - 1.0).alias("detrended"),
        (F.col("ratio") - F.col("si")).alias("remainder"),
    )

    def ssq(c):
        return F.sum((c * c).cast("decimal(18,12)")).cast("double")

    return resid.agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(F.greatest(
            F.lit(0.0),
            F.lit(1.0) - ssq(F.col("remainder")) / ssq(F.col("detrended"))),
            6).alias("seasonal_strength"),
    )


@query(
    "ts_peak_detection",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), mom AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*)
               AS mu,
             SQRT(GREATEST(
               CAST(CAST(SUM(CAST(y*y AS DECIMAL(38,6))) AS STRING) AS DOUBLE) / COUNT(*)
               - POWER(CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
                       / COUNT(*), 2), 1e-12)) AS sd
      FROM hourly GROUP BY event_type
    ), nb AS (
      SELECT event_type, h, y,
             LAG(y) OVER w AS yp, LEAD(y) OVER w AS yn
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT nb.event_type, CAST(nb.h AS BIGINT) AS hour_id,
           ROUND(nb.y, 4) AS height,
           ROUND((nb.y - m.mu) / m.sd, 4) AS prominence_z
    FROM nb JOIN mom m ON m.event_type = nb.event_type
    WHERE nb.yp IS NOT NULL AND nb.yn IS NOT NULL
      AND nb.y > nb.yp AND nb.y > nb.yn
      AND nb.y > m.mu + 2.0 * m.sd
    """,
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the hourly series: strict local maxima
    (above BOTH neighbors — boundary hours excluded, they have only
    one) that also clear a 2-sigma prominence bar — the spike
    finder that reports WHEN and HOW HIGH, where the monitors
    (anomaly_zscore / change_detect) only flag THAT. Local-maximum +
    prominence is the shape every alert review wants: prominence
    alone fires on plateaus, neighbors alone fire on noise wiggles.

    Plan: hourly spine agg, one LAG/LEAD window per type, per-type
    moments broadcast back, filter to the rare peaks. Strict
    inequalities on exact-DECIMAL-derived doubles — identical on
    both engines."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
         / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
          .alias("y")
          # consumed by BOTH the per-type moment agg and the window
          # pass: one spine-bounded materialization instead of two
          # events-fact re-aggs.
          ).transform(checkpoint)
    mu = (F.sum(F.col("y").cast("decimal(28,6)")).cast("double")
          / F.count("*"))
    m2 = (F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)"))
          .cast("double") / F.count("*"))
    mom = hourly.groupBy("event_type").agg(
        mu.alias("mu"),
        F.sqrt(F.greatest(m2 - mu * mu, F.lit(1e-12))).alias("sd"))
    w = Window.partitionBy("event_type").orderBy("h")
    nb = hourly.select(
        "event_type", "h", "y",
        F.lag("y").over(w).alias("yp"), F.lead("y").over(w).alias("yn"))
    return (
        nb.join(F.broadcast(mom), "event_type")
        .filter(F.col("yp").isNotNull() & F.col("yn").isNotNull()
                & (F.col("y") > F.col("yp")) & (F.col("y") > F.col("yn"))
                & (F.col("y") > F.col("mu") + 2.0 * F.col("sd")))
        .select("event_type", F.col("h").cast("long").alias("hour_id"),
                F.round("y", 4).alias("height"),
                F.round((F.col("y") - F.col("mu")) / F.col("sd"), 4)
                .alias("prominence_z"))
    )


@query(
    "ts_changepoint_binseg",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
               AS y
      FROM events GROUP BY 1, 2
    ), pre AS (
      SELECT event_type, h, y,
             ROW_NUMBER() OVER w AS i,
             SUM(y) OVER (w ROWS UNBOUNDED PRECEDING) AS ps,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type) AS ts_
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
    ), scored AS (
      SELECT event_type, h, i, n,
             -- between-segment SS gain of splitting AFTER row i:
             -- nl*(ml-m)^2 + nr*(mr-m)^2 expanded to prefix sums
             CAST(i AS DOUBLE)
               * POWER(CAST(ps AS DOUBLE)/i - CAST(ts_ AS DOUBLE)/n, 2)
             + CAST(n - i AS DOUBLE)
               * POWER(CAST(ts_ - ps AS DOUBLE)/(n - i)
                       - CAST(ts_ AS DOUBLE)/n, 2) AS gain
      FROM pre WHERE i < n
    )
    SELECT event_type, CAST(h AS BIGINT) AS split_after_hour,
           ROUND(gain, 4) AS best_gain
    FROM (SELECT event_type, h, gain,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY ROUND(gain, 4) DESC, h) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint by binary segmentation (first split): the
    hour boundary that maximizes the between-segment sum of squares —
    evaluated at EVERY candidate in one pass via prefix sums (the
    same no-fan-out trick as ml_decision_stump, applied to TIME).
    ts_change_detect watches a trailing window online; this answers
    the retrospective question "when did the level actually shift",
    which an incident review needs. Recursing on each side gives the
    full segmentation; the first split carries most of the signal.

    Plan: hourly spine agg, ONE ordered window pass computing
    running prefix sums, gain algebra per candidate row, and an
    argmax per type via a rank window ordered on the ROUNDED gain
    (ties break toward the earliest hour — both engines pick
    identically; the rounding makes near-equal doubles an explicit
    tie instead of an ulp race)."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
         / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)"))
          .cast("decimal(28,6)").alias("y"))
    worder = Window.partitionBy("event_type").orderBy("h")
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("event_type")
    pre = hourly.select(
        "event_type", "h",
        F.row_number().over(worder).alias("i"),
        F.sum("y").over(wcum).alias("ps"),
        F.count("*").over(wall).alias("n"),
        F.sum("y").over(wall).alias("ts_"),
    ).filter(F.col("i") < F.col("n"))
    i = F.col("i").cast("double")
    nr = (F.col("n") - F.col("i")).cast("double")
    m = F.col("ts_").cast("double") / F.col("n")
    gain = (i * F.pow(F.col("ps").cast("double") / i - m, 2)
            + nr * F.pow((F.col("ts_") - F.col("ps")).cast("double") / nr
                         - m, 2))
    scored = pre.select("event_type", "h", gain.alias("gain"))
    wbest = Window.partitionBy("event_type").orderBy(
        F.round(F.col("gain"), 4).desc(), "h")
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("h").cast("long")
                .alias("split_after_hour"),
                F.round("gain", 4).alias("best_gain"))
    )


_ACF_MAX_LAG = 48


@query(
    "ts_dominant_period",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), mom AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*)
               AS mu
      FROM hourly GROUP BY event_type
    ), acf AS (
      SELECT a.event_type, l.lag,
             CAST(CAST(SUM(CAST((a.y - m.mu) * (b.y - m.mu)
                           AS DECIMAL(28,9))) AS STRING) AS DOUBLE) AS num,
             COUNT(*) AS n_pairs
      FROM hourly a
      JOIN mom m ON m.event_type = a.event_type
      CROSS JOIN UNNEST(generate_series(2, {_ACF_MAX_LAG})) l(lag)
      JOIN hourly b ON b.event_type = a.event_type
                   AND b.h = a.h + l.lag
      GROUP BY a.event_type, l.lag
    ), var_ AS (
      SELECT hourly.event_type,
             CAST(CAST(SUM(CAST((y - m.mu) * (y - m.mu) AS DECIMAL(28,9))) AS STRING) AS DOUBLE) AS ss
      FROM hourly JOIN mom m ON m.event_type = hourly.event_type
      GROUP BY hourly.event_type
    )
    SELECT event_type, CAST(lag AS INT) AS dominant_period_h,
           ROUND(r, 6) AS acf_peak
    FROM (
      SELECT acf.event_type, acf.lag,
             acf.num / v.ss AS r,
             ROW_NUMBER() OVER (PARTITION BY acf.event_type
               ORDER BY ROUND(acf.num / v.ss, 6) DESC, acf.lag) AS rn
      FROM acf JOIN var_ v ON v.event_type = acf.event_type)
    WHERE rn = 1
    """,
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant periodicity DISCOVERY: the autocorrelation of the
    hourly series at every lag 2..{_ACF_MAX_LAG}, and the lag where
    it peaks — a 24 here says "daily cycle" from the data alone,
    where ts_seasonal_index had to ASSUME its monthly period. The
    ACF-argmax is the relational stand-in for a spectral peak (an
    FFT needs sequential butterflies; the ACF needs only displaced
    self-joins — and for period FINDING they answer the same
    question). Lag 1 is excluded: trend autocorrelation always wins
    it without saying anything about cycles.

    Plan: hourly spine agg, mean broadcast, ONE lag-dimension
    fan-out join over the spine (spine x {_ACF_MAX_LAG - 1} pairs —
    time-bounded, ts_theil_sen's argument), per-(type, lag)
    DECIMAL-quantized covariance sums, rank-window argmax on the
    ROUNDED r (ulp races become explicit ties, earliest lag
    wins)."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
         / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
          .alias("y")).transform(checkpoint)
    mom = hourly.groupBy("event_type").agg(
        (F.sum(F.col("y").cast("decimal(28,6)")).cast("double")
         / F.count("*")).alias("mu"))
    lags = spark.range(2, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag"))
    a = hourly.join(F.broadcast(mom), "event_type")
    b = hourly.select(F.col("event_type").alias("et_b"),
                      F.col("h").alias("hb"),
                      F.col("y").alias("yb"))
    acf = (
        a.crossJoin(F.broadcast(lags))
        .join(b, (F.col("event_type") == F.col("et_b"))
              & (F.col("hb") == F.col("h") + F.col("lag")))
        .groupBy("event_type", "lag")
        .agg(F.sum(((F.col("y") - F.col("mu"))
                    * (F.col("yb") - F.col("mu"))).cast("decimal(28,9)"))
             .cast("double").alias("num"))
    )
    var_ = (
        hourly.join(F.broadcast(mom), "event_type")
        .groupBy("event_type")
        .agg(F.sum(((F.col("y") - F.col("mu"))
                    * (F.col("y") - F.col("mu"))).cast("decimal(28,9)"))
             .cast("double").alias("ss"))
    )
    scored = acf.join(F.broadcast(var_), "event_type").select(
        "event_type", "lag", (F.col("num") / F.col("ss")).alias("r"))
    wbest = Window.partitionBy("event_type").orderBy(
        F.round(F.col("r"), 6).desc(), "lag")
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("lag").cast("int")
                .alias("dominant_period_h"),
                F.round("r", 6).alias("acf_peak"))
    )


@query(
    "ts_cusum",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), ref AS (
      SELECT event_type, SUM(x) // COUNT(*) AS k
      FROM hourly GROUP BY event_type
    ), pre AS (
      SELECT h.event_type, h.bucket, h.x,
             SUM(h.x - r.k) OVER (PARTITION BY h.event_type
                                  ORDER BY h.bucket) AS p
      FROM hourly h JOIN ref r ON r.event_type = h.event_type
    ), cus AS (
      SELECT event_type, bucket, x,
             p - LEAST(MIN(p) OVER (PARTITION BY event_type
                                    ORDER BY bucket), 0) AS cusum
      FROM pre
    )
    SELECT event_type, bucket AS peak_bucket,
           CAST(x AS BIGINT) AS x_at_peak,
           CAST(cusum AS BIGINT) AS max_cusum,
           CAST(n_buckets AS BIGINT) AS n_buckets
    FROM (
      SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS n_buckets,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cusum DESC, bucket) AS rn
      FROM cus
    ) WHERE rn = 1
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM upward-shift detection per event type — the
    sequential changepoint statistic (Page 1954) that ts_change_detect's
    window z-gate can't replicate: CUSUM accumulates SMALL persistent
    deviations until they cross, catching slow drifts a per-bucket
    sigma test never flags.  The textbook recursion
    S_t = max(0, S_{t-1} + x_t − k) is sequential, which is exactly
    what a distributed engine can't run — so the engine uses the
    prefix identity S_t = P_t − min(0, min_{s≤t} P_s) with
    P = running sum of (x − k): two window passes over the same
    partition-and-order, no recursion, no iteration.  Reports each
    type's peak excursion and when it happened.

    Exactness: the reference level k is the FLOORED per-type mean
    (exact integer division), so every deviation, prefix sum, minimum
    and the statistic itself stay in exact BIGINT arithmetic — no
    float accumulation anywhere.

    Scale: one hash agg to hourly buckets (map-side partials), then
    two windows and the argmax row_number over the BUCKET table —
    spine-sized (types × hours), thousands of rows per year per type
    regardless of event volume; the per-type serialization the window
    implies is bounded by that spine, not by the corpus."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("x"))
    )
    ref = hourly.groupBy("event_type").agg(
        F.floor(F.sum("x") / F.count("*")).alias("k")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    pre = (
        hourly.join(F.broadcast(ref), "event_type")
        .withColumn("p", F.sum(F.col("x") - F.col("k")).over(w))
    )
    cus = pre.withColumn(
        "cusum", F.col("p") - F.least(F.min("p").over(w), F.lit(0))
    )
    wt = Window.partitionBy("event_type")
    ranked = cus.select(
        "event_type", "bucket", "x", "cusum",
        F.count("*").over(wt).alias("n_buckets"),
        F.row_number().over(
            Window.partitionBy("event_type")
            .orderBy(F.desc("cusum"), "bucket")
        ).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("bucket").alias("peak_bucket"),
        F.col("x").cast("long").alias("x_at_peak"),
        F.col("cusum").cast("long").alias("max_cusum"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
    )


@query(
    "cdc_debezium_envelope",
    oracle="""
    WITH ops AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 10 = 0 THEN 'd'
                  WHEN o_orderkey % 10 <= 3 THEN 'u'
                  ELSE 'c' END AS op
      FROM orders
    ), env AS (
      SELECT to_json(struct_pack(
               op := op,
               before := CASE WHEN op != 'c' THEN struct_pack(
                 o_orderkey := o_orderkey, o_totalprice := o_totalprice)
               END,
               after := CASE WHEN op != 'd' THEN struct_pack(
                 o_orderkey := o_orderkey,
                 o_totalprice := o_totalprice + 5.0)
               END)) AS payload
      FROM ops
    ), parsed AS (
      SELECT payload->>'$.op' AS op,
             CAST(payload->>'$.before.o_orderkey' AS BIGINT) AS b_key,
             CAST(payload->>'$.after.o_orderkey' AS BIGINT) AS a_key,
             CAST(payload->>'$.after.o_totalprice' AS DOUBLE) AS a_price
      FROM env
    )
    SELECT op,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(b_key) AS BIGINT) AS n_before,
           CAST(COUNT(a_key) AS BIGINT) AS n_after,
           CAST(CAST(SUM(CAST(a_price AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             AS sum_after_price
    FROM parsed GROUP BY op
    """,
)
def cdc_debezium_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEBEZIUM-SHAPED CDC envelope parsing — the ingestion step the
    other cdc_* ops assume already happened: real change streams
    arrive as {"op": c|u|d, "before": {...}, "after": {...}} JSON
    envelopes, and the engine must parse, validate the op/image
    contract (creates carry no before-image, deletes no after-image),
    and extract typed images before cdc_latest_state/cdc_apply_merge
    can compact them. Each engine BUILDS the envelope with its own
    JSON writer and PARSES it with its own JSON reader (from_json with
    an explicit nested schema on Spark, JSON-path extraction in
    DuckDB); the comparison is on the recovered TYPED fields, so the
    hash proves lossless roundtrip of nested nullable structs and
    doubles through each engine's full JSON stack — shortest-repr
    float printing included.

    Scale: map-side string build + parse, one op-bounded hash agg;
    at 100 TB the parse cost is the scan cost (from_json is codegen'd
    Jackson, no Python), and malformed envelopes would land in
    _corrupt_record per the scan_jsonl_corrupt policy rather than
    killing the stream."""
    o = table(spark, sf_dir, "orders")
    op = (
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("d"))
        .when(F.col("o_orderkey") % 10 <= 3, F.lit("u"))
        .otherwise(F.lit("c"))
    )
    image = F.struct(
        F.col("o_orderkey"), F.col("o_totalprice")
    )
    after_image = F.struct(
        F.col("o_orderkey"),
        (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
    )
    env = o.select(
        F.to_json(
            F.struct(
                op.alias("op"),
                F.when(op != "c", image).alias("before"),
                F.when(op != "d", after_image).alias("after"),
            )
        ).alias("payload")
    )
    schema = ("op STRING, "
              "before STRUCT<o_orderkey BIGINT, o_totalprice DOUBLE>, "
              "after STRUCT<o_orderkey BIGINT, o_totalprice DOUBLE>")
    parsed = env.select(
        F.from_json("payload", schema).alias("e")
    ).select(
        F.col("e.op").alias("op"),
        F.col("e.before.o_orderkey").alias("b_key"),
        F.col("e.after.o_orderkey").alias("a_key"),
        F.col("e.after.o_totalprice").alias("a_price"),
    )
    return parsed.groupBy("op").agg(
        F.count("*").cast("long").alias("n"),
        F.count("b_key").cast("long").alias("n_before"),
        F.count("a_key").cast("long").alias("n_after"),
        F.sum(F.col("a_price").cast("decimal(18,6)")).cast("double")
        .alias("sum_after_price"),
    )


@query(
    "ts_downsample_m4",
    oracle="""
    WITH pts AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value, ts,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(MIN(value), 6) AS v_min,
           ROUND(MAX(value), 6) AS v_max,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS v_first,
           ROUND(MAX(CASE WHEN rn_z = 1 THEN value END), 6) AS v_last
    FROM pts GROUP BY event_type, bucket
    """,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 DOWNSAMPLING (min/max/first/last per time bucket) — the
    error-free line-chart reduction (Jugel et al., VLDB 2014): a
    million points per pixel column render identically to these four,
    so dashboards over 100 TB of telemetry query the M4 rollup, never
    raw events. first/last preserve bucket-boundary continuity, min/
    max preserve the envelope — together they reproduce the exact
    pixel raster of the full series.

    Exactness: first/last are row_number-selected under the total
    (ts, event_id) order — no engine-specific first_value tie
    semantics — and values pass through untouched (one ROUND for the
    hash only).

    Scale: one window + one hash agg per (series, bucket); output is
    bucket-bounded (pixels × series), independent of event volume.
    The window partitions by (series, bucket) so no partition exceeds
    a bucket's points; at extreme per-bucket density the same four
    stats also compute as plain min_by/max_by aggregates with the
    (ts, event_id) key, trading the window for pure map-side
    partials."""
    e = table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", "ts").alias("bucket")
    w = Window.partitionBy("event_type", "bucket")
    pts = e.select(
        "event_type", bucket, "value", "ts", "event_id"
    ).select(
        "*",
        F.row_number().over(w.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number().over(
            w.orderBy(F.desc("ts"), F.desc("event_id"))
        ).alias("rn_z"),
    )
    return pts.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.max("value"), 6).alias("v_max"),
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6)
        .alias("v_first"),
        F.round(F.max(F.when(F.col("rn_z") == 1, F.col("value"))), 6)
        .alias("v_last"),
    )


_HAAR_LEVELS = 5  # decompose the first 2^5 = 32 hourly buckets


@query(
    "ts_wavelet_haar",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) - 1 AS rn
      FROM hourly
    ), head AS (
      SELECT * FROM idx WHERE rn < {2 ** _HAAR_LEVELS}
    ), coeffs AS (
      SELECT h.event_type, t.lv,
             h.rn // CAST(power(2, t.lv) AS BIGINT) AS j,
             SUM(h.x * (1 - 2 * ((h.rn
                   // CAST(power(2, t.lv - 1) AS BIGINT)) % 2))) AS d
      FROM head h, UNNEST(generate_series(1, {_HAAR_LEVELS})) t(lv)
      GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(lv AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(SUM(d * d) AS BIGINT) AS detail_energy,
           CAST(MAX(ABS(d)) AS BIGINT) AS max_abs_coeff
    FROM coeffs GROUP BY event_type, lv
    """,
)
def ts_wavelet_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAAR WAVELET detail-energy decomposition of the hourly volume
    series — the multi-resolution signal profile: level-1 energy is
    hour-to-hour jitter, level-{_HAAR_LEVELS} energy is day-scale
    movement, and the energy-by-level spectrum says WHERE the
    variance lives (a spike at one level = periodicity near 2^level
    hours — the wavelet view of what ts_dominant_period finds by
    ACF; energy concentrated at coarse levels = compressible, smooth
    series — the basis of wavelet telemetry compression).  Unnormal-
    ized Haar (left-half sum − right-half sum per dyadic block) keeps
    EVERYTHING in exact BIGINT: counts in, integer coefficients out,
    integer energies — no sqrt(2) normalization, no floats at all.

    Scale: the detail coefficient at (level, position) is a
    CONDITIONAL SUM over its dyadic block — so all levels compute as
    one {_HAAR_LEVELS}-way fan-out of the spine (bounded: 2^{_HAAR_LEVELS}
    buckets/series) into one hash agg keyed by (series, level, block);
    no iteration, no per-level passes, unlike the textbook recursive
    cascade."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    head = (
        hourly.withColumn("rn", F.row_number().over(w) - 1)
        .filter(F.col("rn") < 2 ** _HAAR_LEVELS)
    )
    lv = F.explode(
        F.sequence(F.lit(1), F.lit(_HAAR_LEVELS))
    ).alias("lv")
    fan = head.select("event_type", "x", "rn", lv)
    blk = F.col("rn") / F.pow(F.lit(2.0), F.col("lv"))
    sign = 1 - 2 * (
        (F.col("rn") / F.pow(F.lit(2.0), F.col("lv") - 1)).cast("long") % 2
    )
    coeffs = (
        fan.select(
            "event_type", "lv",
            blk.cast("long").alias("j"),
            (F.col("x") * sign).alias("term"),
        )
        .groupBy("event_type", "lv", "j")
        .agg(F.sum("term").alias("d"))
    )
    return coeffs.groupBy("event_type", "lv").agg(
        F.count("*").cast("long").alias("n_coeffs"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("detail_energy"),
        F.max(F.abs("d")).cast("long").alias("max_abs_coeff"),
    ).select(
        "event_type", F.col("lv").cast("long").alias("level"),
        "n_coeffs", "detail_energy", "max_abs_coeff",
    )


# SAX alphabet: 4 symbols split at the standard-normal quartile
# breakpoints. One shared literal per breakpoint, both engines.
_SAX_BP = (-0.6745, 0.0, 0.6745)
_SAX_WORD = 3   # motif word length (symbols)
_SAX_TOP = 5    # motifs reported per series


@query(
    "ts_sax_motifs",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mu,
             sqrt(CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
                    / COUNT(*)
                  - (CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
                       / COUNT(*))) AS sigma
      FROM hourly GROUP BY event_type
    ), sym AS (
      SELECT h.event_type, h.bucket,
             CASE WHEN (h.x - s.mu) / s.sigma < {_SAX_BP[0]} THEN 'a'
                  WHEN (h.x - s.mu) / s.sigma < {_SAX_BP[1]} THEN 'b'
                  WHEN (h.x - s.mu) / s.sigma < {_SAX_BP[2]} THEN 'c'
                  ELSE 'd' END AS c
      FROM hourly h JOIN stats s ON s.event_type = h.event_type
    ), words AS (
      SELECT event_type,
             c || LEAD(c, 1) OVER w || LEAD(c, 2) OVER w AS word
      FROM sym
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    ), counts AS (
      SELECT event_type, word, COUNT(*) AS n
      FROM words WHERE word IS NOT NULL
      GROUP BY event_type, word
    )
    SELECT event_type, word, CAST(n AS BIGINT) AS n
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY n DESC, word) AS rn
      FROM counts
    ) WHERE rn <= {_SAX_TOP}
    """,
)
def ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX SYMBOLIZATION + MOTIF COUNTS — the time-series indexing
    classic (Lin/Keogh): z-normalize each series, quantize into a
    4-letter alphabet at the standard-normal quartile breakpoints,
    slide a {_SAX_WORD}-symbol window into WORDS, and count them —
    recurring words are the series' MOTIFS (its behavioral
    vocabulary: 'ramp-up', 'spike-decay'), and rare words are
    discords (the anomaly view ts_anomaly_zscore takes pointwise,
    here shape-wise).  SAX words are also the join key for
    whole-series similarity search — the dedup-banding idea applied
    to signals.

    Exactness: μ and σ come from DECIMAL co-moments (exact,
    order-independent) with IEEE sqrt; every z-value is then the
    same double on both engines, so symbol assignment at the shared
    breakpoint literals cannot diverge.

    Scale: spine-bounded throughout — stats and symbols ride the
    (series, hour) table; the word window is two LEADs; motif counts
    are alphabet^{_SAX_WORD}-bounded per series."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    mu = (F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
          / F.count("*"))
    ex2 = (F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)"))
           .cast("double") / F.count("*"))
    stats = hourly.groupBy("event_type").agg(
        mu.alias("mu"), ex2.alias("ex2")
    ).select(
        "event_type", "mu",
        F.sqrt(F.col("ex2") - F.col("mu") * F.col("mu")).alias("sigma"),
    )
    z = (F.col("x") - F.col("mu")) / F.col("sigma")
    sym = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type", "bucket",
        F.when(z < _SAX_BP[0], "a")
        .when(z < _SAX_BP[1], "b")
        .when(z < _SAX_BP[2], "c")
        .otherwise("d").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    words = sym.select(
        "event_type",
        F.concat("c", F.lead("c", 1).over(w), F.lead("c", 2).over(w))
        .alias("word"),
    ).filter(F.col("word").isNotNull())
    counts = words.groupBy("event_type", "word").agg(
        F.count("*").cast("long").alias("n")
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("n"), "word")
    return (
        counts.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _SAX_TOP)
        .select("event_type", "word", "n")
    )


_HURST_NS = (8, 16, 32, 64)  # R/S window sizes; log2 = 3,4,5,6


def _hurst_oracle() -> str:
    # slope weights (log2(n) - mean(log2)) = -1.5,-0.5,+0.5,+1.5 over
    # n=8..64; denominator sum((xi-x̄)^2) = 5.0. Exact decimal weights.
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) - 1 AS rn
      FROM hourly
    ), fan AS (
      SELECT i.event_type, i.x, i.rn, t.n,
             i.rn // t.n AS blk, i.rn % t.n + 1 AS k
      FROM idx i, UNNEST([{', '.join(str(n) for n in _HURST_NS)}]) t(n)
    ), pre AS (
      SELECT event_type, n, blk, k, x,
             SUM(x) OVER (PARTITION BY event_type, n, blk
                          ORDER BY k) AS p
      FROM fan
    ), bstat AS (
      SELECT event_type, n, blk, SUM(x) AS sx, SUM(x * x) AS sxx,
             COUNT(*) AS cnt
      FROM fan GROUP BY 1, 2, 3
    ), z AS (
      SELECT p.event_type, p.n, p.blk,
             MAX(p.n * p.p - p.k * b.sx) AS zmax,
             MIN(p.n * p.p - p.k * b.sx) AS zmin
      FROM pre p
      JOIN bstat b ON b.event_type = p.event_type AND b.n = p.n
                   AND b.blk = p.blk
      WHERE b.cnt = p.n
      GROUP BY 1, 2, 3
    ), rs AS (
      SELECT z.event_type, z.n,
             CAST(GREATEST(z.zmax, 0) - LEAST(z.zmin, 0) AS DOUBLE)
               / sqrt(CAST(b.cnt * b.sxx - b.sx * b.sx AS DOUBLE))
               AS ratio
      FROM z
      JOIN bstat b ON b.event_type = z.event_type AND b.n = z.n
                   AND b.blk = z.blk
      WHERE b.cnt * b.sxx - b.sx * b.sx > 0
    ), avg_rs AS (
      SELECT event_type, n,
             log2(CAST(CAST(SUM(CAST(ratio AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
                  / COUNT(*)) AS y
      FROM rs GROUP BY event_type, n
    )
    SELECT event_type,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(18,12))
                          * CAST((log2(n) - 4.5) AS DECIMAL(3,1)))
                      AS DOUBLE) / 5.0, 6) AS hurst,
           CAST(COUNT(*) AS BIGINT) AS n_scales
    FROM avg_rs GROUP BY event_type HAVING COUNT(*) = {len(_HURST_NS)}
    """


@query("ts_hurst_exponent", oracle=_hurst_oracle())
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT by rescaled-range (R/S) analysis — the
    LONG-MEMORY diagnosis: H≈0.5 says increments are independent
    (Poisson-like traffic, ts_fano_factor's null), H>0.5 says bursts
    cluster across scales (self-similar load — capacity planning
    can't use short-window averages), H<0.5 says mean-reversion.
    Computes R/S per dyadic block at n = {_HURST_NS}, averages per
    scale, and fits H as the log2-log2 OLS slope (exact x-grid
    3..6 ⇒ closed-form weights ±1.5, ±0.5 over denominator 5).

    Exactness — the SCALED-DEVIATION trick: the classic cumulative
    deviation Z_k = Σ(x−μ) is float; scaling by n makes it
    Z'_k = n·prefix_k − k·Σ_block — EXACT BIGINT (running integer
    sums are association-free where running double sums are not),
    and R/S = (maxZ'−minZ')/√(n·Σx²−(Σx)²) divides two exact
    integers' images — bit-identical across engines. Per-scale
    averages and the slope quantize through DECIMAL per the libm
    rule.

    Scale: one {len(_HURST_NS)}-way fan-out of the hourly spine,
    block-bounded windows, scale-bounded aggs — the ts_wavelet_haar
    profile (Haar energies ARE the wavelet view of the same
    self-similarity this measures)."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wi = Window.partitionBy("event_type").orderBy("bucket")
    idx = hourly.select(
        "event_type", "x", (F.row_number().over(wi) - 1).alias("rn")
    )
    fan = idx.select(
        "event_type", "x", "rn",
        F.explode(F.array(*[F.lit(n) for n in _HURST_NS])).alias("n"),
    ).select(
        "event_type", "x", "rn", "n",
        F.expr("rn DIV n").alias("blk"),
        (F.col("rn") % F.col("n") + 1).alias("k"),
    )
    wp = Window.partitionBy("event_type", "n", "blk").orderBy("k")
    pre = fan.withColumn("p", F.sum("x").over(wp))
    bstat = fan.groupBy("event_type", "n", "blk").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count("*").alias("cnt"),
    )
    z = (
        pre.join(bstat, ["event_type", "n", "blk"])
        .filter(F.col("cnt") == F.col("n"))
        .groupBy("event_type", "n", "blk")
        .agg(
            F.max(F.col("n") * F.col("p") - F.col("k") * F.col("sx"))
            .alias("zmax"),
            F.min(F.col("n") * F.col("p") - F.col("k") * F.col("sx"))
            .alias("zmin"),
        )
    )
    var_num = F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    rs = (
        z.join(bstat, ["event_type", "n", "blk"])
        .filter(var_num > 0)
        .select(
            "event_type", "n",
            (
                (F.greatest(F.col("zmax"), F.lit(0))
                 - F.least(F.col("zmin"), F.lit(0))).cast("double")
                / F.sqrt(var_num.cast("double"))
            ).alias("ratio"),
        )
    )
    avg_rs = rs.groupBy("event_type", "n").agg(
        F.log2(
            F.sum(F.col("ratio").cast("decimal(18,12)")).cast("double")
            / F.count("*")
        ).alias("y")
    )
    weight = (F.log2(F.col("n")) - 4.5).cast("decimal(3,1)")
    return (
        avg_rs.groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("y").cast("decimal(18,12)") * weight)
                .cast("double") / 5.0, 6
            ).alias("hurst"),
            F.count("*").cast("long").alias("n_scales"),
        )
        .filter(F.col("n_scales") == len(_HURST_NS))
    )


@query(
    "ts_spectral_entropy",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) - 1 AS rn
      FROM hourly
    ), head AS (
      SELECT * FROM idx WHERE rn < {2 ** _HAAR_LEVELS}
    ), coeffs AS (
      SELECT h.event_type, t.lv,
             h.rn // CAST(power(2, t.lv) AS BIGINT) AS j,
             SUM(h.x * (1 - 2 * ((h.rn
                   // CAST(power(2, t.lv - 1) AS BIGINT)) % 2))) AS d
      FROM head h, UNNEST(generate_series(1, {_HAAR_LEVELS})) t(lv)
      GROUP BY 1, 2, 3
    ), lev AS (
      SELECT event_type, lv, SUM(d * d) AS e
      FROM coeffs GROUP BY event_type, lv
    ), tot AS (
      SELECT event_type, SUM(e) AS te FROM lev GROUP BY event_type
    ), terms AS (
      SELECT l.event_type,
             CASE WHEN l.e > 0 THEN
               CAST((CAST(l.e AS DOUBLE) / t.te)
                    * ln(CAST(l.e AS DOUBLE) / t.te)
                    AS DECIMAL(18,12))
             ELSE CAST(0 AS DECIMAL(18,12)) END AS plogp
      FROM lev l JOIN tot t ON t.event_type = l.event_type
    )
    SELECT event_type,
           ROUND(-CAST(SUM(plogp) AS DOUBLE)
                 / ln({_HAAR_LEVELS}.0), 6) AS spectral_entropy,
           CAST(COUNT(*) AS BIGINT) AS n_levels
    FROM terms GROUP BY event_type
    """,
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL ENTROPY over the Haar energy-by-level distribution —
    the one-number summary of ts_wavelet_haar's spectrum: entropy ≈ 1
    (energy spread evenly over scales) = white-noise-like traffic;
    entropy ≪ 1 (energy concentrated at one scale) = strongly
    periodic or trending — so it ranks SERIES by structure, the
    triage number that decides which series deserve ts_dominant_period
    / ts_seasonal_index treatment and which are noise not worth
    modeling. Normalized by ln(levels) to [0, 1].

    Exactness: level energies are the exact BIGINT Haar energies;
    proportions are one double division; p·ln p terms quantize
    through DECIMAL(18,12) (the libm rule, as agg_entropy and
    agg_hill_diversity); one final rounded division.

    Scale: identical fan-out to ts_wavelet_haar (spine-bounded),
    plus two level-bounded aggs — the level table is {_HAAR_LEVELS}
    rows per series."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    head = (
        hourly.withColumn("rn", F.row_number().over(w) - 1)
        .filter(F.col("rn") < 2 ** _HAAR_LEVELS)
    )
    fan = head.select(
        "event_type", "x", "rn",
        F.explode(F.sequence(F.lit(1), F.lit(_HAAR_LEVELS))).alias("lv"),
    )
    blk = (F.col("rn") / F.pow(F.lit(2.0), F.col("lv"))).cast("long")
    sign = 1 - 2 * (
        (F.col("rn") / F.pow(F.lit(2.0), F.col("lv") - 1)).cast("long") % 2
    )
    lev = (
        fan.select("event_type", "lv", blk.alias("j"),
                   (F.col("x") * sign).alias("term"))
        .groupBy("event_type", "lv", "j")
        .agg(F.sum("term").alias("d"))
        .groupBy("event_type", "lv")
        .agg(F.sum(F.col("d") * F.col("d")).alias("e"))
    )
    tot = lev.groupBy("event_type").agg(F.sum("e").alias("te"))
    p = F.col("e").cast("double") / F.col("te")
    terms = lev.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.when(F.col("e") > 0, (p * F.log(p)).cast("decimal(18,12)"))
        .otherwise(F.lit(0).cast("decimal(18,12)")).alias("plogp"),
    )
    import math

    return terms.groupBy("event_type").agg(
        F.round(
            -F.sum("plogp").cast("double") / math.log(_HAAR_LEVELS), 6
        ).alias("spectral_entropy"),
        F.count("*").cast("long").alias("n_levels"),
    )


@query(
    "ts_granger_lite",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS ty, date_trunc('hour', ts) AS b,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), rows_j AS (
      SELECT c.ty AS cause, e.ty AS effect,
             e.x AS y, el.x AS x1, c.x AS x2
      FROM hourly e
      JOIN hourly el ON el.ty = e.ty
                    AND el.b + INTERVAL 1 HOUR = e.b
      JOIN hourly c ON c.ty != e.ty
                   AND c.b + INTERVAL 1 HOUR = e.b
    ), mom AS (
      SELECT cause, effect, COUNT(*) AS n,
             SUM(y) AS sy, SUM(x1) AS s1, SUM(x2) AS s2,
             SUM(y * y) AS syy, SUM(x1 * x1) AS s11,
             SUM(x2 * x2) AS s22, SUM(y * x1) AS sy1,
             SUM(y * x2) AS sy2, SUM(x1 * x2) AS s12
      FROM rows_j GROUP BY cause, effect
    ), corr_t AS (
      -- degenerate guard (exact integer conditions, engine-identical):
      -- a zero-variance series or perfectly collinear lag pair has no
      -- defined correlation/R^2 — dropped, not divided by zero
      SELECT cause, effect, n,
             CAST(n * sy1 - sy * s1 AS DOUBLE)
               / sqrt(CAST((n * syy - sy * sy)
                           * (n * s11 - s1 * s1) AS DOUBLE)) AS ry1,
             CAST(n * sy2 - sy * s2 AS DOUBLE)
               / sqrt(CAST((n * syy - sy * sy)
                           * (n * s22 - s2 * s2) AS DOUBLE)) AS ry2,
             CAST(n * s12 - s1 * s2 AS DOUBLE)
               / sqrt(CAST((n * s11 - s1 * s1)
                           * (n * s22 - s2 * s2) AS DOUBLE)) AS r12
      FROM mom
      WHERE n * syy - sy * sy > 0 AND n * s11 - s1 * s1 > 0
        AND n * s22 - s2 * s2 > 0
        AND (n * s11 - s1 * s1) * (n * s22 - s2 * s2)
            != (n * s12 - s1 * s2) * (n * s12 - s1 * s2)
    )
    SELECT cause, effect, CAST(n AS BIGINT) AS n,
           ROUND(ry1 * ry1, 6) AS r2_restricted,
           ROUND((ry1 * ry1 + ry2 * ry2 - 2.0 * ry1 * ry2 * r12)
                 / (1.0 - r12 * r12), 6) AS r2_full,
           ROUND((ry1 * ry1 + ry2 * ry2 - 2.0 * ry1 * ry2 * r12)
                 / (1.0 - r12 * r12) - ry1 * ry1, 6) AS granger_gain
    FROM corr_t
    """,
)
def ts_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER-STYLE lagged predictability screen over every ordered
    series pair: does knowing CAUSE's volume at t−1 improve the
    prediction of EFFECT at t BEYOND effect's own lag? —
    R²_full(effect_lag, cause_lag) − R²_restricted(effect_lag), the
    two-regressor R² in closed correlation form
    (r_y1² + r_y2² − 2·r_y1·r_y2·r_12)/(1 − r_12²). ts_lagged_corr
    measures raw cross-correlation; the Granger gain CONDITIONS ON
    AUTOCORRELATION, killing the 'both series trend together'
    false positive, and its asymmetry (click→purchase vs
    purchase→click) is the direction signal.

    Exactness: with integer hourly counts, every co-moment is an
    exact BIGINT, so each correlation is a ratio of exact integers'
    images under one IEEE sqrt/divide — bit-identical across engines
    (the agg_spearman_rho discipline, here on 3 variables); the R²
    algebra runs in one fixed operation order and rounds at 6.

    Scale: the lag alignment is two spine self-joins keyed on
    (series, hour) — spine-sized; the co-moment agg is one pass;
    output is |series|² rows. No per-pair rescans."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.col("event_type").alias("ty"),
                  F.date_trunc("hour", "ts").alias("b"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    eff = hourly.alias("e")
    el = hourly.alias("el")
    ca = hourly.alias("c")
    rows_j = (
        eff.join(
            el,
            (F.col("el.ty") == F.col("e.ty"))
            & (F.expr("el.b + INTERVAL 1 HOUR") == F.col("e.b")),
        )
        .join(
            ca,
            (F.col("c.ty") != F.col("e.ty"))
            & (F.expr("c.b + INTERVAL 1 HOUR") == F.col("e.b")),
        )
        .select(
            F.col("c.ty").alias("cause"), F.col("e.ty").alias("effect"),
            F.col("e.x").alias("y"), F.col("el.x").alias("x1"),
            F.col("c.x").alias("x2"),
        )
    )
    mom = rows_j.groupBy("cause", "effect").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"), F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("y") * F.col("x1")).alias("sy1"),
        F.sum(F.col("y") * F.col("x2")).alias("sy2"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
    )

    # All co-moment algebra in decimal(38,0): the variance-product
    # terms v11*v22 and cov12^2 reach ~1e28 at sf10 (hourly counts
    # ~1e4 squared, summed over ~1e3 hours, squared again) — far past
    # long's 9.2e18, which ANSI mode turns into a runtime overflow.
    # DuckDB's side already promotes to HUGEINT; decimal keeps Spark
    # exact to 38 digits (~sf1000 on this shape) and still loud, not
    # wrapped, beyond that.
    def D(c: str) -> F.Column:
        return F.col(c).cast("decimal(38,0)")

    def corr(sab, sa, sb, saa, sbb):
        num = (D("n") * D(sab) - D(sa) * D(sb)).cast("double")
        den = F.sqrt(
            ((D("n") * D(saa) - D(sa) * D(sa))
             * (D("n") * D(sbb) - D(sb) * D(sb)))
            .cast("double")
        )
        return num / den

    def v(saa, sa):
        return D("n") * D(saa) - D(sa) * D(sa)

    cov12 = D("n") * D("s12") - D("s1") * D("s2")
    ct = mom.filter(
        (v("syy", "sy") > 0) & (v("s11", "s1") > 0) & (v("s22", "s2") > 0)
        & (v("s11", "s1") * v("s22", "s2") != cov12 * cov12)
    ).select(
        "cause", "effect", "n",
        corr("sy1", "sy", "s1", "syy", "s11").alias("ry1"),
        corr("sy2", "sy", "s2", "syy", "s22").alias("ry2"),
        corr("s12", "s1", "s2", "s11", "s22").alias("r12"),
    )
    r2_full = (
        F.col("ry1") * F.col("ry1") + F.col("ry2") * F.col("ry2")
        - 2.0 * F.col("ry1") * F.col("ry2") * F.col("r12")
    ) / (1.0 - F.col("r12") * F.col("r12"))
    return ct.select(
        "cause", "effect", F.col("n").cast("long").alias("n"),
        F.round(F.col("ry1") * F.col("ry1"), 6).alias("r2_restricted"),
        F.round(r2_full, 6).alias("r2_full"),
        F.round(r2_full - F.col("ry1") * F.col("ry1"), 6)
        .alias("granger_gain"),
    )


_NW_LAGS = 3  # Bartlett-kernel truncation for the HAC variance


@query(
    "ts_newey_west_se",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), idx AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY d) - 1 AS t FROM daily
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
             SUM(t * t) AS stt, SUM(t * y) AS sty
      FROM idx
    ), fit AS (
      SELECT n,
             CAST(n * sty - st * sy AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS b,
             CAST(sy AS DOUBLE) / n
               - (CAST(n * sty - st * sy AS DOUBLE)
                  / CAST(n * stt - st * st AS DOUBLE))
                 * (CAST(st AS DOUBLE) / n) AS a,
             CAST(n * stt - st * st AS DOUBLE) / n AS sxx,
             CAST(st AS DOUBLE) / n AS xbar
      FROM mom
    ), v AS (
      SELECT i.t,
             (i.t - f.xbar) * (i.y - f.a - f.b * i.t) AS v,
             f.b AS b, f.sxx AS sxx, f.n AS n
      FROM idx i CROSS JOIN fit f
    ), gamma0 AS (
      SELECT CAST(CAST(SUM(CAST(v * v AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS g0,
             MAX(b) AS b, MAX(sxx) AS sxx, MAX(n) AS n
      FROM v
    ), gammal AS (
      SELECT cl.lag_l AS lag_l,
             CAST(CAST(SUM(CAST(cl.v * p.v AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS gl
      FROM (SELECT c.t, c.v, s.lag_l
            FROM v c, UNNEST(generate_series(1, {_NW_LAGS})) s(lag_l)) cl
      JOIN v p ON p.t = cl.t - cl.lag_l
      GROUP BY cl.lag_l
    ), hac AS (
      SELECT g0.b, g0.sxx, g0.n,
             g0.g0 + 2.0 * (
               SELECT CAST(CAST(SUM(CAST(
                 (1.0 - lag_l / {_NW_LAGS + 1}.0) * gl
                 AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
               FROM gammal) AS s_hac,
             g0.g0 AS s_iid
      FROM gamma0 g0
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(b, 6) AS slope,
           ROUND(sqrt(s_iid / (n - 2.0)) / sqrt(sxx * n), 6) AS se_ols,
           ROUND(sqrt(s_hac) / (sxx * n), 6) AS se_hac,
           ROUND((sqrt(s_hac) / (sxx * n))
                 / (sqrt(s_iid / (n - 2.0)) / sqrt(sxx * n)), 6)
             AS hac_inflation
    FROM hac
    """,
)
def ts_newey_west_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWEY-WEST (HAC) standard error for the daily-volume trend
    slope — the inference repair for what ts_runs_test DETECTS:
    serially-correlated residuals make the iid OLS standard error a
    lie (typically 2-5× too small on autocorrelated telemetry — you
    'discover' trends that are noise). Bartlett-weighted
    autocovariances of the score v_t = (t−t̄)·e_t up to lag
    {_NW_LAGS} give the robust variance; the HAC_INFLATION column
    (se_hac/se_ols) is the honesty factor to apply to every trend
    t-statistic this pipeline reports (ts_theil_sen is the robust
    ESTIMATE; this is the robust UNCERTAINTY).

    Exactness: the fit comes from exact integer co-moments on the
    exact 0..T−1 day grid, so a, b and every residual are
    bit-identical doubles; each v·v product quantizes through
    DECIMAL(28,6) before the autocovariance sums; sqrt/divide at the
    end, rounded.

    Scale: spine-bounded — one daily agg from the fact table, then
    everything runs on T rows; the lag products are {_NW_LAGS}
    self-joins of the T-row score series."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    idx = daily.select(
        "y",
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"),
    )
    mom = idx.agg(
        F.count("*").alias("n"), F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    bnum = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) \
        .cast("double")
    bden = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")) \
        .cast("double")
    fit = mom.select(
        "n",
        (bnum / bden).alias("b"),
        (F.col("sy").cast("double") / F.col("n")
         - (bnum / bden) * (F.col("st").cast("double") / F.col("n")))
        .alias("a"),
        (bden / F.col("n")).alias("sxx"),
        (F.col("st").cast("double") / F.col("n")).alias("xbar"),
    )
    v = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        ((F.col("t") - F.col("xbar"))
         * (F.col("y") - F.col("a") - F.col("b") * F.col("t")))
        .alias("v"),
        "b", "sxx", "n",
    )
    g0 = v.agg(
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,6)"))
        .cast("double").alias("g0"),
        F.max("b").alias("b"), F.max("sxx").alias("sxx"),
        F.max("n").alias("n"),
    )
    p = v.select(F.col("t").alias("pt"), F.col("v").alias("pv"))
    lags = v.select(
        "t", F.col("v").alias("cv"),
        F.explode(F.sequence(F.lit(1), F.lit(_NW_LAGS))).alias("lag_l"),
    )
    gl = (
        lags.join(p, F.col("pt") == F.col("t") - F.col("lag_l"))
        .groupBy("lag_l")
        .agg(
            F.sum((F.col("cv") * F.col("pv")).cast("decimal(28,6)"))
            .cast("double").alias("gl")
        )
    )
    s_bart = gl.agg(
        F.sum(
            ((1.0 - F.col("lag_l") / float(_NW_LAGS + 1)) * F.col("gl"))
            .cast("decimal(28,6)")
        ).cast("double").alias("wsum")
    )
    hac = g0.crossJoin(F.broadcast(s_bart)).select(
        "b", "sxx", "n",
        (F.col("g0") + 2.0 * F.col("wsum")).alias("s_hac"),
        F.col("g0").alias("s_iid"),
    )
    se_ols = F.sqrt(F.col("s_iid") / (F.col("n") - 2.0)) / F.sqrt(
        F.col("sxx") * F.col("n")
    )
    se_hac = F.sqrt(F.col("s_hac")) / (F.col("sxx") * F.col("n"))
    return hac.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("b", 6).alias("slope"),
        F.round(se_ols, 6).alias("se_ols"),
        F.round(se_hac, 6).alias("se_hac"),
        F.round(se_hac / se_ols, 6).alias("hac_inflation"),
    )


_LB_LAGS = 6  # Ljung-Box portmanteau horizon


@query(
    "ts_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
               - 1 AS t
      FROM daily
    ), mom AS (
      SELECT event_type, COUNT(*) AS n, SUM(y) AS sy,
             SUM(y * y) AS syy
      FROM idx GROUP BY event_type
    ), lagprod AS (
      SELECT cl.event_type, cl.lag_l,
             SUM(cl.y * p.y) AS syl, COUNT(*) AS nl,
             SUM(cl.y) AS sc, SUM(p.y) AS sp
      FROM (SELECT i.event_type, i.t, i.y, s.lag_l
            FROM idx i,
                 UNNEST(generate_series(1, {_LB_LAGS})) s(lag_l)) cl
      JOIN idx p ON p.event_type = cl.event_type
                AND p.t = cl.t - cl.lag_l
      GROUP BY cl.event_type, cl.lag_l
    ), acf AS (
      -- r_l: lag-l autocovariance over the FULL-series variance, both
      -- from exact integer sums (the standard biased ACF estimator)
      SELECT lp.event_type, lp.lag_l,
             (CAST(lp.syl AS DOUBLE)
              - CAST(lp.sc AS DOUBLE) * lp.sp / lp.nl)
             / (CAST(m.syy AS DOUBLE)
                - CAST(m.sy AS DOUBLE) * m.sy / m.n) AS r,
             m.n AS n
      FROM lagprod lp JOIN mom m ON m.event_type = lp.event_type
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_lags,
           ROUND(CAST(CAST(SUM(CAST(n * (n + 2.0)
                                * r * r / (n - lag_l)
                                AS DECIMAL(28,12))) AS STRING) AS DOUBLE), 6)
             AS q_stat,
           ROUND(MAX(ABS(r)), 6) AS max_abs_acf
    FROM acf GROUP BY event_type
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU whiteness test — Q = n(n+2)·Σ r²_l/(n−l)
    over {_LB_LAGS} lags, the standard is-there-ANY-autocorrelation
    statistic (χ²_{_LB_LAGS} under whiteness; Q ≫ 12.6 rejects at
    5%): ts_runs_test checks sign patterns, ts_newey_west_se REPAIRS
    inference assuming autocorrelation exists — Ljung-Box is the
    gate that says whether it exists at all, per series, and is the
    residual-whiteness check every fitted forecast model
    (ts_forecast_baseline_wape) owes its users.

    Exactness: every autocovariance is a ratio built from exact
    integer sums (counts × counts), so each r_l is a deterministic
    double; the Q terms quantize through DECIMAL(28,12) before
    summation (order-independent), one final round.

    Scale: spine-bounded — daily agg, one {_LB_LAGS}-way lag fan-out
    self-join on the (series, day-index) key, series-bounded aggs."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type", "y", (F.row_number().over(w) - 1).alias("t")
    )
    mom = idx.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    fan = idx.select(
        "event_type", "t", F.col("y").alias("cy"),
        F.explode(F.sequence(F.lit(1), F.lit(_LB_LAGS))).alias("lag_l"),
    )
    p = idx.select(
        F.col("event_type").alias("pe"), F.col("t").alias("pt"),
        F.col("y").alias("py"),
    )
    lagprod = (
        fan.join(
            p,
            (F.col("pe") == F.col("event_type"))
            & (F.col("pt") == F.col("t") - F.col("lag_l")),
        )
        .groupBy("event_type", "lag_l")
        .agg(
            F.sum(F.col("cy") * F.col("py")).alias("syl"),
            F.count("*").alias("nl"),
            F.sum("cy").alias("sc"), F.sum("py").alias("sp"),
        )
    )
    r = (
        F.col("syl").cast("double")
        - F.col("sc").cast("double") * F.col("sp") / F.col("nl")
    ) / (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    )
    acf = lagprod.join(mom, "event_type").select(
        "event_type", "lag_l", r.alias("r"), "n"
    )
    qterm = (
        F.col("n") * (F.col("n") + 2.0)
        * F.col("r") * F.col("r") / (F.col("n") - F.col("lag_l"))
    ).cast("decimal(28,12)")
    return acf.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("n_lags"),
        F.round(F.sum(qterm).cast("double"), 6).alias("q_stat"),
        F.round(F.max(F.abs("r")), 6).alias("max_abs_acf"),
    )


# --- LTTB downsampling ----------------------------------------------------
LTTB_B = 20  # buckets per series


@query(
    "ts_downsample_lttb",
    oracle=f"""
    WITH p AS (
      SELECT event_type, event_id,
             epoch_us(ts) // 1000000 AS xs,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS ym
      FROM events),
    bnd AS (
      SELECT event_type, MIN(xs) AS mn, MAX(xs) AS mx
      FROM p GROUP BY event_type),
    pb AS MATERIALIZED (
      SELECT p.*, p.xs - bnd.mn AS xr,
             CAST((p.xs - bnd.mn) * {LTTB_B} // (bnd.mx - bnd.mn + 1)
                  AS BIGINT) AS bkt
      FROM p JOIN bnd USING (event_type)),
    cen AS MATERIALIZED (
      SELECT event_type, bkt, COUNT(*) AS n,
             SUM(xr) // COUNT(*) AS cx, SUM(ym) // COUNT(*) AS cy
      FROM pb GROUP BY event_type, bkt),
    nb AS (
      SELECT event_type, bkt, n,
             LAG(cx) OVER w AS px, LAG(cy) OVER w AS py,
             LEAD(cx) OVER w AS nx, LEAD(cy) OVER w AS ny
      FROM cen WINDOW w AS (PARTITION BY event_type ORDER BY bkt)),
    sc AS (
      SELECT pb.event_type, pb.bkt, pb.event_id, pb.xs, pb.ym, nb.n,
             CASE WHEN nb.px IS NULL OR nb.nx IS NULL THEN 0
                  ELSE ABS((nb.px - nb.nx) * (pb.ym - nb.py)
                         - (nb.px - pb.xr) * (nb.ny - nb.py)) END AS area2,
             CASE WHEN nb.px IS NULL AND nb.nx IS NOT NULL THEN 1
                  WHEN nb.nx IS NULL AND nb.px IS NOT NULL THEN 2
                  ELSE 0 END AS endp
      FROM pb JOIN nb USING (event_type, bkt))
    SELECT event_type, CAST(bkt AS BIGINT) AS bkt, event_id, xs, ym,
           CAST(n AS BIGINT) AS bucket_n, CAST(area2 AS BIGINT) AS area2
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type, bkt
               ORDER BY CASE WHEN endp = 0 THEN -area2 ELSE 0 END,
                        CASE WHEN endp = 2 THEN -xs ELSE xs END,
                        CASE WHEN endp = 2 THEN -event_id
                             ELSE event_id END) AS rn
      FROM sc)
    WHERE rn = 1
    """,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle downsampling, parallel fixed-anchor variant:
    each event_type series splits into {LTTB_B} equal-width time
    buckets, and every middle bucket keeps the point with the largest
    triangle area against the NEIGHBOR BUCKETS' centroids; the first
    bucket pins the series' first point and the last bucket its last
    (the LTTB endpoint rule).  Classic LTTB anchors each triangle on
    the previously SELECTED point — a sequential chain — so the
    distributed form substitutes the previous bucket's centroid (the
    LTOB/LTTB-parallel variant every streaming dashboard engine
    ships): every bucket then scores independently and the whole
    operator is one agg plus one bounded window.

    Scale: bucketing is map-side arithmetic between the broadcast
    per-series bounds; centroids are one (type, bucket) hash agg;
    the neighbor join touches {LTTB_B} rows per series; the per-bucket
    argmax is a hash-partitioned window.  Everything is exact BIGINT
    — centroid sums and area products run on RANGE-RELATIVE seconds
    (an exactly value-preserving rebase: floor((S - n*mn)/n) =
    floor(S/n) - mn, and every area term is a difference), so
    headroom holds to ~10^15 rows per bucket at a 10^9-second range
    and |value| <= 10^5 —
    and integer floor-division operands are nonnegative on both
    engines (DuckDB // floors, Spark DIV truncates; equal on
    nonnegatives)."""
    e = table(spark, sf_dir, "events")
    p = e.select(
        "event_type", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000")
        .alias("xs"),
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("ym"),
    )
    bnd = p.groupBy("event_type").agg(
        F.min("xs").alias("mn"), F.max("xs").alias("mx")
    )
    pb = p.join(F.broadcast(bnd), "event_type").select(
        "event_type", "event_id", "xs", "ym",
        (F.col("xs") - F.col("mn")).alias("xr"),
        F.expr(f"(xs - mn) * {LTTB_B} DIV (mx - mn + 1)").cast("long")
        .alias("bkt"),
    )
    cen = pb.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(xr) DIV COUNT(*)").alias("cx"),
        F.expr("SUM(ym) DIV COUNT(*)").alias("cy"),
    )
    wn = Window.partitionBy("event_type").orderBy("bkt")
    nb = cen.select(
        "event_type", "bkt", "n",
        F.lag("cx").over(wn).alias("px"), F.lag("cy").over(wn).alias("py"),
        F.lead("cx").over(wn).alias("nx"), F.lead("cy").over(wn).alias("ny"),
    )
    area2 = F.when(
        F.col("px").isNull() | F.col("nx").isNull(), F.lit(0)
    ).otherwise(
        F.abs(
            (F.col("px") - F.col("nx")) * (F.col("ym") - F.col("py"))
            - (F.col("px") - F.col("xr")) * (F.col("ny") - F.col("py"))
        )
    )
    endp = (
        F.when(F.col("px").isNull() & F.col("nx").isNotNull(), F.lit(1))
        .when(F.col("nx").isNull() & F.col("px").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
    )
    sc = pb.join(F.broadcast(nb), ["event_type", "bkt"]).select(
        "event_type", "bkt", "event_id", "xs", "xr", "ym", "n",
        area2.alias("area2"), endp.alias("endp"),
    )
    wp = Window.partitionBy("event_type", "bkt").orderBy(
        F.when(F.col("endp") == 0, -F.col("area2")).otherwise(F.lit(0)),
        F.when(F.col("endp") == 2, -F.col("xs")).otherwise(F.col("xs")),
        F.when(F.col("endp") == 2, -F.col("event_id"))
        .otherwise(F.col("event_id")),
    )
    return (
        sc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("bkt").cast("long").alias("bkt"),
            "event_id", "xs", "ym",
            F.col("n").cast("long").alias("bucket_n"),
            F.col("area2").cast("long").alias("area2"),
        )
    )


# --- token-bucket rate meter -------------------------------------------------
TBM_BURST_TOKENS = 5  # burst: exceed once backlog passes 5 tokens


@query(
    "ts_token_bucket_meter",
    oracle=f"""
    WITH b AS (
      SELECT event_type, COUNT(*) AS n_tot,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS t0,
             GREATEST(CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT),
                      1) AS span
      FROM events GROUP BY 1),
    s AS (
      SELECT e.event_type, e.ts, e.event_id, b.span,
             CAST(ROW_NUMBER() OVER (PARTITION BY e.event_type
                                     ORDER BY e.ts, e.event_id) AS BIGINT)
               * b.span
             - (CAST(epoch_us(e.ts) AS BIGINT) - b.t0) * b.n_tot AS sn
      FROM events e JOIN b ON b.event_type = e.event_type),
    q AS (
      SELECT event_type, span,
             sn - MIN(sn) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS backlog
      FROM s)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN backlog > {TBM_BURST_TOKENS} * span
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed,
           CAST(MAX(backlog // GREATEST(span // 1000, 1)) AS BIGINT)
             AS max_backlog_milli
    FROM q GROUP BY event_type, span
    """,
)
def ts_token_bucket_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET RATE METER in closed form — the rate-limiter state
    everyone writes as a sequential recursion (q_n = max(0, q_prev +
    cost - rate*dt)) computed instead via the LINDLEY IDENTITY:
    q_n = S_n - min_k<=n S_k, which turns the per-event feedback loop
    into a PREFIX MIN — an embarrassingly-window-parallel pass instead
    of a driver loop.  The drain rate CALIBRATES to each series' own
    long-run average (n_tot events over its span), making the meter a
    BURSTINESS detector that stays meaningful at every scale factor;
    multiplying the recursion through by span keeps everything exact
    BIGINT: S_n = n*span - (t_n - t0)*n_tot, backlog in span-units,
    burst threshold {TBM_BURST_TOKENS}*span, and the released peak
    normalized to milli-tokens by integer division.  Released per
    event_type: event count, events EXCEEDING the burst (the
    mark/throttle verdict), and the peak backlog.

    Semantics note (documented): this is the METER variant — the
    bucket drains continuously and every event is counted whether or
    not it was marked; an ADMISSION bucket whose rejected events
    consume nothing reintroduces feedback and lives in
    applyInPandasWithState (streaming/stateful.py
    stateful_token_bucket, twin-tested).  Scale: ONE exchange per
    series key (the sessionize/drawdown discipline); both the running
    S and its prefix min are O(1)-state window passes.  Envelope:
    n*span needs n_series * span_us < 2^63 — ~3.5e6 events/series at
    the 30-day synthetic span, past /tmp/sf10; the calibrated drift
    keeps realized backlog near sqrt(n)*span, far inside it."""
    e = table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.expr("CAST(unix_micros(CAST(MIN(ts) AS TIMESTAMP)) AS BIGINT)")
        .alias("t0"),
        F.expr("GREATEST(CAST(unix_micros(CAST(MAX(ts) AS TIMESTAMP))"
               " - unix_micros(CAST(MIN(ts) AS TIMESTAMP)) AS BIGINT), 1)")
        .alias("span"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = (
        e.join(F.broadcast(b), "event_type")
        .select(
            "event_type", "ts", "event_id", "span",
            (F.row_number().over(w).cast("long") * F.col("span")
             - (F.expr("unix_micros(CAST(ts AS TIMESTAMP))") - F.col("t0"))
             * F.col("n_tot")).alias("sn"),
        )
    )
    q = s.withColumn("backlog", F.col("sn") - F.min("sn").over(w))
    return q.groupBy("event_type", "span").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("backlog") > TBM_BURST_TOKENS * F.col("span"),
                     1).otherwise(0)).cast("long").alias("n_exceed"),
        F.max(F.expr("backlog DIV GREATEST(span DIV 1000, 1)")).cast("long")
        .alias("max_backlog_milli"),
    ).drop("span").select("event_type", "n_events", "n_exceed",
                          "max_backlog_milli")
