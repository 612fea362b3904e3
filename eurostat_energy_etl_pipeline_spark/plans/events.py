"""Event-stream analytics over the `events` table (batch semantics here;
the same aggregations run incrementally in streaming/ with watermarks).

These cover the time-series surface the reference lacks but a warehouse at
scale needs: tumbling-window rollups, sessionization, and an as-of join —
each written shuffle-minimal (single hash aggregate / single window pass).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eurostat_energy_etl_pipeline_spark.artifacts import session_table
from eurostat_energy_etl_pipeline_spark.catalog import load_tables
from eurostat_energy_etl_pipeline_spark.functions import (
    exact_sum,
    ordered_output,
    portable_round,
    presentation_sort,
)
from eurostat_energy_etl_pipeline_spark.plans import pin, query

SESSION_GAP_S = 1800.0  # 30-minute inactivity gap


@query(
    "q_events_tumbling",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS bucket_s,
           event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM events GROUP BY 1, 2 ORDER BY bucket_s, event_type
    """,
)
def events_tumbling(spark, sf_dir):
    """5-minute tumbling-window aggregate. `F.window` is epoch-aligned, as is
    DuckDB's time_bucket for sub-day intervals; buckets are emitted as epoch
    seconds so the hash never sees engine timestamp rendering."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum("value"), 4).alias("total"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_s"),
            "event_type",
            "n",
            "total",
        )
        .transform(presentation_sort, "bucket_s", "event_type")
    )


@query(
    "q_events_type_stats",
    oracle="""
    SELECT event_type, count(*) AS n,
           floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
             AS avg_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_type_stats(spark, sf_dir):
    """Per-type counts + exact mean value (P7/A2 on the stream table)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            portable_round(
                exact_sum("value") / F.count(F.lit(1)), 6
            ).alias("avg_value"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q_events_sessionize",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id, count(*) AS n_events,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
    FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap cut via lag + running sum — the standard
    one-window-pass shape (one shuffle on user_id, no self-join)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("double")
    prev = F.lag("ts").over(w).cast("double")
    marked = t["events"].withColumn(
        "new_session",
        F.when(prev.isNull() | (secs - prev > SESSION_GAP_S), 1).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.min("ts").cast("double")).cast("long").alias("start_s"),
            F.floor(F.max("ts").cast("double")).cast("long").alias("end_s"),
        )
        # r15: ordered_output — the bare orderBy's range sampler
        # re-executed the sessionizer window child per action (guide
        # §7.2); same rows, same total order ((user, session) unique).
        .transform(ordered_output, "user_id", "session_id")
    )


@query(
    "q_events_asof_join",
    oracle="""
    SELECT p.event_id,
           CAST(floor(epoch(l.ts)) AS BIGINT) AS signup_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') l
      ON p.user_id = l.user_id AND l.ts <= p.ts
    ORDER BY p.event_id
    """,
)
def events_asof_join(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent signup at
    or before it. Spark has no native ASOF JOIN; the scalable shape is the
    union-scan trick — tag both sides, one window pass with
    last(ignorenulls) over (user, ts) — a single shuffle on user_id instead
    of an exploding range join. DuckDB oracle uses its native ASOF JOIN."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("signup_ts"), F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("timestamp").alias("signup_ts"),
        F.lit(1).alias("kind"), "event_id",
    )
    # Within equal ts: signup (kind=0) sorts before purchase so `<=` matches.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = signups.unionByName(purchases).withColumn(
        "last_signup", F.last("signup_ts", ignorenulls=True).over(w)
    )
    return (
        merged.where(F.col("kind") == 1)
        .select(
            "event_id",
            F.floor(F.col("last_signup").cast("double")).cast("long").alias("signup_s"),
        )
        .orderBy("event_id")
    )


@query(
    "q_events_sliding",
    oracle="""
    WITH g AS (SELECT generate_series AS off_s
               FROM generate_series(0, 599, 300)),
    b AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 10 MINUTES, ts - to_seconds(off_s)))
                  + off_s AS BIGINT) AS win_start_s,
             value
      FROM events CROSS JOIN g
    )
    SELECT win_start_s, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM b GROUP BY win_start_s ORDER BY win_start_s
    """,
)
def events_sliding(spark, sf_dir):
    """10-minute windows sliding every 5 minutes (W-extension): Spark's
    native sliding `F.window` assigns each event to size/slide overlapping
    windows scan-side — one explode-free projection + one hash aggregate.
    The DuckDB oracle reconstructs the same window grid with an offset
    cross join (the textbook relational emulation); start epochs hash
    identically."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum("value"), 4).alias("total"),
        )
        .select(
            F.col("w.start").cast("long").alias("win_start_s"),
            "n",
            "total",
        )
        .transform(presentation_sort, "win_start_s")
    )


# Deterministic campaign windows for the range-join query: four week-long
# half-open [start, end) intervals over the fixture's January-2024 span,
# declared identically as Spark literals and oracle VALUES.
_CAMPAIGNS = [
    ("wk1", "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
    ("wk2", "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
    ("mid", "2024-01-10 12:00:00", "2024-01-20 12:00:00"),  # overlaps wk2
    ("wk4", "2024-01-22 00:00:00", "2024-01-29 00:00:00"),
]


@query(
    "q46_range_join",
    oracle="""
    WITH campaigns(campaign, start_ts, end_ts) AS (VALUES
      ('wk1', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
      ('wk2', TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-15 00:00:00'),
      ('mid', TIMESTAMP '2024-01-10 12:00:00', TIMESTAMP '2024-01-20 12:00:00'),
      ('wk4', TIMESTAMP '2024-01-22 00:00:00', TIMESTAMP '2024-01-29 00:00:00'))
    SELECT campaign, event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM events e JOIN campaigns c
      ON e.ts >= c.start_ts AND e.ts < c.end_ts
    GROUP BY campaign, event_type
    ORDER BY campaign, event_type
    """,
)
def events_range_join(spark, sf_dir):
    """Interval join: events attributed to overlapping campaign windows via
    the bucketed `range_join` operator (equi-join on a day-bucket key +
    exact containment filter) — a hash join that shuffles on an 8-byte key,
    where the naive `ON ts BETWEEN start AND end` plan is a nested-loop /
    cartesian at scale. Overlapping windows ('mid' vs 'wk2') double-attribute
    events by design, as campaign analytics requires."""
    from eurostat_energy_etl_pipeline_spark.operators.temporal import range_join

    t = load_tables(spark, sf_dir)
    import pandas as pd

    # pandas -> Arrow LocalTableScan: a plain-list createDataFrame slices
    # 4 rows across defaultParallelism python-RDD partitions, each costing
    # a Python-worker round-trip per execution (the q93 lesson).
    iv = spark.createDataFrame(
        pd.DataFrame(_CAMPAIGNS, columns=["campaign", "start_s", "end_s"])
    ).select(
        "campaign",
        F.to_timestamp("start_s").alias("start_ts"),
        F.to_timestamp("end_s").alias("end_ts"),
    )
    joined = range_join(
        t["events"], iv, ts_col="ts", start_col="start_ts", end_col="end_ts"
    )
    dec = F.col("value").cast("decimal(18,2)")
    return (
        joined.groupBy("campaign", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec).cast("double"), 4).alias("total"),
        )
        .transform(presentation_sort, "campaign", "event_type")
    )


@query(
    "q64_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase,
           floor(((SELECT count(*) FROM c) * 1e0 / (SELECT count(*) FROM v)) * 1e6 + 0.5) / 1e6
             AS click_rate,
           floor(((SELECT count(*) FROM p) * 1e0 / greatest((SELECT count(*) FROM c), 1)) * 1e6 + 0.5) / 1e6
             AS purchase_rate
    """,
)
def q64(spark, sf_dir):
    """Staged conversion funnel view -> click -> purchase: each stage's
    entry time is the user's FIRST qualifying event strictly after the
    previous stage (not a loose min-per-type ordering). Three hash
    aggregates all keyed by user_id — the stage joins reuse the same
    hash partitioning, so the chain costs one logical user-keyed shuffle
    lineage, and only (user_id, ts) pairs ever move. The final stage
    counts collapse to single rows cross-joined together (no data
    movement; each is a 1-row aggregate)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "event_type")

    def first_after(prev, etype, out):
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col("prev_ts"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("prev_ts"))
    )
    c = first_after(v, "click", "t1").withColumnRenamed("t1", "prev_ts")
    p = first_after(c, "purchase", "t2")
    n_v = v.agg(F.count(F.lit(1)).alias("n_view"))
    n_c = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    n_p = p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return (
        n_v.crossJoin(n_c)
        .crossJoin(n_p)
        .select(
            "n_view",
            "n_view_click",
            "n_view_click_purchase",
            portable_round(
                F.col("n_view_click") / F.col("n_view"), 6
            ).alias("click_rate"),
            portable_round(
                F.col("n_view_click_purchase")
                / F.greatest(F.col("n_view_click"), F.lit(1)),
                6,
            ).alias("purchase_rate"),
        )
    )


@query(
    "q65_retention",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_d
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id, s.cohort_d,
             CAST(floor(date_diff('day', s.cohort_d,
                  CAST(date_trunc('day', e.ts) AS DATE)) / 7.0) AS INT)
               AS week_offset
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.ts >= CAST(s.cohort_d AS TIMESTAMP)
    )
    SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort, week_offset,
           count(*) AS active_users
    FROM a GROUP BY cohort_d, week_offset ORDER BY cohort, week_offset
    """,
)
def q65(spark, sf_dir):
    """Weekly signup-cohort retention: users bucketed by the week of their
    first signup event, then counted distinct per (cohort, weeks-since-
    cohort) across ALL their activity. The cohort table is user-keyed and
    joins the event scan on user_id (same key as the signup aggregate —
    one shuffle lineage); the retention matrix is |weeks|^2 / 2 rows,
    dimension-bounded. The DuckDB oracle uses date_diff (its dialect);
    the Spark side computes the same integer week offset with datediff.
    The cohort is emitted as an ISO date STRING so both engines' client
    representations are identical (date columns round-trip differently:
    datetime.date objects vs datetime64)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "event_type")
    cohorts = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort"))
    )
    active = (
        ev.join(cohorts, "user_id")
        .where(F.col("ts") >= F.col("cohort").cast("timestamp"))
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.date_trunc("day", F.col("ts")).cast("date"), F.col("cohort"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "week_offset",
            "active_users",
        )
        .transform(presentation_sort, "cohort", "week_offset")
    )


@query(
    "q81_rolling_dau",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             count(DISTINCT user_id) AS dau,
             count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, dau, n_events,
           round(avg(dau) OVER (ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS dau_7d_avg,
           CAST(sum(n_events) OVER (ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS events_7d
    FROM daily ORDER BY day
    """,
)
def q81_rolling_dau(spark, sf_dir):
    """Daily active users with 7-day trailing smoothing — the canonical
    engagement rollup over an event firehose. Exact-distinct DAU is one
    hash aggregate keyed by day (user ids shuffle once, partially
    aggregated map-side); the trailing window then runs over ~days rows,
    a dimension-bounded frame that is trivially single-task no matter the
    event volume — at 100 TB the heavy lifting stays in the distinct
    aggregate, and the window input is O(days), not O(events). Day keys
    are emitted as strings so the hash never sees engine date rendering
    (same contract as the tumbling query's epoch seconds)."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.count_distinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        daily.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "n_events",
            F.round(F.avg("dau").over(w), 4).alias("dau_7d_avg"),
            F.sum("n_events").over(w).alias("events_7d"),
        )
        .transform(presentation_sort, "day")
    )


@query(
    "q85_median_bridge",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           1 AS approx_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q85_median_bridge(spark, sf_dir):
    """Exact vs sketch percentiles, self-certified (q41's pattern for
    quantiles): per event type, the exact interpolated median and p95
    (Spark `percentile` = DuckDB `quantile_cont`, hash-compared), plus an
    `approx_ok` flag asserting the mergeable sketch (`approx_percentile`,
    accuracy 10000) honors its RANK-error contract: the sketch promises a
    value whose rank is within 1/accuracy of the requested quantile (it
    returns an actual element, never an interpolation), so the certificate
    brackets it between the exact quantiles at q +/- 2 rank-percent rather
    than demanding value-space closeness (which small groups legitimately
    violate at interpolation points). Groups with n < 50 are guarded out
    of the bracket check: below that size 2 rank-percent spans less than
    one element, so a sketch can honor its rank contract yet sit outside
    the interpolated bracket — a scale-dependent false failure — while in
    that regime the sketch (accuracy 10000 >> n) holds every value and is
    exact anyway. The oracle pins the flag to 1, so the driver's hash
    check certifies the sketch contract, not just that it ran. At 100 TB
    the exact path is the expensive one (full sort per group); the
    certified sketch is what production dashboards serve."""
    t = load_tables(spark, sf_dir)
    # ONE percentile aggregate with the array form: six scalar
    # `percentile(...)` calls each maintain their own per-group value
    # buffer and sort it independently — the array form shares one
    # buffer and one sort for all six quantiles (same results, same
    # function). Ditto the two sketch probes.
    agg = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile(value, array(0.5D, 0.95D, 0.48D, 0.52D, 0.93D, 0.97D))"
        ).alias("px"),
        F.expr("approx_percentile(value, array(0.5D, 0.95D), 10000)").alias(
            "ax"
        ),
    )
    ok = (F.col("n") < 50) | (
        F.col("ax")[0].between(F.col("px")[2], F.col("px")[3])
        & F.col("ax")[1].between(F.col("px")[4], F.col("px")[5])
    )
    return (
        agg.select(
            "event_type",
            F.round(F.col("px")[0], 4).alias("median_value"),
            F.round(F.col("px")[1], 4).alias("p95_value"),
            F.when(ok, 1).otherwise(0).alias("approx_ok"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q90_trailing_burst",
    oracle="""
    WITH t AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                            RANGE BETWEEN 259200 PRECEDING AND CURRENT ROW)
               AS c3
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(c3) AS BIGINT) AS max_burst
    FROM t GROUP BY user_id ORDER BY user_id
    """,
)
def q90(spark, sf_dir):
    """Per-user 3-day trailing activity peak via a time-RANGE window frame
    (`rangeBetween` over epoch seconds — value-based, so the frame is
    '72 hours of events', not 'N rows'; sub-second timestamps are floored
    to whole seconds on BOTH engines so frame peers agree). The W-family
    capability the rows-frame queries (q12 rolling) don't exercise.
    Partitioned by user_id — the high-cardinality key, so at 100 TB each
    user's short event run sorts within one task and no linguistic/type
    hot key exists (contrast: partitioning this window by event_type
    would serialize a fifth of the firehose into one task)."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-259200, 0)
    )
    return (
        t["events"]
        .withColumn("c3", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("c3").alias("max_burst"),
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS bucket_s,
           event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM events GROUP BY 1, 2 ORDER BY bucket_s, event_type
    """,
)
def stream_tumbling(spark, sf_dir):
    """The tumbling rollup executed by STRUCTURED STREAMING under the
    driver's oracle gate (VERDICT r4 item 6): the static events table is
    drained through `streaming/events.tumbling_counts` (file source ->
    watermarked 5-minute window aggregate -> memory sink) with the
    production Trigger.AvailableNow shape, then the sink table is
    returned as the query result. The oracle is the SAME SQL as
    q_events_tumbling, so the driver's hash compare certifies that the
    incremental micro-batch execution produces bit-identical rows to the
    batch plan — counts AND the exact-decimal value totals (accumulation
    order cannot perturb a decimal sum). Complete output mode because an
    append-mode drain would hold back every window the final watermark
    has not passed; at production scale the same plan runs append with a
    live watermark and a kafka source, as streaming/events.py documents."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    sink = "q_stream_tumbling_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        tumbling_counts(read_events_stream(spark, sf_dir)),
        sink,
        "complete",
        available_now=True,
    )
    q.stop()
    return (
        spark.table(sink)
        .select("bucket_s", "event_type", "n", "total")
        .transform(presentation_sort, "bucket_s", "event_type")
    )


@query(
    "q_stream_sessionize",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) >= {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS INT) AS sid
      FROM marked
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
           CAST(floor(epoch(max(ts))) + {int(SESSION_GAP_S)} AS BIGINT)
             AS end_s,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid ORDER BY user_id, start_s
    """,
)
def stream_sessionize(spark, sf_dir):
    """Session windows executed by STRUCTURED STREAMING's built-in state
    merge (`session_window`, 30-min gap) under the driver's oracle gate —
    the stateful-operator counterpart of q_stream_tumbling's stateless
    rollup. The oracle is NOT the batch q_events_sessionize SQL, because
    `session_window` has its own contract the oracle encodes faithfully:
    an event exactly at gap distance starts a NEW session (windows are
    end-exclusive, so the cut is `>= gap` where the batch lag-cut is
    `> gap`), and a session's end is last-event + gap, not last-event.
    The hash compare therefore certifies Spark's streaming session-merge
    state machine against a relational gaps-and-islands derivation of
    those exact semantics. Complete output mode for the same
    drain-to-completion reason as q_stream_tumbling."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sessionize_stream,
    )

    sink = "q_stream_sessionize_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        sessionize_stream(read_events_stream(spark, sf_dir)),
        sink,
        "complete",
        available_now=True,
    )
    q.stop()
    return (
        spark.table(sink)
        .select("user_id", "start_s", "end_s", "n_events")
        .transform(presentation_sort, "user_id", "start_s")
    )


@query(
    "q101_state_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    transitions AS (
      SELECT user_id, ts, event_id, event_type
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    hist AS (
      SELECT user_id, event_type AS state,
             CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
             CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)))
                  AS BIGINT)
               AS valid_to_s
      FROM transitions
    )
    SELECT user_id, state, valid_from_s,
           coalesce(valid_to_s, -1) AS valid_to_s,
           CASE WHEN valid_to_s IS NULL THEN 1 ELSE 0 END AS is_current
    FROM hist ORDER BY user_id, valid_from_s, state, valid_to_s
    """,
)
def q101_state_history(spark, sf_dir):
    """Type-2 slowly-changing-dimension history built from an event
    stream (`valid_from`/`valid_to`/`is_current` rows per state run) —
    the temporal-table surface every warehouse needs for as-of
    semantics, and the q_events_asof_join's natural companion: an as-of
    probe against this table is an interval containment. Shape: one
    window pass partitioned by the high-cardinality user key detects
    state transitions (lag), a second pass closes each version with the
    next transition's timestamp (lead) — two window functions over ONE
    shuffle on user_id, no self-join, bounded rows per task. The open
    version's valid_to is the -1 sentinel (nulls render differently
    across engines), with is_current flagging it. At 100 TB this is the
    standard CDC-to-SCD2 compaction run per partition of the change
    log."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = t["events"].withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    transitions = ordered.where(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    # event_id tiebreak: two transitions for one user at the same ts
    # (possible in principle, like the sessionize queries) would otherwise
    # make valid_to_s partition-order-dependent on both engines.
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = transitions.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.floor(F.col("ts").cast("double")).cast("long").alias("valid_from_s"),
        F.floor(F.lead(F.col("ts").cast("double")).over(w2))
        .cast("long")
        .alias("valid_to_s"),
    )
    return hist.select(
        "user_id",
        "state",
        "valid_from_s",
        F.coalesce("valid_to_s", F.lit(-1)).alias("valid_to_s"),
        F.col("valid_to_s").isNull().cast("int").alias("is_current"),
        # (state, valid_to_s) tiebreaks: two same-user transitions CAN share
        # a ts (r6 advice) — the driver hash row-sorts so this is
        # presentation-only, but the declared ORDER BY should still be as
        # total as the output schema allows, and it matches the oracle's.
    ).orderBy("user_id", "valid_from_s", "state", "valid_to_s")


@query(
    "q103_drift_psi",
    oracle="""
    WITH bounds AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
      FROM events
    ),
    tagged AS (
      SELECT e.event_type, e.value,
             CASE WHEN CAST(floor(epoch(e.ts)) AS BIGINT) * 2
                       < bounds.t0 + bounds.t1
                  THEN 0 ELSE 1 END AS half
      FROM events e CROSS JOIN bounds
    ),
    edges AS (
      SELECT event_type,
             list_transform(
               quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]),
               x -> floor(x * 1e6 + 0.5) / 1e6) AS e
      FROM tagged WHERE half = 0 GROUP BY event_type
    ),
    bucketed AS (
      SELECT t.event_type, t.half,
             CAST(len(list_filter(edges.e, x -> t.value > x)) AS INT)
               AS bucket
      FROM tagged t JOIN edges USING (event_type)
    ),
    counts AS (
      SELECT event_type, bucket,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_base,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_cur
      FROM bucketed GROUP BY event_type, bucket
    ),
    tot AS (
      SELECT event_type, sum(n_base) AS tb, sum(n_cur) AS tc
      FROM counts GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type,
             (greatest(c.n_cur / t.tc, 0.000001)
              - greatest(c.n_base / t.tb, 0.000001))
             * ln(greatest(c.n_cur / t.tc, 0.000001)
                  / greatest(c.n_base / t.tb, 0.000001)) AS term,
             c.n_base, c.n_cur
      FROM counts c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           round(sum(term), 4) AS psi,
           CAST(sum(n_base) AS BIGINT) AS n_base,
           CAST(sum(n_cur) AS BIGINT) AS n_cur,
           CASE WHEN round(sum(term), 4) > 0.1 THEN 1 ELSE 0 END AS drifted
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def q103_drift_psi(spark, sf_dir):
    """Population-stability-index drift monitor — the production
    data-quality check every feature/ingest pipeline schedules: per
    event type, split the stream at its time midpoint, bucket CURRENT
    values into the BASELINE half's deciles, and report
    PSI = sum((q-p) * ln(q/p)) with the standard >0.1 drift flag.
    Shape: one tiny bounds aggregate broadcast back (1 row), the decile
    edges per type from ONE array-form percentile aggregate (the q85
    buffer-sharing lesson) broadcast to the scan, bucket assignment as
    a gridded array comparison (no join explosion — edges are 9 doubles
    per type), then two map-side-combined aggregates. Proportions are
    exact count ratios; edges grid to 1e-6 BEFORE bucketing and PSI
    rounds to 1e-4, the q82 log-arithmetic tolerance class. Zero-count
    current buckets smooth at 1e-6 (the PSI convention) so the log is
    finite on both engines."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    bounds = ev.agg(
        F.floor(F.min(F.col("ts").cast("double"))).cast("long").alias("t0"),
        F.floor(F.max(F.col("ts").cast("double"))).cast("long").alias("t1"),
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "value",
        F.when(
            F.floor(F.col("ts").cast("double")).cast("long") * 2
            < F.col("t0") + F.col("t1"),
            0,
        )
        .otherwise(1)
        .alias("half"),
    )
    edges = (
        tagged.where(F.col("half") == 0)
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform("
                "percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,"
                "0.6D,0.7D,0.8D,0.9D)), "
                "x -> floor(x * 1e6 + 0.5) / 1e6)"
            ).alias("e")
        )
    )
    # Degenerate-input guard (r7 advice): an event_type whose baseline
    # values are all NULL yields NULL percentile edges; Spark's
    # size(filter(NULL, ...)) is -1 where DuckDB's len(list_filter(NULL))
    # is NULL — DuckDB keeps those rows as one extra (NULL-bucket) group
    # in its totals, so route them to sentinel bucket 10 here and give
    # the pivot an 11-wide domain. With non-null edges the sentinel
    # column is all-zero and contributes exactly 0 to the PSI fold.
    bucketed = tagged.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "half",
        F.when(F.col("e").isNull(), F.lit(10))
        .otherwise(F.size(F.filter(F.col("e"), lambda x: F.col("value") > x)))
        .cast("int")
        .alias("bucket"),
    )
    # ONE aggregate from the bucketed stream to the answer (r7): the
    # bucket domain is the fixed 0..9 decile grid, so the per-bucket
    # base/current counts pivot into 20 conditional sums keyed by
    # event_type alone, and the PSI fold over buckets is column
    # arithmetic on that single row — the former counts -> tot ->
    # terms -> final chain (two more exchanges plus a broadcast of
    # the totals) collapses into map-side-combined partial aggregation.
    # Empty buckets contribute exactly 0 (both proportions floor to the
    # 1e-6 smoothing constant, ln(1) = 0), matching the oracle's
    # missing-row semantics bit-for-bit.
    kb = [
        F.sum(
            F.when((F.col("half") == 0) & (F.col("bucket") == b), 1).otherwise(0)
        )
        .cast("double")
        .alias(f"_b{b}")
        for b in range(11)
    ]
    kc = [
        F.sum(
            F.when((F.col("half") == 1) & (F.col("bucket") == b), 1).otherwise(0)
        )
        .cast("double")
        .alias(f"_c{b}")
        for b in range(11)
    ]
    agg = bucketed.groupBy("event_type").agg(*kb, *kc)
    tb = sum((F.col(f"_b{b}") for b in range(1, 11)), F.col("_b0"))
    tc = sum((F.col(f"_c{b}") for b in range(1, 11)), F.col("_c0"))

    def _term(b: int):
        p = F.greatest(F.col(f"_b{b}") / F.col("_tb"), F.lit(1e-6))
        q = F.greatest(F.col(f"_c{b}") / F.col("_tc"), F.lit(1e-6))
        return (q - p) * F.log(q / p)

    agg = agg.withColumn("_tb", tb).withColumn("_tc", tc)
    psi = F.round(sum((_term(b) for b in range(1, 11)), _term(0)), 4)
    return (
        agg.select(
            "event_type",
            psi.alias("psi"),
            F.col("_tb").cast("long").alias("n_base"),
            F.col("_tc").cast("long").alias("n_cur"),
            F.when(psi > 0.1, 1).otherwise(0).alias("drifted"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q106_pit_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    transitions AS (
      SELECT user_id, ts, event_id, event_type AS state
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    merged AS (
      SELECT user_id, ts, 1 AS kind, event_id, state,
             CAST(NULL AS BIGINT) AS pid
      FROM transitions
      UNION ALL
      SELECT user_id, ts, 0 AS kind, event_id, CAST(NULL AS STRING), event_id
      FROM events WHERE event_type = 'purchase'
    ),
    tagged AS (
      SELECT user_id, pid, state,
             count(state) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM merged
    ),
    filled AS (
      SELECT user_id, pid,
             max(state) OVER (PARTITION BY user_id, grp) AS prior_state
      FROM tagged
    )
    SELECT coalesce(prior_state, '(none)') AS prior_state,
           count(*) AS n_purchases,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM filled WHERE pid IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def q106_pit_attribution(spark, sf_dir):
    """Point-in-time attribution against the q101 SCD2 state stream: for
    every purchase, the state the user was in STRICTLY BEFORE the
    purchase's own timestamp (the purchase event is itself a transition
    at that instant, so an as-of-or-equal lookup would always
    self-attribute). This is the production "what was the customer doing
    when they converted" join, and the strict variant of q_events_asof's
    union-scan trick: transitions and purchase probes are tagged into ONE
    user-keyed stream ordered by (ts, kind, event_id) with probes
    sorting BEFORE same-instant transitions, so one window pass with
    last(state, ignorenulls) resolves every probe against exactly the
    transitions with ts' < ts — no range join, no per-probe subquery,
    O(|stream|) state per user partition. Same-(user, ts) transition
    ties resolve by event_id on both engines (the q101 r6 lesson).
    Shape: one lag window + one merged window, both keyed by the
    high-cardinality user_id — two shuffles total, AQE skew-split-able."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            "event_id",
            F.col("event_type").alias("state"),
            F.lit(None).cast("long").alias("pid"),
        )
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.col("event_id").alias("pid"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = transitions.unionByName(probes).withColumn(
        "prior_state", F.last("state", ignorenulls=True).over(w2)
    )
    return (
        tagged.where(F.col("pid").isNotNull())
        .groupBy(
            F.coalesce("prior_state", F.lit("(none)")).alias("prior_state")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .transform(presentation_sort, "prior_state")
    )


@query(
    "q_stream_dedup",
    oracle="""
    WITH d AS (SELECT DISTINCT event_type, value, props, ts FROM events)
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM d GROUP BY event_type ORDER BY event_type
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming exact deduplication under the driver's oracle gate: the
    event stream is DOUBLED in-flight (explode of a 2-element array — a
    deliberate duplication fault injected inside the same micro-batch, so
    the dedup operator provably fires on every row rather than passing a
    dup-free fixture through), drained through
    `streaming/events.dedup_stream` (watermarked dropDuplicates on an
    8-byte xxhash64 content key + event time), and the surviving rows
    roll up per type. The oracle is the batch DISTINCT over the payload
    columns, so the hash compare certifies that streaming state dedup
    emits exactly one survivor per distinct (payload, ts) — counts AND
    the exact-decimal value totals. Append output mode: dropDuplicates
    emits on first sight (no watermark hold-back), the production shape
    for an ingest firehose where state holds only content keys inside
    the lateness horizon and is GC'd beyond it."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
        run_to_memory,
    )

    doubled = (
        read_events_stream(spark, sf_dir)
        .withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("_copy")
    )
    sink = "q_stream_dedup_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(dedup_stream(doubled), sink, "append", available_now=True)
    q.stop()
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum("value"), 4).alias("total"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q_stream_running_totals",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS DOUBLE)
             / 1e2 AS total
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q_stream_running_totals(spark, sf_dir):
    """CUSTOM stateful streaming operator under the driver's oracle gate:
    per-user running count/sum via applyInPandasWithState
    (streaming/events.user_running_totals) — the bespoke-state surface
    (Python state object, update output mode, GroupStateTimeout) that
    built-in windowed aggregates can't express, drained with
    Trigger.AvailableNow and reduced to each user's LAST emitted update
    (max_by over the monotone event count). State accumulates exact
    integer CENTS, not a float sum — row order inside a stateful group is
    not guaranteed, and the oracle compare is exact, so the operator's
    state design itself carries the determinism. The batch oracle is the
    plain per-user aggregate; matching hashes certify that custom state
    saw every event exactly once and emitted a faithful final update."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        user_running_totals,
    )

    sink = "q_stream_totals_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        user_running_totals(read_events_stream(spark, sf_dir)),
        sink,
        "update",
        available_now=True,
    )
    q.stop()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n"),
            F.max_by("cents", "n").alias("cents"),
        )
        .select(
            "user_id",
            "n",
            (F.col("cents").cast("double") / 1e2).alias("total"),
        )
        .transform(presentation_sort, "user_id")
    )


@query(
    "q_stream_attribution",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_attributions,
           CAST(count(DISTINCT t.event_id) AS BIGINT) AS n_triggers,
           CAST(count(DISTINCT o.event_id) AS BIGINT) AS n_outcomes,
           CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(o.value AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS attributed_value
    FROM events t JOIN events o
      ON t.user_id = o.user_id
     AND t.event_type = 'click' AND o.event_type = 'purchase'
     AND o.ts >= t.ts AND o.ts <= t.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_attribution(spark, sf_dir):
    """STREAM-STREAM join under the driver's oracle gate — the hardest
    Structured Streaming shape the library exercises: click and purchase
    streams (both watermarked) joined per user with an event-time range
    bound (`streaming/events.attribution_join`), so Spark can GC buffered
    state beyond watermark + horizon; without the range condition the
    join state would grow forever. Drained with Trigger.AvailableNow and
    reduced to the attribution summary (pair/trigger/outcome/user counts
    plus exact-decimal attributed value). The batch oracle is the plain
    time-bounded self-join, so matching hashes certify the streaming
    join buffered, matched, and emitted every qualifying pair exactly
    once. Pair-grain equality is additionally pinned in
    tests/test_streaming.py::test_attribution_join_matches_batch."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        attribution_join,
        read_events_stream,
        run_to_memory,
    )

    sink = "q_stream_attrib_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        attribution_join(read_events_stream(spark, sf_dir)),
        sink,
        "append",
        available_now=True,
    )
    q.stop()
    return spark.table(sink).agg(
        F.count(F.lit(1)).alias("n_attributions"),
        F.count_distinct("trigger_id").cast("long").alias("n_triggers"),
        F.count_distinct("outcome_id").cast("long").alias("n_outcomes"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.round(exact_sum("outcome_value"), 4).alias("attributed_value"),
    )


@query(
    "q118_path_mining",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def q118_path_mining(spark, sf_dir):
    """Session PATH mining — the product-analytics shape on top of
    sessionization: each session's ordered event-type sequence becomes a
    path string, and the top-10 paths by frequency fall out of one more
    aggregate. The session cut reuses q_events_sessionize's
    lag + running-sum window (one user-keyed shuffle); the path is built
    row-side — sort_array over collected (ts, event_id, type) structs,
    then a transform + array_join, so ordering is total and
    deterministic without a second window — and the top-10 plans as
    TakeOrderedAndProject (no global sort). The oracle builds the same
    paths with DuckDB's ordered string_agg."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("double")
    prev = F.lag("ts").over(w).cast("double")
    marked = t["events"].withColumn(
        "new_session",
        F.when(prev.isNull() | (secs - prev > SESSION_GAP_S), 1).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@query(
    "q124_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    s AS (SELECT event_type, gap_us, gap_us / 1e6 AS gap
          FROM g WHERE gap_us IS NOT NULL)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           floor(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5)
             / 1e6 AS mean_gap_s,
           floor(quantile_cont(gap, 0.5) * 1e6 + 0.5) / 1e6 AS median_gap_s,
           floor(quantile_cont(gap, 0.9) * 1e6 + 0.5) / 1e6 AS p90_gap_s
    FROM s GROUP BY event_type ORDER BY event_type
    """,
)
def q124_interarrival_stats(spark, sf_dir):
    """Per-type inter-arrival statistics — the traffic-model / burst-
    detection primitive (rate-limit tuning, bot screening, capacity
    planning): the gap in seconds between each user's consecutive
    events, attributed to the LATER event's type, with exact mean /
    median / p90 per type.

    Scale shape: ONE user-keyed shuffle for the lag window (the q101
    contract — users are independent, so the window parallelizes per
    user), then a type-keyed aggregate of type-bounded rows. Gaps are
    exact integer microsecond differences; the mean divides the exact
    bigint sum once (order-independent), and the quantiles use the
    Spark percentile = DuckDB quantile_cont interpolation parity
    established by q_events_type_stats."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    gap = F.col("gap_us").cast("double") / F.lit(1e6)
    pct = F.expr("percentile(gap_us / 1e6, array(0.5D, 0.9D))")
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            (
                F.floor(
                    F.sum("gap_us").cast("double")
                    / F.count(F.lit(1))
                    / 1e6
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("mean_gap_s"),
            pct.alias("_pct"),
        )
        .select(
            "event_type",
            "n_gaps",
            "mean_gap_s",
            (F.floor(F.col("_pct")[0] * 1e6 + 0.5) / 1e6).alias(
                "median_gap_s"
            ),
            (F.floor(F.col("_pct")[1] * 1e6 + 0.5) / 1e6).alias("p90_gap_s"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q_stream_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY segment, event_type
    """,
)
def stream_enrich(spark, sf_dir):
    """Stream-static ENRICHMENT under the driver's oracle gate — the
    dimension-lookup pattern every production stream runs before its
    aggregates: each micro-batch broadcast-joins the (bounded) customer
    dimension, so the stream never shuffles for the lookup and the dim
    is re-planned per batch (picking up slowly-changing updates for
    free). Downstream, a per-(segment, type) streaming aggregate with
    exact-decimal totals drains through Trigger.AvailableNow into a
    memory sink (the q_stream_tumbling contract).

    The oracle is the equivalent batch join+rollup, so the driver hash
    certifies that incremental micro-batch execution of join+aggregate
    is bit-identical to the batch plan — the inner join also certifies
    the broadcast lookup drops unmatched users exactly like the batch
    join (events carry user_ids the dim lacks at other SFs only if the
    generator changes; the join semantics, not the fixture, are the
    contract)."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        enrich_stream,
        read_events_stream,
        run_to_memory,
    )

    dim = (
        load_tables(spark, sf_dir)["customer"]
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    # INNER join, matching the oracle exactly: a matched customer whose
    # c_mktsegment is NULL belongs in the NULL-segment group, which the
    # old left-join + segment-isNotNull filter would have dropped
    # (r9 ADVICE).
    enriched = enrich_stream(
        read_events_stream(spark, sf_dir), dim, on="user_id", how="inner"
    )
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
        ).alias("total"),
    )
    sink = "q_stream_enrich_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(agg, sink, "complete", available_now=True)
    q.stop()
    return (
        spark.table(sink)
        .select("segment", "event_type", "n", "total")
        .transform(presentation_sort, "segment", "event_type")
    )


@query(
    "q129_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, med.m, abs(e.value - med.m) AS ad
      FROM events e JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           floor(max(d.m) * 1e6 + 0.5) / 1e6 AS median_value,
           floor(max(mad.mad) * 1e6 + 0.5) / 1e6 AS mad,
           CAST(sum(CASE WHEN d.ad > 3.0 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def q129_mad_outliers(spark, sf_dir):
    """Robust outlier screen — median absolute deviation per event type,
    the breakdown-resistant complement of q77's z-score scan (a mean/std
    screen is itself dragged by the outliers it hunts; MAD has a 50%
    breakdown point). Flags values beyond the standard 3-sigma-equivalent
    fence (3 x 1.4826 x MAD).

    Scale shape: two array-free percentile aggregates over type-keyed
    rows (the q_events_type_stats exact-percentile contract) with the
    type-grain median/MAD tables BROADCAST back to the stream — the
    events are shuffled once per aggregate on the type key and never
    sorted globally. Both medians and the fence compare are identical
    IEEE expressions on both engines."""
    events = load_tables(spark, sf_dir)["events"]
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("m")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "m",
        F.abs(F.col("value") - F.col("m")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5D)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.floor(F.max("m") * 1e6 + 0.5) / 1e6).alias("median_value"),
            (F.floor(F.max("mad") * 1e6 + 0.5) / 1e6).alias("mad"),
            F.sum(
                F.when(
                    F.col("ad") > 3.0 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH g AS (SELECT generate_series AS off_s
               FROM generate_series(0, 599, 300)),
    b AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 10 MINUTES, ts - to_seconds(off_s)))
                  + off_s AS BIGINT) AS win_start_s,
             value
      FROM events CROSS JOIN g
    )
    SELECT win_start_s, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM b GROUP BY win_start_s ORDER BY win_start_s
    """,
)
def stream_sliding(spark, sf_dir):
    """SLIDING windows executed by Structured Streaming under the oracle
    gate — the overlapping-window stateful aggregate q_stream_tumbling's
    non-overlapping rollup doesn't exercise (each event updates
    size/slide = 2 window states, so the state store handles concurrent
    window generations). 10-minute windows sliding every 5, watermarked,
    drained via Trigger.AvailableNow into a memory sink; the oracle is
    q_events_sliding's offset-grid SQL, so the hash compare certifies
    the incremental multi-window state updates are bit-identical to the
    batch plan (exact-decimal totals — accumulation order cannot perturb
    them). Complete output mode for the drain-to-completion reason
    documented at q_stream_tumbling."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
    )

    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum("value"), 4).alias("total"),
        )
        .select(
            F.col("w.start").cast("long").alias("win_start_s"), "n", "total"
        )
    )
    sink = "q_stream_sliding_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(agg, sink, "complete", available_now=True)
    q.stop()
    return (
        spark.table(sink)
        .select("win_start_s", "n", "total")
        .transform(presentation_sort, "win_start_s")
    )


@query(
    "q134_twap",
    oracle="""
    WITH g AS (
      SELECT event_type, value,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS hold_us
      FROM events
    ),
    h AS (SELECT event_type,
                 CAST(value AS DECIMAL(10,2))
                   * CAST(hold_us AS DECIMAL(16,0)) AS vw,
                 hold_us
          FROM g WHERE hold_us IS NOT NULL)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_holds,
           floor(CAST(sum(hold_us) AS DOUBLE) / 1e6 * 1e2 + 0.5) / 1e2
             AS total_hold_s,
           floor(CAST(sum(vw) AS DOUBLE)
                 / CAST(sum(hold_us) AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS twap
    FROM h GROUP BY event_type ORDER BY event_type
    """,
)
def q134_twap(spark, sf_dir):
    """Time-weighted average value (TWAP) per event type — the
    metrics/financial aggregation where a value HOLDS until the user's
    next event: each event's value is weighted by its holding duration
    (lead(ts) - ts within the user's stream) and attributed to the
    holding event's type. The plain mean over-weights chatty bursts;
    TWAP is what monitoring rollups and fair-price benchmarks actually
    want.

    Scale shape: ONE user-keyed lead window (the q124 contract), then a
    type-keyed aggregate. Holding times are exact integer microseconds
    and values carry two decimals, so value x duration folds as the
    EXACT DECIMAL(27,2) product sum (order-independent; a 1e-6 double
    grid would sit below the ulp at this magnitude — the q74-class
    decimal-cast divergence), with one double division at the end —
    identical IEEE ops on both engines."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        "value",
        (
            F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("hold_us"),
    ).where(F.col("hold_us").isNotNull())
    # value x duration products are ~1e11, where a 1e-6 double grid sits
    # BELOW the ulp — floor-gridding there leaves raw doubles whose
    # decimal cast rounds differently per engine (shortest-repr vs
    # binary). The 2dp value and integer micros are both exact decimals,
    # so the product is computed EXACTLY as DECIMAL(27,2) instead.
    vw = F.col("value").cast("decimal(10,2)") * F.col("hold_us").cast(
        "decimal(16,0)"
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_holds"),
            (
                F.floor(F.sum("hold_us").cast("double") / 1e6 * 1e2 + 0.5)
                / 1e2
            ).alias("total_hold_s"),
            (
                F.floor(
                    F.sum(vw).cast("double")
                    / F.sum("hold_us").cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("twap"),
        )
        .transform(presentation_sort, "event_type")
    )


_SCMS_D = 4
_SCMS_W = 256


def _stream_cms_oracle_sql() -> str:
    rows = "\n      UNION ALL\n      ".join(
        f"SELECT {i} AS i, "
        f"(('0x' || substr(md5(CAST(user_id AS STRING) || '#{i}'), 1, 15))"
        f"::BIGINT % {_SCMS_W}) AS b FROM events"
        for i in range(_SCMS_D)
    )
    return f"""
    WITH cells AS (
      {rows}
    )
    SELECT CAST(i AS INT) AS i, CAST(b AS INT) AS b,
           CAST(count(*) AS BIGINT) AS c
    FROM cells GROUP BY i, b ORDER BY i, b
    """


@query("q_stream_cms", oracle=_stream_cms_oracle_sql())
def stream_cms(spark, sf_dir):
    """Count-min sketch maintained BY THE STREAM — q113's d=4 x w=256
    frequency grid (here over user ids) as an incremental streaming
    aggregate: each micro-batch folds its events into the 1024-cell
    state and the drained grid must be cell-for-cell identical to the
    batch-computed sketch. This is the monitoring deployment of the
    sketch family — per-shard sketches on live streams, merged by
    cell-wise add — and the certification covers exactly the property
    that matters: incremental maintenance commutes with the batch fold.
    Salted 60-bit md5-prefix buckets (the q113 grid) keep every cell
    engine-portable; integer counts make accumulation order
    unobservable. Complete output mode for the q_stream_tumbling
    drain-to-completion reason."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
    )

    def bucket(col, i):
        h = F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f"#{i}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(_SCMS_W))

    ev = read_events_stream(spark, sf_dir)
    cells = ev.select(
        F.posexplode(
            F.array(
                *[bucket(F.col("user_id"), i) for i in range(_SCMS_D)]
            )
        ).alias("i", "b")
    )
    grid = cells.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))
    sink = "q_stream_cms_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(grid, sink, "complete", available_now=True)
    q.stop()
    return (
        spark.table(sink)
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("b").cast("int").alias("b"),
            F.col("c").cast("long").alias("c"),
        )
        .transform(presentation_sort, "i", "b")
    )


@query(
    "q140_chi_square",
    oracle="""
    WITH j AS (
      SELECT e.event_type, c.c_mktsegment AS segment
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ),
    o AS (SELECT event_type, segment, CAST(count(*) AS DOUBLE) AS obs
          FROM j GROUP BY event_type, segment),
    rt AS (SELECT event_type, sum(obs) AS r FROM o GROUP BY event_type),
    ct AS (SELECT segment, sum(obs) AS c FROM o GROUP BY segment),
    n AS (SELECT sum(obs) AS n FROM o),
    cell AS (
      SELECT o.event_type, o.segment,
             floor((o.obs - rt.r * ct.c / n.n)
                   * (o.obs - rt.r * ct.c / n.n)
                   / (rt.r * ct.c / n.n) * 1e9 + 0.5) / 1e9 AS term
      FROM o JOIN rt USING (event_type) JOIN ct USING (segment)
      CROSS JOIN n
    )
    SELECT CAST((SELECT count(*) FROM rt) AS INT) AS n_rows,
           CAST((SELECT count(*) FROM ct) AS INT) AS n_cols,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS INT) AS dof,
           floor(CAST(sum(CAST(term AS DECIMAL(25,9))) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS chi2
    FROM cell
    """,
)
def q140_chi_square(spark, sf_dir):
    """Chi-square test of independence — event type vs customer market
    segment: the contingency-table statistic that answers "does behavior
    differ by segment" (the categorical sibling of q130's KS and q103's
    PSI). Reports the table shape, degrees of freedom, and the chi^2
    sum over (obs - exp)^2 / exp.

    Scale shape: the fact stream reduces to CELL grain first (one
    (type, segment)-keyed aggregate after the broadcast dimension
    lookup — cells are category-bounded, never data-bounded); marginals
    fold out of the cell table and broadcast back; per-cell terms grid
    to 1e-9 and decimal-fold so the cell-order of the final sum is
    unobservable. Everything after the first aggregate moves
    O(#cells) rows."""
    t = load_tables(spark, sf_dir)
    j = t["events"].join(
        F.broadcast(
            t["customer"].select(
                F.col("c_custkey").alias("user_id"),
                F.col("c_mktsegment").alias("segment"),
            )
        ),
        "user_id",
    )
    o = (
        j.groupBy("event_type", "segment")
        .agg(F.count(F.lit(1)).cast("double").alias("obs"))
        .transform(pin)  # shared by row/col/grand totals + the chi2 join
    )
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("segment").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("n"))
    exp = F.col("r") * F.col("c") / F.col("n")
    term = (
        F.floor(
            (F.col("obs") - exp) * (F.col("obs") - exp) / exp * 1e9 + 0.5
        )
        / 1e9
    )
    nr = rt.agg(F.count(F.lit(1)).alias("nr"))
    nc = ct.agg(F.count(F.lit(1)).alias("nc"))
    return (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "segment")
        .crossJoin(F.broadcast(n))
        .select(term.alias("term"))
        .agg(
            F.sum(F.col("term").cast("decimal(25,9)"))
            .cast("double")
            .alias("_chi2")
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("nr").cast("int").alias("n_rows"),
            F.col("nc").cast("int").alias("n_cols"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"),
            (F.floor(F.col("_chi2") * 1e6 + 0.5) / 1e6).alias("chi2"),
        )
    )


@query(
    "q142_locf_gap_fill",
    oracle="""
    WITH span AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events
    ),
    spine AS (
      SELECT t.event_type, CAST(unnest(generate_series(s.d0, s.d1,
                                       INTERVAL 1 DAY)) AS DATE) AS d
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN span s
    ),
    obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d, max(value) AS v
      FROM events WHERE value >= 250 GROUP BY 1, 2
    ),
    filled AS (
      SELECT sp.event_type, sp.d,
             CASE WHEN o.d IS NULL THEN 0 ELSE 1 END AS observed,
             last_value(o.v IGNORE NULLS) OVER (
               PARTITION BY sp.event_type ORDER BY sp.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
             last_value(o.d IGNORE NULLS) OVER (
               PARTITION BY sp.event_type ORDER BY sp.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS od
      FROM spine sp LEFT JOIN obs o
        ON sp.event_type = o.event_type AND sp.d = o.d
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, observed,
           floor(fv * 1e4 + 0.5) / 1e4 AS filled_value,
           CAST(d - od AS BIGINT) AS gap_age_days
    FROM filled WHERE fv IS NOT NULL
    ORDER BY event_type, day
    """,
)
def q142(spark, sf_dir):
    """Calendar-spine GAP FILL with last-observation-carried-forward —
    the time-series resampling primitive (sensor rollups, slowly-updated
    reference prices, sparse metric streams): build the full
    (event_type x day) spine from the table's own date span, left-join
    the sparse observations (here: daily max of value >= 250 — a
    deterministically sparse slice at every SF), and carry the last
    observed value forward per series, reporting the fill's age so
    consumers can bound staleness. Rows before a series' first
    observation are dropped (LOCF has nothing to carry).

    Scale shape: the spine is |types| x |days| (domain-bounded — tiny
    relative to the event stream); the observation side reduces to the
    same day grain BEFORE the join, so the only O(events) work is one
    map-side-combined aggregate. The LOCF window runs over the
    domain-bounded spine, partitioned per series. Day keys ship as
    strings (the q_dash_dau contract); values grid at 1e-4."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"),
    )
    obs = (
        ev.where(F.col("value") >= 250)
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.max("value").alias("v"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        spine.join(F.broadcast(obs), ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.col("v").isNotNull().cast("int").alias("observed"),
            F.last("v", ignorenulls=True).over(w).alias("fv"),
            F.last(
                F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True
            )
            .over(w)
            .alias("od"),
        )
    )
    return (
        filled.where(F.col("fv").isNotNull())
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "observed",
            (F.floor(F.col("fv") * 1e4 + 0.5) / 1e4).alias("filled_value"),
            F.datediff("d", "od").cast("long").alias("gap_age_days"),
        )
        .transform(presentation_sort, "event_type", "day")
    )


@query(
    "q143_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, count(*) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    r AS (SELECT src, sum(n) AS row_n FROM c GROUP BY src)
    SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
           floor(CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS p
    FROM c JOIN r ON c.src = r.src
    ORDER BY c.src, c.dst
    """,
)
def q143(spark, sf_dir):
    """First-order MARKOV transition matrix over per-user event
    sequences — the behavioral-model readout of a clickstream (which
    state follows which, and with what probability). Sequence order is
    (ts, event_id): the event-id tiebreak makes same-timestamp ordering
    deterministic in any engine, the same contract the sessionizer uses.

    Scale shape: ONE user-keyed window pass builds the (src, dst) pair
    stream scan-side (no self-join on adjacent rows), which then
    collapses to the |types|^2-bounded transition grain before anything
    else happens; row normalization joins two domain-bounded tables.
    Probabilities are ratios of exact integers, gridded at 1e-6."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    r = c.groupBy("src").agg(F.sum("n").alias("row_n"))
    return (
        c.join(F.broadcast(r), "src")
        .select(
            "src",
            "dst",
            F.col("n").cast("long").alias("n"),
            (
                F.floor(
                    F.col("n").cast("double")
                    / F.col("row_n").cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("p"),
        )
        .transform(presentation_sort, "src", "dst")
    )


@query(
    "q149_new_vs_returning",
    oracle="""
    WITH fd AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_d FROM events
      GROUP BY user_id
    ),
    dau AS (
      SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ),
    news AS (SELECT first_d AS d, count(*) AS new_users FROM fd GROUP BY 1)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(coalesce(news.new_users, 0) AS BIGINT) AS new_users,
           CAST(dau.dau - coalesce(news.new_users, 0) AS BIGINT)
             AS returning_users,
           CAST(sum(coalesce(news.new_users, 0)) OVER (ORDER BY dau.d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM dau LEFT JOIN news ON dau.d = news.d
    ORDER BY day
    """,
)
def q149(spark, sf_dir):
    """NEW vs RETURNING daily active users + the cumulative
    distinct-user growth curve — the standard product-analytics split
    (every DAU dashboard carries it) and the discrete growth-curve
    primitive: cum_users(d) = running sum of first-seen counts, which
    computes cumulative COUNT(DISTINCT) without any cumulative distinct
    state.

    Scale shape: two map-side-combined aggregates over the stream (per
    user first-day, per day distinct users) reduce everything to user
    then day grain; the running sum is a window over the
    domain-bounded day table (the q121 dimension-bounded-window
    contract). Day keys ship as strings; all counts exact integers."""
    ev = load_tables(spark, sf_dir)["events"]
    d = F.col("ts").cast("date")
    fd = ev.groupBy("user_id").agg(F.min(d).alias("first_d"))
    dau = ev.groupBy(d.alias("d")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    news = fd.groupBy(F.col("first_d").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    joined = dau.join(F.broadcast(news), "d", "left").select(
        "d",
        "dau",
        F.coalesce("new_users", F.lit(0)).alias("nu"),
    )
    return (
        joined.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("nu").cast("long").alias("new_users"),
            (F.col("dau") - F.col("nu")).cast("long").alias(
                "returning_users"
            ),
            F.sum("nu").over(w).cast("long").alias("cum_users"),
        )
        .transform(presentation_sort, "day")
    )


@query(
    "q151_ab_test",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS STRING)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS cohort,
             max(CASE WHEN event_type = 'purchase' AND value >= 480
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN cohort = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN cohort = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN cohort = 'A' THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN cohort = 'B' THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM u
    )
    SELECT n_a, n_b, conv_a, conv_b,
           floor(CAST(conv_a AS DOUBLE) / n_a * 1e6 + 0.5) / 1e6 AS rate_a,
           floor(CAST(conv_b AS DOUBLE) / n_b * 1e6 + 0.5) / 1e6 AS rate_b,
           floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 * 1e6 + 0.5) / 1e6 AS diff,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                THEN 0.0
                ELSE floor((CAST(conv_a AS DOUBLE) / n_a
                            - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b))
                 * 1e6 + 0.5) / 1e6 END AS z,
           floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b
                  - 1.96 * sqrt((CAST(conv_a AS DOUBLE) / n_a)
                                * (1.0 - CAST(conv_a AS DOUBLE) / n_a) / n_a
                                + (CAST(conv_b AS DOUBLE) / n_b)
                                * (1.0 - CAST(conv_b AS DOUBLE) / n_b) / n_b))
                 * 1e6 + 0.5) / 1e6 AS ci_lo,
           floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b
                  + 1.96 * sqrt((CAST(conv_a AS DOUBLE) / n_a)
                                * (1.0 - CAST(conv_a AS DOUBLE) / n_a) / n_a
                                + (CAST(conv_b AS DOUBLE) / n_b)
                                * (1.0 - CAST(conv_b AS DOUBLE) / n_b) / n_b))
                 * 1e6 + 0.5) / 1e6 AS ci_hi
    FROM c
    """,
)
def q151(spark, sf_dir):
    """Two-proportion A/B TEST — the experimentation primitive on top of
    the warehouse: users hash-split into deterministic cohorts (salted
    md5 first hex digit, the library's standard sampling device), per-user
    conversion = any 'purchase' event, then the pooled two-proportion
    z-statistic and the 95% Wald confidence interval of the rate
    difference. Complements q140's chi-square (which tests a full
    contingency table); this is the 2x2 directional test with effect-size
    CI every A/B readout reports.

    Scale shape: one user-keyed map-side-combined aggregate reduces the
    stream to user grain; everything after runs on a 1-row conditional
    rollup. Exactness: counts are exact integers; rates, z, and CI are
    fixed-order single IEEE ops over them, gridded at 1e-6."""
    ev = load_tables(spark, sf_dir)["events"]
    cohort = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit("A"),
    ).otherwise(F.lit("B"))
    # conversion = any HIGH-VALUE purchase (value >= 480): on the
    # uniform-value fixture every user has SOME purchase, which would
    # make the pooled rate 1.0 and the z-statistic 0/0
    u = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") >= 480)
            ).cast("int")
        ).alias("converted")
    ).select(cohort.alias("cohort"), "converted")
    c = u.agg(
        F.sum((F.col("cohort") == "A").cast("int")).cast("long").alias("n_a"),
        F.sum((F.col("cohort") == "B").cast("int")).cast("long").alias("n_b"),
        F.sum(
            F.when(F.col("cohort") == "A", F.col("converted")).otherwise(0)
        )
        .cast("long")
        .alias("conv_a"),
        F.sum(
            F.when(F.col("cohort") == "B", F.col("converted")).otherwise(0)
        )
        .cast("long")
        .alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se_pooled = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    se_wald = F.sqrt(
        ra * (F.lit(1.0) - ra) / F.col("n_a")
        + rb * (F.lit(1.0) - rb) / F.col("n_b")
    )
    g6 = lambda col: F.floor(col * 1e6 + 0.5) / 1e6
    return c.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        g6(ra).alias("rate_a"),
        g6(rb).alias("rate_b"),
        g6(ra - rb).alias("diff"),
        F.when(
            (F.col("conv_a") + F.col("conv_b") == 0)
            | (F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")),
            F.lit(0.0),
        )
        .otherwise(g6((ra - rb) / se_pooled))
        .alias("z"),
        g6(ra - rb - F.lit(1.96) * se_wald).alias("ci_lo"),
        g6(ra - rb + F.lit(1.96) * se_wald).alias("ci_hi"),
    )


@query(
    "q153_decayed_leaderboard",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS ref FROM events),
    w AS (
      SELECT user_id,
             floor(value * (1.0 / CAST(1 << least(ref - CAST(ts AS DATE), 30)
                                       AS BIGINT))
                   * 1e9 + 0.5) / 1e9 AS term
      FROM events CROSS JOIN mx WHERE event_type = 'purchase'
    ),
    s AS (
      SELECT user_id,
             CAST(sum(CAST(term AS DECIMAL(30,9))) AS DOUBLE) AS score,
             CAST(count(*) AS BIGINT) AS n_purchases
      FROM w GROUP BY user_id
    )
    SELECT user_id, n_purchases,
           floor(score * 1e6 + 0.5) / 1e6 AS decayed_value
    FROM s ORDER BY decayed_value DESC, user_id LIMIT 20
    """,
)
def q153(spark, sf_dir):
    """Time-DECAYED leaderboard — recency-weighted scoring with an exact
    half-life of one day: each purchase contributes value * 2^-age_days
    (clamped at 30 half-lives), ranking users by decayed spend. The
    recency-weighting primitive behind trending-content ranks and decayed
    feature stores, with the decay anchored to the corpus's own max day
    so the query is deterministic.

    Exactness trick: with an integer day age, the weight is an exact
    power of two, and multiplying a double by 2^-d NEVER rounds (pure
    exponent shift) — so each term is exact in both engines regardless
    of libm (a pow()-based decay would not be portable); terms then grid
    at 1e-9 and sum as decimals (order-independent). Scale shape: one
    map-side-combined user-keyed aggregate after a broadcast of the
    1-row reference day; top-20 is TakeOrderedAndProject."""
    ev = load_tables(spark, sf_dir)["events"]
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("ref"))
    d = F.least(F.datediff(F.col("ref"), F.col("ts").cast("date")), F.lit(30))
    weight = F.lit(1.0) / F.expr(
        "cast(shiftleft(1L, cast(least(datediff(ref, cast(ts as date)), 30) as int)) as bigint)"
    )
    term = F.floor(F.col("value") * weight * 1e9 + 0.5) / 1e9
    w = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .select("user_id", term.alias("term"))
    )
    s = w.groupBy("user_id").agg(
        F.sum(F.col("term").cast("decimal(30,9)")).cast("double").alias(
            "score"
        ),
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
    )
    return (
        s.select(
            "user_id",
            "n_purchases",
            (F.floor(F.col("score") * 1e6 + 0.5) / 1e6).alias(
                "decayed_value"
            ),
        )
        .orderBy(F.desc("decayed_value"), "user_id")
        .limit(20)
    )


@query(
    "q_stream_markov",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, count(*) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    r AS (SELECT src, sum(n) AS row_n FROM c GROUP BY src)
    SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
           floor(CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS p
    FROM c JOIN r ON c.src = r.src
    ORDER BY c.src, c.dst
    """,
)
def stream_markov(spark, sf_dir):
    """STREAMING Markov transition maintenance — the incremental twin of
    the q143 batch window: a custom stateful operator
    (`streaming/events.transition_stream`, applyInPandasWithState) keeps
    each user's LAST event as state, emits per-batch transition-count
    deltas (batch-split-invariant by construction: sums of deltas are
    the totals under any micro-batch boundary, and the boundary pair
    comes from state exactly once), and the sink rollup normalizes rows.
    The oracle is q143's batch SQL verbatim, so the driver certifies
    incremental stateful extraction == the batch lead() window —
    the q_stream_cms contract applied to sequence state."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        transition_stream,
    )

    sink = "q_stream_markov_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        transition_stream(read_events_stream(spark, sf_dir)),
        sink,
        "update",
        available_now=True,
    )
    q.stop()
    c = (
        spark.table(sink)
        .groupBy("src", "dst")
        .agg(F.sum("n").alias("n"))
    )
    # alias the marginal's key: both sides descend from the same memory
    # table, so an unaliased self-join would carry conflicting attributes
    r = c.groupBy(F.col("src").alias("src_r")).agg(
        F.sum("n").alias("row_n")
    )
    return (
        c.join(F.broadcast(r), c["src"] == F.col("src_r"))
        .drop("src_r")
        .select(
            "src",
            "dst",
            F.col("n").cast("long").alias("n"),
            (
                F.floor(
                    F.col("n").cast("double")
                    / F.col("row_n").cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("p"),
        )
        .transform(presentation_sort, "src", "dst")
    )


@query(
    "q154_column_profile",
    oracle="""
    WITH stacked AS (
      SELECT 'event_id' AS col,
             lpad(CAST(event_id AS STRING), 20, '0') AS val FROM events
      UNION ALL
      SELECT 'ts', strftime(ts, '%Y-%m-%d %H:%M:%S') FROM events
      UNION ALL
      SELECT 'user_id', lpad(CAST(user_id AS STRING), 20, '0') FROM events
      UNION ALL
      SELECT 'event_type', event_type FROM events
      UNION ALL
      SELECT 'value',
             lpad(CAST(CAST(value AS DECIMAL(18,2)) AS STRING), 20, '0')
      FROM events
      UNION ALL
      SELECT 'props', props FROM events
    ),
    g AS (SELECT col, val, count(*) AS n FROM stacked GROUP BY col, val),
    roll AS (
      SELECT col,
             CAST(coalesce(sum(CASE WHEN val IS NULL THEN n END), 0)
                  AS BIGINT) AS n_nulls,
             CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct,
             min(val) AS min_s, max(val) AS max_s
      FROM g GROUP BY col
    ),
    top AS (
      SELECT col, val AS top_value, CAST(n AS BIGINT) AS top_n FROM (
        SELECT col, val, n,
               row_number() OVER (PARTITION BY col
                                  ORDER BY n DESC, val) AS rk
        FROM g WHERE val IS NOT NULL) t WHERE rk = 1
    )
    SELECT roll.col, n_nulls, n_distinct, min_s, max_s, top_value, top_n
    FROM roll JOIN top ON roll.col = top.col
    ORDER BY roll.col
    """,
)
def q154(spark, sf_dir):
    """Single-scan COLUMN PROFILER — the ANALYZE TABLE / data-profiling
    surface (null counts, exact distinct counts, min/max, top value with
    frequency) for every column of the events table, as one query.

    Scale shape: the table is stacked into (column, rendered_value) rows
    in the SAME scan (explode of a 6-struct array — no per-column
    re-scan, the point of single-pass profilers), reduced by ONE
    (col, val)-keyed map-side-combined aggregate, and every statistic
    derives from that value-grain table: profiling cost is one scan +
    one exchange regardless of column count. Values are rendered to
    strings with engine-portable SORTABLE encodings (zero-padded
    fixed-width for numerics, decimal cast for doubles, fixed timestamp
    pattern), so the lexicographic min/max ARE the numeric bounds and
    every comparison hashes identically in both engines; top tiebreak is
    (count desc, value asc).

    Rendering domain: the 20-char pad covers the full int64 range for
    event_id/user_id (19 digits) and DECIMAL(18,2) renderings (19 chars)
    without truncation. The sortable-encoding claim additionally assumes
    NON-NEGATIVE values (a '-' prefix sorts before digits and reverses
    magnitude order); the events schema guarantees this (value is a
    non-negative measure), so min_s/max_s are the numeric bounds."""
    ev = load_tables(spark, sf_dir)["events"]
    pairs = [
        ("event_id", F.lpad(F.col("event_id").cast("string"), 20, "0")),
        ("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
        ("user_id", F.lpad(F.col("user_id").cast("string"), 20, "0")),
        ("event_type", F.col("event_type")),
        (
            "value",
            F.lpad(
                F.col("value").cast("decimal(18,2)").cast("string"), 20, "0"
            ),
        ),
        ("props", F.col("props")),
    ]
    stacked = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("col"), expr.alias("val")
                    )
                    for name, expr in pairs
                ]
            )
        ).alias("s")
    ).select("s.col", "s.val")
    # the (col, val, n) grain feeds BOTH the rollup and the top-value
    # window: pin it (plans.pin lifetime) so the scan + explode +
    # aggregate run once per measurement, not twice
    g = pin(stacked.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n")))
    roll = g.groupBy("col").agg(
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("n"))), F.lit(0)
        )
        .cast("long")
        .alias("n_nulls"),
        F.count(F.when(F.col("val").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("n_distinct"),
        F.min("val").alias("min_s"),
        F.max("val").alias("max_s"),
    )
    w = Window.partitionBy("col").orderBy(F.desc("n"), F.asc("val"))
    top = (
        g.where(F.col("val").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("col").alias("col_t"),
            F.col("val").alias("top_value"),
            F.col("n").cast("long").alias("top_n"),
        )
    )
    return (
        roll.join(F.broadcast(top), roll["col"] == F.col("col_t"))
        .drop("col_t")
        .transform(presentation_sort, "col")
    )


@query(
    "q165_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS daily_total
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT d, daily_total,
             CAST(sum(CAST(daily_total AS DECIMAL(18,2))) OVER ()
                  AS DOUBLE) / count(*) OVER () AS mean_total
      FROM daily
    ),
    dev AS (
      SELECT d, daily_total,
             CAST(floor((daily_total - mean_total) * 1e6 + 0.5) / 1e6
                  AS DECIMAL(28,6)) AS dev_g
      FROM m
    ),
    cs AS (
      SELECT d, daily_total,
             floor(CAST(sum(dev_g) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS cusum
      FROM dev
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           floor(daily_total * 1e4 + 0.5) / 1e4 AS daily_total,
           cusum,
           CASE WHEN row_number() OVER (ORDER BY abs(cusum) DESC, d ASC) = 1
                THEN 1 ELSE 0 END AS is_changepoint
    FROM cs ORDER BY day
    """,
)
def q165(spark, sf_dir):
    """CUSUM CHANGEPOINT detection over the daily revenue series — the
    classic level-shift detector (Page 1954): cumulative sum of
    deviations from the global mean, with exactly ONE changepoint flagged:
    the earliest day attaining the max |CUSUM| (deterministic on ties).
    The monitoring primitive behind data-drift pages and
    KPI step-change alerts, here in its offline (retrospective) form;
    q77's z-score flags POINT outliers, this finds the LEVEL SHIFT.

    Exactness: daily totals are exact DECIMAL(18,2) sums; the mean is one
    double division of an exact sum; each deviation is a single IEEE
    subtraction then gridded at 1e-6 and CUMULATED IN DECIMAL, so the
    running sum is order-independent and bit-identical in both engines
    (the q153 decimal-term recipe applied to a window). Scale shape: one
    map-side-combined day-grain aggregate reduces the stream, then every
    window runs on the domain-bounded day table (q121 contract)."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        exact_sum("value").alias("daily_total")
    )
    # global mean as an unbounded window over the day-grain table (q121
    # domain-bounded contract) — ONE subtree, so the events scan is never
    # duplicated into a separate aggregate branch
    wp = Window.partitionBy()
    mean_total = (
        F.sum(F.col("daily_total").cast("decimal(18,2)")).over(wp)
        .cast("double")
        / F.count(F.lit(1)).over(wp)
    )
    g6 = lambda c: F.floor(c * 1e6 + 0.5) / 1e6
    dev = daily.select(
        "d",
        "daily_total",
        g6(F.col("daily_total") - mean_total)
        .cast("decimal(28,6)")
        .alias("dev_g"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cs = dev.select(
        "d",
        "daily_total",
        g6(F.sum("dev_g").over(wcum).cast("double")).alias("cusum"),
    )
    # deterministic tie-break (ADVICE r11): exactly ONE changepoint is
    # flagged — the EARLIEST day attaining max |CUSUM| — instead of
    # multi-flagging every tied day; row_number over the day-grain table
    # (q121 domain-bounded contract)
    wpeak = Window.orderBy(F.abs(F.col("cusum")).desc(), F.col("d").asc())
    return cs.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.floor(F.col("daily_total") * 1e4 + 0.5) / 1e4).alias(
            "daily_total"
        ),
        "cusum",
        F.when(F.row_number().over(wpeak) == 1, 1)
        .otherwise(0)
        .alias("is_changepoint"),
    ).transform(presentation_sort, "day")


@query(
    "q166_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS daily_total
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT d, daily_total,
             CASE WHEN count(*) OVER w7 = 7 THEN
               CAST(sum(CAST(daily_total AS DECIMAL(18,2))) OVER w7
                    AS DOUBLE) / 7
             END AS trend
      FROM daily
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT d, daily_total, trend, CAST(isodow(d) AS INT) AS dow,
             CAST(floor((daily_total - trend) * 1e9 + 0.5) / 1e9
                  AS DECIMAL(28,9)) AS det_g
      FROM tr
    ),
    sea AS (
      SELECT d, daily_total, trend, dow,
             CASE WHEN count(det_g) OVER wd > 0 THEN
               CAST(sum(det_g) OVER wd AS DOUBLE) / count(det_g) OVER wd
             END AS seasonal
      FROM det
      WINDOW wd AS (PARTITION BY dow)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, dow,
           floor(daily_total * 1e4 + 0.5) / 1e4 AS daily_total,
           floor(trend * 1e6 + 0.5) / 1e6 AS trend,
           floor(seasonal * 1e6 + 0.5) / 1e6 AS seasonal,
           floor(((daily_total - trend) - seasonal) * 1e6 + 0.5) / 1e6
             AS residual
    FROM sea ORDER BY day
    """,
)
def q166(spark, sf_dir):
    """Additive SEASONAL DECOMPOSITION of the daily revenue series —
    STL-shaped trend/seasonal/residual split: trend = centered 7-day
    moving average (full-window gate, so edges are NULL like pandas
    ``rolling(center=True, min_periods=7)``), seasonal = per-ISO-weekday
    mean of the detrended series, residual = the rest. The classical
    decomposition every seasonality-aware forecast/anomaly pipeline runs
    before modeling (the reference's forecasting module fits raw series;
    this is the missing decomposition stage).

    Exactness: the centered MA is an exact DECIMAL window sum divided
    once; detrended values are single IEEE subtractions gridded at 1e-9
    and averaged IN DECIMAL per weekday (order-independent); the residual
    re-subtracts with fixed parenthesization. Scale shape: one day-grain
    aggregate, then windows over the domain-bounded day table; the
    weekday partition is 7-bounded."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        exact_sum("value").alias("daily_total")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "daily_total",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum(F.col("daily_total").cast("decimal(18,2)"))
            .over(w7)
            .cast("double")
            / 7,
        ).alias("trend"),
    )
    g9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9
    det = tr.select(
        "d",
        "daily_total",
        "trend",
        (F.expr("weekday(d)") + 1).cast("int").alias("dow"),
        g9(F.col("daily_total") - F.col("trend"))
        .cast("decimal(28,9)")
        .alias("det_g"),
    )
    wd = Window.partitionBy("dow")
    sea = det.select(
        "d",
        "daily_total",
        "trend",
        "dow",
        F.when(
            F.count("det_g").over(wd) > 0,
            F.sum("det_g").over(wd).cast("double")
            / F.count("det_g").over(wd),
        ).alias("seasonal"),
    )
    g6 = lambda c: F.floor(c * 1e6 + 0.5) / 1e6
    return sea.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dow",
        (F.floor(F.col("daily_total") * 1e4 + 0.5) / 1e4).alias(
            "daily_total"
        ),
        g6(F.col("trend")).alias("trend"),
        g6(F.col("seasonal")).alias("seasonal"),
        g6(
            (F.col("daily_total") - F.col("trend")) - F.col("seasonal")
        ).alias("residual"),
    ).transform(presentation_sort, "day")


@query(
    "q167_survival_km",
    oracle="""
    WITH u AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
             max(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY user_id
    ),
    ur AS (SELECT first_d, last_d, max(last_d) OVER () AS ref FROM u),
    lif AS (
      SELECT CAST(last_d - first_d AS BIGINT) AS dur,
             CASE WHEN ref - last_d > 14 THEN 1 ELSE 0 END AS churned
      FROM ur
    ),
    g AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_end,
             CAST(sum(churned) AS BIGINT) AS deaths
      FROM lif GROUP BY dur
    ),
    r AS (
      SELECT dur, n_end, deaths,
             CAST(sum(n_end) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM g
    ),
    t AS (
      SELECT dur, n_end, deaths, n_risk,
             CASE WHEN deaths >= n_risk THEN NULL
                  WHEN deaths = 0 THEN 0.0
                  ELSE floor(ln(1.0 - CAST(deaths AS DOUBLE) / n_risk)
                             * 1e12 + 0.5) / 1e12
             END AS term,
             max(CASE WHEN deaths >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
                     CURRENT ROW) AS absorbed
      FROM r
    ),
    s AS (
      SELECT dur, n_risk, deaths, n_end - deaths AS censored, absorbed,
             floor(CAST(sum(CAST(term AS DECIMAL(38,12)))
                   OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
                         CURRENT ROW) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS ls
      FROM t
    )
    SELECT CAST(dur AS BIGINT) AS duration_days, n_risk, deaths,
           CAST(censored AS BIGINT) AS censored,
           CASE WHEN absorbed = 1 THEN NULL ELSE ls END AS log_survival,
           CASE WHEN absorbed = 1 THEN 0.0
                ELSE floor(exp(ls) * 1e6 + 0.5) / 1e6 END AS survival
    FROM s WHERE deaths > 0 ORDER BY duration_days
    """,
)
def q167(spark, sf_dir):
    """KAPLAN-MEIER churn survival curve — the right-censored estimator
    behind every retention/LTV readout: per-user lifetime = first-to-last
    active day, a user counts as CHURNED (event) only if inactive for
    >14 days before the corpus's last day, otherwise CENSORED (q65's
    retention triangle counts returns; this estimates S(t) = P(lifetime
    > t) without the still-active bias). At each death time t:
    n_risk = users with lifetime >= t, S(t) = prod(1 - d_i/n_i).

    Exactness: the product is carried in LOG space — each factor's ln is
    gridded at 1e-12 (the q94/q122 transcendental-grid recipe) and
    cumulated in DECIMAL(38,12), so the running product is
    order-independent; survival re-exponentiates the GRIDDED log-sum and
    grids at 1e-6. The absorbing S=0 case (all remaining users die) is
    NULL-logged explicitly. Scale shape: one user-keyed aggregate reduces
    the stream to user grain, one duration-grain aggregate bounds every
    window to the |distinct durations| table (q121 contract)."""
    ev = load_tables(spark, sf_dir)["events"]
    d = F.col("ts").cast("date")
    u = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"), F.max(d).alias("last_d")
    )
    # corpus ref day = max(last_d) over the user-grain table via an
    # unbounded window — the events scan is never duplicated into a
    # second max(ts) branch
    u = u.withColumn("ref", F.max("last_d").over(Window.partitionBy()))
    lif = u.select(
        F.datediff("last_d", "first_d").cast("long").alias("dur"),
        F.when(F.datediff("ref", "last_d") > 14, 1).otherwise(0).alias(
            "churned"
        ),
    )
    g = lif.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n_end"),
        F.sum("churned").cast("long").alias("deaths"),
    )
    wrisk = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = g.withColumn(
        "n_risk", F.sum("n_end").over(wrisk).cast("long")
    )
    term = (
        F.when(F.col("deaths") >= F.col("n_risk"), F.lit(None))
        .when(F.col("deaths") == 0, F.lit(0.0))
        .otherwise(
            F.floor(
                F.log(
                    F.lit(1.0)
                    - F.col("deaths").cast("double") / F.col("n_risk")
                )
                * 1e12
                + 0.5
            )
            / 1e12
        )
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    t = r.select(
        "dur",
        "n_end",
        "deaths",
        "n_risk",
        term.alias("term"),
        F.max(
            F.when(F.col("deaths") >= F.col("n_risk"), 1).otherwise(0)
        )
        .over(wcum)
        .alias("absorbed"),
    )
    s = t.select(
        "dur",
        "n_risk",
        "deaths",
        (F.col("n_end") - F.col("deaths")).alias("censored"),
        "absorbed",
        (
            F.floor(
                F.sum(F.col("term").cast("decimal(38,12)"))
                .over(wcum)
                .cast("double")
                * 1e9
                + 0.5
            )
            / 1e9
        ).alias("ls"),
    )
    return (
        s.where(F.col("deaths") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            "n_risk",
            "deaths",
            F.col("censored").cast("long").alias("censored"),
            F.when(F.col("absorbed") == 1, F.lit(None))
            .otherwise(F.col("ls"))
            .alias("log_survival"),
            F.when(F.col("absorbed") == 1, F.lit(0.0))
            .otherwise(F.floor(F.exp(F.col("ls")) * 1e6 + 0.5) / 1e6)
            .alias("survival"),
        )
        .transform(presentation_sort, "duration_days")
    )


@query(
    "q175_hll_rolling",
    oracle="""
    WITH p AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM p),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    ),
    h AS (
      SELECT d, ('0x' || substr(md5(CAST(user_id AS STRING)), 1, 15))::BIGINT
               AS hv
      FROM p
    ),
    r AS (
      SELECT d, CAST(hv // 18014398509481984 AS INT) AS reg,
             CASE WHEN hv % 18014398509481984 = 0 THEN 55
                  ELSE CAST(instr(lpad(bin(hv % 18014398509481984), 54, '0'),
                                  '1') AS INT) END AS rho
      FROM h
    ),
    dm AS (SELECT d, reg, max(rho) AS mr FROM r GROUP BY d, reg),
    regspine AS (
      SELECT spine.d, g.reg
      FROM spine CROSS JOIN
           (SELECT unnest(generate_series(0, 63)) AS reg) g
    ),
    dregs AS (
      SELECT rs.d, rs.reg, coalesce(dm.mr, 0) AS mr
      FROM regspine rs LEFT JOIN dm ON rs.d = dm.d AND rs.reg = dm.reg
    ),
    rolled AS (
      SELECT d, reg,
             max(mr) OVER (PARTITION BY reg ORDER BY d
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mr
      FROM dregs
    ),
    agg AS (
      SELECT d,
             CAST(sum(CAST(floor(pow(2.0, -mr) * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS DOUBLE) AS z,
             CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS v
      FROM rolled GROUP BY d
    ),
    est AS (
      SELECT d, CASE
               WHEN (0.7213 / (1.0 + 1.079 / 64.0))
                    * 64.0 * 64.0 / z <= 2.5 * 64.0 AND v > 0
               THEN 64.0 * ln(64.0 / v)
               ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / z
             END AS e
      FROM agg
    ),
    exact AS (
      SELECT s.d, CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_exact
      FROM spine s JOIN p
        ON p.d BETWEEN s.d - INTERVAL 6 DAY AND s.d
      GROUP BY s.d
    )
    SELECT strftime(est.d, '%Y-%m-%d') AS day,
           coalesce(exact.n_exact, 0) AS n_exact,
           floor(est.e * 1e4 + 0.5) / 1e4 AS hll_est,
           CASE WHEN coalesce(exact.n_exact, 0) = 0 THEN NULL
                ELSE floor((est.e / exact.n_exact - 1.0) * 1e6 + 0.5) / 1e6
           END AS rel_err
    FROM est LEFT JOIN exact ON est.d = exact.d
    ORDER BY day
    """,
)
def q175(spark, sf_dir):
    """ROLLING-WINDOW SKETCH ALGEBRA — 7-day distinct users per day via
    HyperLogLog register MERGE (q136's certified 64-register recipe,
    lifted from one global sketch to a sketch TABLE): per-day registers
    are built once from the (day, user) stream, and every day's trailing
    7-day cardinality comes from a register-wise max over the calendar
    window — no rescan of raw data, the exact reason warehouses keep
    daily sketch tables instead of raw IDs. COUNT(DISTINCT) cannot be
    windowed (it is not subtractable); mergeable sketches are the 100 TB
    answer, and the plan audits the estimate against the exact rolling
    distinct in the same result.

    Scale shape: after one (day, user)-distinct pass the sketch side
    lives entirely at (day, 64-register) grain — the calendar spine
    bounds every window (q121 contract). The exact side is the audit
    and stays day-grain-joined. Determinism: identical integer bit
    arithmetic + gridded decimal harmonic sums as q136, per day."""
    m = 64
    ev = load_tables(spark, sf_dir)["events"]
    p = pin(
        ev.select(
            F.col("ts").cast("date").alias("d"), "user_id"
        ).distinct()
    )
    bounds = p.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("d")
    )
    h = p.select(
        "d",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
               16, 10)
        .cast("long")
        .alias("hv"),
    )
    rem = F.col("hv") % F.lit(18014398509481984)  # 2^54
    r = h.select(
        "d",
        F.expr("hv div 18014398509481984").cast("int").alias("reg"),
        F.when(rem == 0, F.lit(55))
        .otherwise(F.instr(F.lpad(F.bin(rem), 54, "0"), "1").cast("int"))
        .alias("rho"),
    )
    dm = r.groupBy("d", "reg").agg(F.max("rho").alias("mr"))
    regspine = spine.crossJoin(
        spark.range(m).select(F.col("id").cast("int").alias("reg"))
    )
    dregs = regspine.join(dm, ["d", "reg"], "left").select(
        "d", "reg", F.coalesce("mr", F.lit(0)).alias("mr")
    )
    w7 = (
        Window.partitionBy("reg").orderBy("d").rowsBetween(-6, 0)
    )
    rolled = dregs.select(
        "d", "reg", F.max("mr").over(w7).alias("mr")
    )
    agg = rolled.groupBy("d").agg(
        F.sum(
            (
                F.floor(F.pow(F.lit(2.0), -F.col("mr")) * 1e12 + 0.5) / 1e12
            ).cast("decimal(30,12)")
        )
        .cast("double")
        .alias("z"),
        F.sum(F.when(F.col("mr") == 0, 1).otherwise(0))
        .cast("double")
        .alias("v"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("z")
    e = F.when(
        (raw <= 2.5 * float(m)) & (F.col("v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v")),
    ).otherwise(raw)
    est = agg.select("d", e.alias("e"))
    exact = (
        spine.alias("s")
        .join(
            p.alias("pp"),
            (F.col("pp.d") >= F.expr("s.d - interval 6 day"))
            & (F.col("pp.d") <= F.col("s.d")),
        )
        .groupBy(F.col("s.d").alias("d"))
        .agg(F.count_distinct("pp.user_id").cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            (F.floor(F.col("e") * 1e4 + 0.5) / 1e4).alias("hll_est"),
            F.when(F.coalesce("n_exact", F.lit(0)) == 0, F.lit(None))
            .otherwise(
                F.floor(
                    (F.col("e") / F.col("n_exact") - 1.0) * 1e6 + 0.5
                )
                / 1e6
            )
            .alias("rel_err"),
        )
        .transform(presentation_sort, "day")
    )


@query(
    "q176_peak_concurrency",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT)
               AS session_id
      FROM marked
    ),
    iv AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
      FROM sessions GROUP BY user_id, session_id
    ),
    pts AS (
      -- delta points PLUS a delta-0 sentinel at every midnight a session
      -- spans, so the plateau carried in across a day boundary is sampled
      -- even when the day's first real delta is a session end
      SELECT sec, CAST(sum(delta) AS BIGINT) AS net,
             CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS starts
      FROM (
        SELECT start_s AS sec, 1 AS delta FROM iv
        UNION ALL SELECT end_s + 1, -1 FROM iv
        UNION ALL
        SELECT d * 86400, 0
        FROM iv, LATERAL (SELECT unnest(generate_series(
                 (start_s + 86399) // 86400, end_s // 86400)) AS d) u
      ) GROUP BY sec
    ),
    curve AS (
      SELECT sec // 86400 AS day_idx, starts,
             CAST(sum(net) OVER (ORDER BY sec ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS conc
      FROM pts
    )
    SELECT day_idx, max(conc) AS peak_concurrency,
           CAST(sum(starts) AS BIGINT) AS sessions_started
    FROM curve GROUP BY day_idx
    HAVING max(conc) > 0 ORDER BY day_idx
    """,
)
def q176(spark, sf_dir):
    """PEAK CONCURRENCY sweep line — max simultaneous active sessions
    per UTC day, the capacity-planning number every "concurrent users"
    dashboard reports. Sessions are the q_events_sessionize intervals
    (30-min gap, inclusive [start, end] seconds); the sweep is the
    classic +1/-1 delta walk with END-BEFORE-START tie handling made
    ORDER-FREE by aggregating deltas to second grain first — at second
    grain the running total AFTER all of a second's deltas equals the
    ends-first peak at that second, so no within-timestamp ordering
    exists to disagree on. Every midnight a session spans gets a delta-0
    SENTINEL point, so the plateau carried in across a day boundary is
    sampled too: a day whose first real delta is a session end reports
    its true peak, and a day with active sessions but zero starts still
    appears (sessions_started = 0). Concurrency is piecewise constant
    between deltas, so max over {day-start sentinel} ∪ {post-delta
    values} IS the exact day peak.

    Scale shape: the only raw-grain pass is the sessionizer's user-keyed
    window; deltas collapse to distinct-second grain immediately. The
    cumulative walk here is one second-grain window (the fixture's
    domain-bounded q121 contract); the 100 TB variant would two-phase it
    exactly like the final plan's day rollup: per-day partitioned
    cumsums plus a day-grain carry-in offset — the decomposition is
    associative integer addition, noted here because the single window
    is the only part that wouldn't ship unchanged. All arithmetic is
    exact integers."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_S), 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = marked.select(
        "user_id",
        "ts",
        F.sum("new_session").over(wc).cast("int").alias("session_id"),
    )
    iv = sessions.groupBy("user_id", "session_id").agg(
        F.floor(F.min(F.col("ts").cast("double"))).cast("long").alias(
            "start_s"
        ),
        F.floor(F.max(F.col("ts").cast("double"))).cast("long").alias(
            "end_s"
        ),
    )
    # delta points PLUS a delta-0 sentinel at every midnight the session
    # spans (ADVICE r11): the sentinel samples the plateau carried in
    # across the day boundary, so a day whose first real delta is a
    # session end no longer under-reports its peak and active-but-zero-
    # start days are no longer dropped. Spark's sequence(a, b) runs
    # DESCENDING when a > b, so the empty range needs an explicit guard.
    d_lo = F.expr("(start_s + 86399) div 86400")
    d_hi = F.expr("end_s div 86400")
    point_t = "array<struct<sec:bigint,delta:int>>"
    sentinels = F.when(
        d_lo <= d_hi,
        F.transform(
            F.sequence(d_lo, d_hi),
            lambda d: F.struct(
                (d * 86400).cast("long").alias("sec"),
                F.lit(0).alias("delta"),
            ),
        ),
    ).otherwise(F.expr(f"cast(array() as {point_t})"))
    pts = (
        # explode ONE concatenated array, not a union of selects over iv:
        # a union would duplicate the whole sessionizer subtree (two
        # events scans + two window passes); concat emits the 2 deltas
        # and the spanned-midnight sentinels from ONE pass
        iv.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("start_s").alias("sec"),
                            F.lit(1).alias("delta"),
                        ),
                        F.struct(
                            (F.col("end_s") + 1).alias("sec"),
                            F.lit(-1).alias("delta"),
                        ),
                    ),
                    sentinels,
                )
            ).alias("p")
        )
        .select(F.col("p.sec").alias("sec"), F.col("p.delta").alias("delta"))
        .groupBy("sec")
        .agg(
            F.sum("delta").cast("long").alias("net"),
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
            .cast("long")
            .alias("starts"),
        )
    )
    wrun = Window.orderBy("sec").rowsBetween(Window.unboundedPreceding, 0)
    curve = pts.select(
        F.expr("sec div 86400").alias("day_idx"),
        "starts",
        F.sum("net").over(wrun).cast("long").alias("conc"),
    )
    return (
        curve.groupBy("day_idx")
        .agg(
            F.max("conc").alias("peak_concurrency"),
            F.sum("starts").cast("long").alias("sessions_started"),
        )
        .where(F.col("peak_concurrency") > 0)
        .transform(presentation_sort, "day_idx")
    )


@query(
    "q177_activity_bitmaps",
    oracle="""
    WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS day0 FROM events),
    ud AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - day0 AS BIGINT) AS idx
      FROM events CROSS JOIN d0
      WHERE CAST(ts AS DATE) - day0 < 64
    ),
    bm AS (
      -- DuckDB's << is overflow-CHECKED: 1::BIGINT << 63 raises instead
      -- of wrapping to the sign bit like Spark/Java shiftleft, so bit 63
      -- is spelled as the min-int64 literal
      SELECT user_id,
             bit_or(CASE WHEN idx = 63 THEN -9223372036854775807 - 1
                         ELSE CAST(1 AS BIGINT) << CAST(idx AS INT) END)
               AS b
      FROM ud GROUP BY user_id
    ),
    per AS (
      -- (b >> 1) sign-extends when bit 63 (day-63 activity) is set, which
      -- would fabricate a phantom (63,64) pair; mask bit 63 after the shift
      -- to get the logical-shift value Spark's shiftrightunsigned computes.
      SELECT user_id, bit_count(b) AS active_days,
             bit_count(b & ((b >> 1) & 9223372036854775807)) AS consec_pairs
      FROM bm
    )
    SELECT CAST(active_days AS INT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(consec_pairs) AS BIGINT) AS consec_day_pairs,
           CAST(sum(CASE WHEN consec_pairs > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS users_with_streak
    FROM per GROUP BY active_days ORDER BY active_days
    """,
)
def q177(spark, sf_dir):
    """ACTIVITY BITMAP analytics — each user's presence over the first
    64 days packed into ONE int64 (bit i = active on day0+i), then pure
    bit arithmetic answers engagement questions no plain aggregate can
    without re-scanning: active-day histogram via popcount, consecutive
    -day streak pairs via popcount(b & b>>1). This is the roaring-bitmap
    /bitmap-index pattern warehouses keep for segment math — user-set
    intersections become AND, unions OR, 8 bytes per user per 64 days
    regardless of event volume (the fixture spans 30 days; the window
    contract is explicit and filtered).

    Scale shape: one (user, day)-distinct pass, one user-keyed bit_or
    aggregate (map-side combinable — bitmaps OR associatively, the whole
    point), then a histogram-grain rollup. All integer-exact; DuckDB
    replays the identical shift/and/popcount algebra."""
    ev = load_tables(spark, sf_dir)["events"]
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("day0"))
    ud = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("day0"))
            .cast("long")
            .alias("idx"),
        )
        .where(F.col("idx") < 64)
        .distinct()
    )
    bm = ud.groupBy("user_id").agg(
        # F.shiftleft takes a literal bit count; the per-row shift needs
        # the SQL form
        F.bit_or(F.expr("shiftleft(1L, cast(idx as int))")).alias("b")
    )
    per = bm.select(
        "user_id",
        F.bit_count("b").alias("active_days"),
        # logical (not arithmetic) shift: a user active on day 63 sets the
        # sign bit, and a signed >> would sign-extend and count a phantom
        # (day63, day64) pair (ADVICE r11)
        F.bit_count(
            F.col("b").bitwiseAND(F.shiftrightunsigned("b", 1))
        ).alias("consec_pairs"),
    )
    return (
        per.groupBy(F.col("active_days").cast("int").alias("active_days"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("consec_pairs").cast("long").alias("consec_day_pairs"),
            F.sum(F.when(F.col("consec_pairs") > 0, 1).otherwise(0))
            .cast("long")
            .alias("users_with_streak"),
        )
        .transform(presentation_sort, "active_days")
    )


@query(
    "q_stream_hll",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    h AS (
      SELECT ('0x' || substr(md5(CAST(user_id AS STRING)), 1, 15))::BIGINT
               AS hv
      FROM u
    ),
    r AS (
      SELECT CAST(hv // 18014398509481984 AS INT) AS reg,
             CASE WHEN hv % 18014398509481984 = 0 THEN 55
                  ELSE CAST(instr(lpad(bin(hv % 18014398509481984), 54, '0'),
                                  '1') AS INT) END AS rho
      FROM h
    ),
    m AS (SELECT reg, max(rho) AS mr FROM r GROUP BY reg),
    spine AS (SELECT unnest(generate_series(0, 63)) AS reg),
    regs AS (
      SELECT spine.reg, coalesce(m.mr, 0) AS mr
      FROM spine LEFT JOIN m ON spine.reg = m.reg
    ),
    agg AS (
      SELECT CAST(sum(CAST(floor(pow(2.0, -mr) * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS DOUBLE) AS z,
             CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS v
      FROM regs
    ),
    est AS (
      SELECT CASE
               WHEN (0.7213 / (1.0 + 1.079 / 64.0))
                    * 64.0 * 64.0 / z <= 2.5 * 64.0 AND v > 0
               THEN 64.0 * ln(64.0 / v)
               ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / z
             END AS e
      FROM agg
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_exact FROM u)
    SELECT CAST(64 AS INT) AS m,
           CAST(n.n_exact AS BIGINT) AS n_exact,
           floor(est.e * 1e4 + 0.5) / 1e4 AS hll_est,
           floor((est.e / n.n_exact - 1.0) * 1e6 + 0.5) / 1e6 AS rel_err
    FROM est CROSS JOIN n
    """,
)
def q_stream_hll(spark, sf_dir):
    """STREAMING DISTINCT-COUNT SKETCH — q136's 64-register HyperLogLog
    maintained incrementally by a stateful streaming operator
    (`streaming/events.hll_register_stream`): register/rank derivation
    is scan-side on the stream, applyInPandasWithState keeps ONE long
    per register and emits monotone max updates, and the sink rollup
    (max per register — idempotent, so batch splits and replays cannot
    double-count) feeds the identical harmonic estimate. The oracle
    replays the whole sketch from the batch table, certifying that
    incremental register maintenance == the batch sketch — the
    q_stream_markov contract applied to sketch state.

    Scale shape: state is O(m)=64 longs TOTAL regardless of stream
    volume — the defining property that makes distinct-count streamable;
    the exact side (one distinct-user aggregate on the batch table) is
    the audit."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        hll_register_stream,
        read_events_stream,
        run_to_memory,
    )

    m = 64
    sink = "q_stream_hll_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        hll_register_stream(read_events_stream(spark, sf_dir)),
        sink,
        "update",
        available_now=True,
    )
    q.stop()
    mx = (
        spark.table(sink)
        .groupBy(F.col("reg").cast("int").alias("reg"))
        .agg(F.max("mr").cast("int").alias("mr"))
    )
    spine = spark.range(m).select(F.col("id").cast("int").alias("reg"))
    regs = spine.join(F.broadcast(mx), "reg", "left").select(
        F.coalesce("mr", F.lit(0)).alias("mr")
    )
    agg = regs.agg(
        F.sum(
            (
                F.floor(F.pow(F.lit(2.0), -F.col("mr")) * 1e12 + 0.5) / 1e12
            ).cast("decimal(30,12)")
        )
        .cast("double")
        .alias("z"),
        F.sum(F.when(F.col("mr") == 0, 1).otherwise(0))
        .cast("double")
        .alias("v"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("z")
    e = F.when(
        (raw <= 2.5 * float(m)) & (F.col("v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v")),
    ).otherwise(raw)
    n = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("n_exact"))
    )
    return agg.crossJoin(F.broadcast(n)).select(
        F.lit(m).cast("int").alias("m"),
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.floor(e * 1e4 + 0.5) / 1e4).alias("hll_est"),
        (F.floor((e / F.col("n_exact") - 1.0) * 1e6 + 0.5) / 1e6).alias(
            "rel_err"
        ),
    )


# At-rest SCD2 dimension per (session, sf_dir): the slowly-changing
# user-status table built once from the historical slice (days <= the
# split), then MERGED with the post-split delta by every q178 call — the
# q152/q111 build-once-merge-many shape applied to dimension maintenance.
_SCD2_SPLIT = "2024-01-20"


def _daily_status(ev):
    """Per (user, day) status = that day's dominant event type (count
    desc, type asc tiebreak) — the change stream both the at-rest build
    and the delta merge derive from."""
    d = F.col("ts").cast("date").alias("d")
    g = ev.groupBy("user_id", d, "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id", "d").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        g.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "d", F.col("event_type").alias("status"))
    )


def _scd2_rows(status_days):
    """Gaps-and-islands SCD2 derivation over a (user_id, d, status)
    stream: collapse consecutive same-status days into rows; a row's
    valid_to is the day before the NEXT row's valid_from, NULL while
    open (the standard Kimball type-2 layout)."""
    w = Window.partitionBy("user_id").orderBy("d")
    chg = F.when(
        F.lag("status").over(w).isNull()
        | (F.lag("status").over(w) != F.col("status")),
        1,
    ).otherwise(0)
    runs = status_days.select(
        "user_id", "d", "status", chg.alias("chg")
    ).withColumn(
        "run",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    rows = runs.groupBy("user_id", "run", "status").agg(
        F.min("d").alias("valid_from")
    )
    wn = Window.partitionBy("user_id").orderBy("valid_from")
    return rows.select(
        "user_id",
        "status",
        "valid_from",
        F.date_sub(F.lead("valid_from").over(wn), 1).alias("valid_to"),
    )


def _scd2_base_path(spark, sf_dir: str) -> str:
    def write(path: str) -> None:
        ev = load_tables(spark, sf_dir)["events"].where(
            F.col("ts").cast("date") <= F.lit(_SCD2_SPLIT).cast("date")
        )
        _scd2_rows(_daily_status(ev)).write.mode("overwrite").parquet(path)

    return session_table(spark, sf_dir, "scd2_base", write)


@query(
    "q178_scd2_merge",
    oracle=f"""
    WITH ds AS (
      SELECT user_id, d, event_type AS status FROM (
        SELECT user_id, CAST(ts AS DATE) AS d, event_type,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY count(*) DESC, event_type) AS rk
        FROM events GROUP BY user_id, CAST(ts AS DATE), event_type)
      WHERE rk = 1
    ),
    r AS (
      SELECT user_id, d, status,
             CASE WHEN lag(status) OVER w IS NULL
                       OR lag(status) OVER w <> status THEN 1 ELSE 0 END
               AS chg
      FROM ds WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    runs AS (
      SELECT user_id, d, status,
             sum(chg) OVER (PARTITION BY user_id ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM r
    ),
    rws AS (
      SELECT user_id, status, run, min(d) AS valid_from
      FROM runs GROUP BY user_id, status, run
    )
    SELECT user_id, status,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(lead(valid_from) OVER wn - INTERVAL 1 DAY,
                    '%Y-%m-%d') AS valid_to,
           CASE WHEN lead(valid_from) OVER wn IS NULL THEN 1 ELSE 0 END
             AS is_current
    FROM rws
    WINDOW wn AS (PARTITION BY user_id ORDER BY valid_from)
    ORDER BY user_id, valid_from
    """,
)
def q178(spark, sf_dir):
    """SCD TYPE-2 DIMENSION MERGE — the warehouse dimension-maintenance
    op (Kimball type 2): an at-rest slowly-changing user-status table
    (status = daily dominant event type, rows = consecutive-status runs
    with valid_from/valid_to/open) is built ONCE from the historical
    slice (days <= {_SCD2_SPLIT}), and each call merges only the
    POST-SPLIT delta: the base's CLOSED rows pass through untouched,
    and the gaps-and-islands derivation re-runs only over {{each user's
    open row}} UNION {{delta status-days}} — closing open rows whose
    status changed and extending those whose status held, at
    O(delta + open) cost, never rescanning history. The oracle
    recomputes the whole SCD2 table from scratch, certifying
    merge == recompute (the q152 IVM contract applied to dimensions:
    run-collapse is prefix-stable, so a closed run can never be
    reopened by later data).

    Scale shape: the delta pass is one (user, day)-keyed aggregate plus
    user-partitioned windows; the at-rest base is partition-prunable by
    user at a real warehouse's layout. All comparisons are exact
    strings/dates."""
    base = spark.read.parquet(_scd2_base_path(spark, sf_dir))
    closed = base.where(F.col("valid_to").isNotNull())
    open_rows = base.where(F.col("valid_to").isNull()).select(
        "user_id", F.col("valid_from").alias("d"), "status"
    )
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").cast("date") > F.lit(_SCD2_SPLIT).cast("date")
    )
    tail = _scd2_rows(open_rows.unionByName(_daily_status(ev)))
    merged = closed.unionByName(tail)
    return merged.select(
        "user_id",
        "status",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias(
            "is_current"
        ),
    ).transform(presentation_sort, "user_id", "valid_from")


@query(
    "q_stream_scd2",
    oracle="""
    WITH ds AS (
      SELECT user_id, d, event_type AS status FROM (
        SELECT user_id, CAST(ts AS DATE) AS d, event_type,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY count(*) DESC, event_type) AS rk
        FROM events GROUP BY user_id, CAST(ts AS DATE), event_type)
      WHERE rk = 1
    ),
    r AS (
      SELECT user_id, d, status,
             CASE WHEN lag(status) OVER w IS NULL
                       OR lag(status) OVER w <> status THEN 1 ELSE 0 END
               AS chg
      FROM ds WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    runs AS (
      SELECT user_id, d, status,
             sum(chg) OVER (PARTITION BY user_id ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM r
    ),
    rws AS (
      SELECT user_id, status, run, min(d) AS valid_from
      FROM runs GROUP BY user_id, status, run
    )
    SELECT user_id, status,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(lead(valid_from) OVER wn - INTERVAL 1 DAY,
                    '%Y-%m-%d') AS valid_to,
           CASE WHEN lead(valid_from) OVER wn IS NULL THEN 1 ELSE 0 END
             AS is_current
    FROM rws
    WINDOW wn AS (PARTITION BY user_id ORDER BY valid_from)
    ORDER BY user_id, valid_from
    """,
)
def stream_scd2(spark, sf_dir):
    """STREAMING SCD TYPE-2 MAINTENANCE — the stateful twin of q178
    (VERDICT r11 item 3), the most common production stateful job:
    dimension upkeep from an event firehose. The custom operator
    (`streaming/events.scd2_status_stream`, applyInPandasWithState)
    keeps each user's per-day event-type counts as state and emits
    VERSIONED dominant-status updates (version = the day's cumulative
    event count — strictly increasing per (user, day)); the sink rollup
    keeps the max-version row per (user, day) — exactly-once under any
    micro-batch split or replay, because the surviving row always
    reflects the day's final counts — and derives the SCD2 runs with
    the SAME gaps-and-islands kernel the batch plan uses
    (`_scd2_rows`). The oracle recomputes the whole dimension from the
    batch table, certifying incremental maintenance == recompute (the
    q_stream_markov contract applied to dimension state).

    Scale shape: state is O(#days-in-retention x #types) per user (a
    bounded domain), never per-event; the rollup is one (user, day)
    max-version pick plus user-partitioned windows over day-grain
    rows."""
    import re as _re

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        scd2_status_stream,
    )

    sink = "q_stream_scd2_" + _re.sub(r"\W", "_", sf_dir).strip("_")
    q = run_to_memory(
        scd2_status_stream(read_events_stream(spark, sf_dir)),
        sink,
        "update",
        available_now=True,
    )
    q.stop()
    wv = Window.partitionBy("user_id", "day").orderBy(F.desc("version"))
    latest = (
        spark.table(sink)
        .withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select("user_id", F.to_date("day").alias("d"), "status")
    )
    return (
        _scd2_rows(latest)
        .select(
            "user_id",
            "status",
            F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
            F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
            F.when(F.col("valid_to").isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
        .transform(presentation_sort, "user_id", "valid_from")
    )


@query(
    "q179_window_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0
        AND e.ts <= v.t0 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e
      JOIN c ON e.user_id = c.user_id
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
        AND e.ts <= v.t0 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_1h,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_1h,
           floor((SELECT count(*) FROM c) * 1.0
                 / (SELECT count(*) FROM v) * 1e6 + 0.5) / 1e6
             AS click_rate,
           floor((SELECT count(*) FROM p) * 1.0
                 / (SELECT count(*) FROM v) * 1e6 + 0.5) / 1e6
             AS purchase_rate
    """,
)
def q179(spark, sf_dir):
    """TIME-BOUNDED WINDOW FUNNEL (the ClickHouse windowFunnel
    semantics at fixed anchor): view -> click -> purchase where BOTH
    later steps must land within 1 HOUR of the user's first view — the
    attribution-window constraint q64's unbounded funnel cannot
    express (a purchase next week is not this session's conversion).
    Anchor is deterministic (the user's earliest view); each later
    step is the earliest qualifying event after the previous step and
    inside the anchor window.

    Scale shape: three user-keyed min-aggregates chained by broadcast-
    able user-grain joins (each stage's output is one row per
    surviving user, strictly shrinking); the final readout is a 1-row
    conditional rollup. Counts exact; rates are single divisions
    gridded at 1e-6."""
    ev = load_tables(spark, sf_dir)["events"]
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t0"))
            & (F.col("ts") <= F.col("t0") + F.expr("interval 1 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t0") + F.expr("interval 1 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("n_click_1h"))
    np_ = p.agg(F.count(F.lit(1)).cast("long").alias("n_purchase_1h"))
    g6 = lambda col: F.floor(col * 1e6 + 0.5) / 1e6
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click_1h",
            "n_purchase_1h",
            g6(F.col("n_click_1h") * 1.0 / F.col("n_view")).alias(
                "click_rate"
            ),
            g6(F.col("n_purchase_1h") * 1.0 / F.col("n_view")).alias(
                "purchase_rate"
            ),
        )
    )


@query(
    "q180_ohlc_resample",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(epoch(time_bucket(INTERVAL 15 MINUTES, ts)) AS BIGINT)
               AS bucket_s,
             ts, event_id, value,
             row_number() OVER (PARTITION BY event_type,
                  time_bucket(INTERVAL 15 MINUTES, ts)
                  ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type,
                  time_bucket(INTERVAL 15 MINUTES, ts)
                  ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT event_type, bucket_s,
           round(CAST(max(CASE WHEN ra = 1 THEN CAST(value AS DECIMAL(18,2))
                          END) AS DOUBLE), 4) AS open,
           round(CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS high,
           round(CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS low,
           round(CAST(max(CASE WHEN rd = 1 THEN CAST(value AS DECIMAL(18,2))
                          END) AS DOUBLE), 4) AS close,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS total
    FROM b GROUP BY event_type, bucket_s
    ORDER BY event_type, bucket_s
    """,
)
def q180(spark, sf_dir):
    """OHLC RESAMPLING — the financial-style bar aggregation (open/
    high/low/close per 15-minute bucket per event type), the resample
    shape q_events_tumbling (count/sum) and q134 (TWAP) do not cover:
    OPEN/CLOSE are ORDER statistics of the bucket (first/last by
    (ts, event_id) — the library's deterministic event order), not
    commutative aggregates, carried here by rank-1 flags folded into
    the same single hash aggregate as high/low/count/total.

    Scale shape: two (type, bucket)-partitioned windows tag the first
    and last event per bar, then ONE map-side-combined aggregate; bars
    are epoch-aligned like q_events_tumbling so the bucket key is an
    exact integer. Values go through DECIMAL(18,2) everywhere."""
    ev = load_tables(spark, sf_dir)["events"]
    bucket = F.window("ts", "15 minutes")
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        bucket.start.cast("long").alias("bucket_s"),
    )
    wa = Window.partitionBy("event_type", "bucket_s").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "bucket_s").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    tagged = base.select(
        "event_type",
        "bucket_s",
        "v",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return (
        tagged.groupBy("event_type", "bucket_s")
        .agg(
            F.round(
                F.max(F.when(F.col("ra") == 1, F.col("v"))).cast("double"),
                4,
            ).alias("open"),
            F.round(F.max("v").cast("double"), 4).alias("high"),
            F.round(F.min("v").cast("double"), 4).alias("low"),
            F.round(
                F.max(F.when(F.col("rd") == 1, F.col("v"))).cast("double"),
                4,
            ).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("v").cast("double"), 4).alias("total"),
        )
        .transform(presentation_sort, "event_type", "bucket_s")
    )


@query(
    "q181_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN substr(md5('did:' || CAST(user_id AS STRING)), 1, 1)
                       < '8' THEN 'T' ELSE 'C' END AS grp,
             CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN 'pre' ELSE 'post' END AS period,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
      SELECT grp, period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) AS s,
             CAST(sum(CAST(v * v AS DECIMAL(28,4))) AS DOUBLE) AS ssq
      FROM cells GROUP BY grp, period
    ),
    m AS (
      -- n=1 cell would divide by zero (n-1); guard -> NULL mvar, surfaced
      -- by cells_ok below instead of a silent NULL se
      SELECT grp, period, n, s / n AS mean,
             CASE WHEN n > 1 THEN ((ssq - (s / n) * s) / (n - 1)) / n END
               AS mvar
      FROM agg
    ),
    w AS (
      SELECT
        max(CASE WHEN grp = 'T' AND period = 'pre' THEN mean END) AS t_pre,
        max(CASE WHEN grp = 'T' AND period = 'post' THEN mean END) AS t_post,
        max(CASE WHEN grp = 'C' AND period = 'pre' THEN mean END) AS c_pre,
        max(CASE WHEN grp = 'C' AND period = 'post' THEN mean END) AS c_post,
        max(CASE WHEN grp = 'T' AND period = 'pre' THEN n END) AS n_t_pre,
        max(CASE WHEN grp = 'T' AND period = 'post' THEN n END) AS n_t_post,
        max(CASE WHEN grp = 'C' AND period = 'pre' THEN n END) AS n_c_pre,
        max(CASE WHEN grp = 'C' AND period = 'post' THEN n END) AS n_c_post,
        max(CASE WHEN grp = 'T' AND period = 'pre' THEN mvar END) AS v_t_pre,
        max(CASE WHEN grp = 'T' AND period = 'post' THEN mvar END) AS v_t_post,
        max(CASE WHEN grp = 'C' AND period = 'pre' THEN mvar END) AS v_c_pre,
        max(CASE WHEN grp = 'C' AND period = 'post' THEN mvar END) AS v_c_post
      FROM m
    )
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           floor(t_pre * 1e6 + 0.5) / 1e6 AS t_pre,
           floor(t_post * 1e6 + 0.5) / 1e6 AS t_post,
           floor(c_pre * 1e6 + 0.5) / 1e6 AS c_pre,
           floor(c_post * 1e6 + 0.5) / 1e6 AS c_post,
           floor(((t_post - t_pre) - (c_post - c_pre)) * 1e6 + 0.5) / 1e6
             AS did,
           floor(sqrt(((v_t_pre + v_t_post) + v_c_pre) + v_c_post)
                 * 1e6 + 0.5) / 1e6 AS se,
           CAST(CASE WHEN v_t_pre IS NOT NULL AND v_t_post IS NOT NULL
                      AND v_c_pre IS NOT NULL AND v_c_post IS NOT NULL
                     THEN 1 ELSE 0 END AS INT) AS cells_ok
    FROM w
    """,
)
def q181(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    (Card-Krueger shape) completing the experimentation family (q151
    two-proportion z, q140 chi-square): users hash-split into
    treatment/control (the library's salted-md5 cohort device), purchase
    values split pre/post the Jan-15 cutover, and the causal readout is
    DiD = (T_post - T_pre) - (C_post - C_pre) with its large-sample
    standard error sqrt(sum of per-cell mean-variances).

    Exactness: each cell reduces to exact DECIMAL sums of v and v*v
    (2-decimal values make v^2 exactly a DECIMAL(28,4), so the sum of
    squares is order-independent too); means/variances/DiD/SE are then
    a FIXED-ORDER single-row expression tree, gridded at 1e-6. Degenerate
    data is loud, not silent: an n<2 cell yields NULL mvar (guarded, no
    division by zero) and a missing/degenerate cell sets cells_ok=0 so a
    NULL did/se is always explained. Scale shape: ONE map-side-combined
    4-cell aggregate over the purchase stream; everything after is 1-row
    arithmetic."""
    ev = load_tables(spark, sf_dir)["events"]
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("did:"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit("T"),
    ).otherwise(F.lit("C"))
    period = F.when(
        F.col("ts").cast("date") <= F.lit("2024-01-15").cast("date"), "pre"
    ).otherwise("post")
    v = F.col("value").cast("decimal(18,2)")
    cells = ev.where(F.col("event_type") == "purchase").select(
        grp.alias("grp"), period.alias("period"), v.alias("v")
    )
    agg = cells.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("double").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,4)"))
        .cast("double")
        .alias("ssq"),
    )
    mean = F.col("s") / F.col("n")
    m = agg.select(
        "grp",
        "period",
        "n",
        mean.alias("mean"),
        # n=1 cell would divide by zero (n-1); guard -> NULL mvar,
        # surfaced by cells_ok below instead of a silent NULL se
        # (ADVICE r11)
        F.when(
            F.col("n") > 1,
            ((F.col("ssq") - mean * F.col("s")) / (F.col("n") - 1))
            / F.col("n"),
        ).alias("mvar"),
    )
    def cell(col, g, p):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col(col))
        )
    w = m.agg(
        cell("mean", "T", "pre").alias("t_pre_m"),
        cell("mean", "T", "post").alias("t_post_m"),
        cell("mean", "C", "pre").alias("c_pre_m"),
        cell("mean", "C", "post").alias("c_post_m"),
        cell("n", "T", "pre").alias("n_t_pre"),
        cell("n", "T", "post").alias("n_t_post"),
        cell("n", "C", "pre").alias("n_c_pre"),
        cell("n", "C", "post").alias("n_c_post"),
        cell("mvar", "T", "pre").alias("v_t_pre"),
        cell("mvar", "T", "post").alias("v_t_post"),
        cell("mvar", "C", "pre").alias("v_c_pre"),
        cell("mvar", "C", "post").alias("v_c_post"),
    )
    g6 = lambda col: F.floor(col * 1e6 + 0.5) / 1e6
    return w.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        g6(F.col("t_pre_m")).alias("t_pre"),
        g6(F.col("t_post_m")).alias("t_post"),
        g6(F.col("c_pre_m")).alias("c_pre"),
        g6(F.col("c_post_m")).alias("c_post"),
        g6(
            (F.col("t_post_m") - F.col("t_pre_m"))
            - (F.col("c_post_m") - F.col("c_pre_m"))
        ).alias("did"),
        g6(
            F.sqrt(
                (
                    (F.col("v_t_pre") + F.col("v_t_post"))
                    + F.col("v_c_pre")
                )
                + F.col("v_c_post")
            )
        ).alias("se"),
        # explicit NULL-reason flag: 0 when any T/C×pre/post cell is
        # missing or has n<2 (did/se are NULL in that case, loudly)
        F.when(
            F.col("v_t_pre").isNotNull()
            & F.col("v_t_post").isNotNull()
            & F.col("v_c_pre").isNotNull()
            & F.col("v_c_post").isNotNull(),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("cells_ok"),
    )


@query(
    "q184_multi_touch",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    o AS (
      SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT t.event_id AS t_id, CAST(t.ts AS DATE) AS t_day,
             o.event_id AS o_id, o.v,
             count(*) OVER (PARTITION BY o.event_id) AS n_touch
      FROM t JOIN o ON t.user_id = o.user_id
       AND t.ts < o.ts AND t.ts >= o.ts - INTERVAL 7 DAY
    ),
    credit AS (
      SELECT t_day, o_id,
             CAST(floor(CAST(v AS DOUBLE) / n_touch * 1e9 + 0.5) / 1e9
                  AS DECIMAL(28,9)) AS c
      FROM pairs
    )
    SELECT strftime(t_day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(count(DISTINCT o_id) AS BIGINT) AS n_purchases,
           floor(CAST(sum(c) AS DOUBLE) * 1e4 + 0.5) / 1e4
             AS attributed_value
    FROM credit GROUP BY t_day ORDER BY day
    """,
)
def q184(spark, sf_dir):
    """LINEAR MULTI-TOUCH ATTRIBUTION — each purchase's value split
    EQUALLY across every click touch in its trailing 7-day window,
    rolled up to the touch day: the marketing-mix readout
    q_stream_attribution's single-touch pairing cannot express (there a
    click claims whole conversions; here credit is conserved — each
    purchase distributes exactly its value, so summing attributed_value
    over days reproduces total credited revenue).

    Scale shape: the touch-conversion pairing is a user-keyed equi-join
    with a sargable time band (the q_events_asof_join family); the
    per-purchase fan-out count is a purchase-keyed window on the joined
    stream (bounded by touches-per-week per user, never corpus-global);
    the rollup is day grain. Exactness: each credit is ONE double
    division of an exact decimal value gridded at 1e-9, then summed in
    DECIMAL — order-independent, certified bit-for-bit."""
    ev = load_tables(spark, sf_dir)["events"]
    t = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
    )
    o = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("o_user"),
        F.col("ts").alias("o_ts"),
        F.col("event_id").alias("o_id"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    pairs = t.join(
        o,
        (F.col("t_user") == F.col("o_user"))
        & (F.col("t_ts") < F.col("o_ts"))
        & (F.col("t_ts") >= F.col("o_ts") - F.expr("interval 7 day")),
    ).select(
        F.col("t_ts").cast("date").alias("t_day"),
        "o_id",
        "v",
        F.count(F.lit(1))
        .over(Window.partitionBy("o_id"))
        .alias("n_touch"),
    )
    credit = pairs.select(
        "t_day",
        "o_id",
        (
            F.floor(
                F.col("v").cast("double") / F.col("n_touch") * 1e9 + 0.5
            )
            / 1e9
        )
        .cast("decimal(28,9)")
        .alias("c"),
    )
    return (
        credit.groupBy("t_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            F.count_distinct("o_id").cast("long").alias("n_purchases"),
            (
                F.floor(F.sum("c").cast("double") * 1e4 + 0.5) / 1e4
            ).alias("attributed_value"),
        )
        .select(
            F.date_format("t_day", "yyyy-MM-dd").alias("day"),
            "n_credits",
            "n_purchases",
            "attributed_value",
        )
        .transform(presentation_sort, "day")
    )
