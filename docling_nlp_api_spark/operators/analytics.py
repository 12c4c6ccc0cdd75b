"""Analytics/metrics plane (SURVEY.md §2.2-2.7) over the `events` fact
table — the reference's Firestore rollups/trends/top-k re-expressed as
single-pass Spark SQL aggregations.

Reference anchors: daily rollups analytics_service.py:133-235, range
rollups :302-402, trends :409-450, dashboard :452-492, today :494-525,
top-10 :322-326, TTL db.py:100-120, date-range filter :290-296.

Scale notes: every groupBy here keys on (user_id[, date]) — at 100 TB these
are high-cardinality, evenly distributed keys; Spark's partial (map-side)
aggregation bounds the shuffle to one row per key per task. The dense-date
trend join broadcasts the tiny date spine. No driver-side loops (the
reference's 2-RPC-per-day N+1 at :425-431 becomes one ranged scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Fixed analysis anchors (events span 2024-01-01 .. 2024-01-30; TESTDATA seed=42)
NOW_TS = "2024-01-15 00:00:00"
ANCHOR_DATE = "2024-01-30"
SPINE_START, SPINE_END = "2024-01-01", "2024-01-30"


def with_date_hour(events: DataFrame) -> DataFrame:
    """X8: derived ISO date + hour columns (analytics_service.py:78-79)."""
    return events.withColumn("date", F.date_format("ts", "yyyy-MM-dd")).withColumn(
        "hour", F.hour("ts")
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """A1: per (user_id, date) incremental rollup, one hash aggregation."""
    return (
        with_date_hour(events)
        .groupBy("user_id", "date")
        .agg(
            F.count("*").alias("api_calls"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("error_count"),
        )
    )


def type_counts(events: DataFrame) -> DataFrame:
    """A5: the map-merge aggregation, exploded form (endpoint->count)."""
    return events.groupBy("event_type").agg(F.count("*").alias("cnt"))


def range_rollup(events: DataFrame, start: str, end: str) -> DataFrame:
    """A3: date-range roll-up with div-by-zero-guarded derived metrics
    (the reference's ternaries at analytics_service.py:312,331)."""
    e = with_date_hour(events).filter(F.col("date").between(start, end))
    agg = e.groupBy("user_id").agg(
        F.count("*").alias("api_calls"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("error_count"),
    )
    return agg.select(
        "user_id",
        "api_calls",
        "total_value",
        "error_count",
        F.when(
            F.col("api_calls") > 0,
            F.round((F.col("api_calls") - F.col("error_count")) * 100.0 / F.col("api_calls"), 2),
        )
        .otherwise(F.lit(0.0))
        .alias("success_rate"),
    )


def today_stats(events: DataFrame, today: str = ANCHOR_DATE) -> DataFrame:
    """A10: point aggregate of one day (the 'real-time' plane)."""
    e = with_date_hour(events).filter(F.col("date") == today)
    return e.agg(
        F.count("*").alias("api_calls"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errors"),
        F.round(F.sum("value") / 1024.0, 4).alias("value_kb"),
    )


def multi_window_dashboard(events: DataFrame, anchor: str = ANCHOR_DATE) -> DataFrame:
    """A11: 7/30/90-day windows in ONE scan via conditional aggregation —
    the reference recomputes 3 overlapping ranges (analytics_service.py:452-492)."""
    e = with_date_hour(events)
    d = F.col("date")

    def win(days: int, col, name):
        lo = F.date_format(F.date_sub(F.lit(anchor).cast("date"), days - 1), "yyyy-MM-dd")
        return F.sum(F.when((d >= lo) & (d <= anchor), col).otherwise(F.lit(0))).alias(name)

    return e.groupBy("user_id").agg(
        win(7, F.lit(1), "calls_7d"),
        win(30, F.lit(1), "calls_30d"),
        win(90, F.lit(1), "calls_90d"),
        F.round(win(7, F.col("value"), "_v7"), 2).alias("value_7d"),
        F.round(win(30, F.col("value"), "_v30"), 2).alias("value_30d"),
    )


def dense_date_trend(spark: SparkSession, events: DataFrame,
                     start: str = SPINE_START, end: str = SPINE_END) -> DataFrame:
    """J1: dense date spine LEFT JOIN daily counts with zero-fill — replaces
    the reference's 2-RPC-per-day loop (analytics_service.py:421-444).
    The aggregated daily frame is date-cardinality -> broadcast it so the
    join never shuffles (the spine, the preserved side, streams)."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
        ).alias("d")
    ).select(F.date_format("d", "yyyy-MM-dd").alias("date"))
    daily = (
        with_date_hour(events)
        .groupBy("date")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    # broadcast the BUILD side: for a LEFT OUTER join the preserved side
    # (spine) is streamed and only the right side can back a
    # BroadcastHashJoin — a hint on spine is unusable and the join would
    # silently fall back to a shuffle. daily is date-cardinality rows
    # after its aggregation (bounded by the spine range), so it is the
    # tiny side regardless of fact-table size.
    return (
        spine
        .join(F.broadcast(daily), "date", "left")
        .select(
            "date",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


def two_stream_zip(events: DataFrame) -> DataFrame:
    """J2: per-day counts of two event streams, full-outer zipped by date."""
    e = with_date_hour(events)
    clicks = e.filter(F.col("event_type") == "click").groupBy("date").agg(F.count("*").alias("clicks"))
    purchases = e.filter(F.col("event_type") == "purchase").groupBy("date").agg(F.count("*").alias("purchases"))
    return clicks.join(purchases, "date", "full").select(
        "date",
        F.coalesce("clicks", F.lit(0)).alias("clicks"),
        F.coalesce("purchases", F.lit(0)).alias("purchases"),
    )


def top_event_types_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """W1: top-k endpoints per user; ties pinned (cnt DESC, event_type ASC)."""
    counts = events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def date_range_filter(events: DataFrame, user_max: int, start: str, end: str) -> DataFrame:
    """F4: user + ISO-date-string range predicate (string compare, like the
    reference); prunes partitions when the table is date-partitioned."""
    e = with_date_hour(events)
    return (
        e.filter((F.col("user_id") <= user_max) & F.col("date").between(start, end))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def ttl_filter(events: DataFrame, now: str = NOW_TS) -> DataFrame:
    """F5: keep rows iff now < ts + value-seconds (strict, like db.py:116);
    `value` doubles as the per-row expire_in_seconds, floored."""
    keep = F.lit(now).cast("timestamp") < (
        F.col("ts") + F.expr("make_interval(0,0,0,0,0,0, CAST(floor(value) AS INT))")
    )
    return events.filter(keep).groupBy("event_type").agg(F.count("*").alias("alive"))


def _sorted_count_json(key_col: str, cnt_col: str):
    """Deterministic JSON rendering of a count-map: entries sorted by key.
    Used instead of MapType output so the DuckDB oracle can build the
    byte-identical string with string_agg(... ORDER BY key)."""
    return F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col(key_col), F.col(cnt_col)))),
                lambda e: F.concat(F.lit('"'), e[key_col], F.lit('":'), e[cnt_col].cast("string")),
            ),
            ",",
        ),
        F.lit("}"),
    )


def daily_rollup_maps(events: DataFrame) -> DataFrame:
    """A2: per (user_id, date) rollup with a map-typed breakdown column
    (the reference's `endpoints: {name: count}` Firestore field,
    analytics_service.py:152-169). Two-level aggregation: count per
    (user, date, type), then fold the types into one sorted-JSON map per
    (user, date) — partial aggregation bounds both shuffles."""
    per_type = (
        with_date_hour(events)
        .groupBy("user_id", "date", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    return per_type.groupBy("user_id", "date").agg(
        F.sum("cnt").alias("api_calls"),
        _sorted_count_json("event_type", "cnt").alias("event_types"),
    )


def map_merge(events: DataFrame) -> DataFrame:
    """A5: merge the per-day count-maps of A2 across days by summing values
    per key (analytics_service.py:314-320) — explode-regroup, the scalable
    form (never collects a whole map column to the driver)."""
    per_day = (
        with_date_hour(events)
        .groupBy("user_id", "date", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    merged = per_day.groupBy("user_id", "event_type").agg(F.sum("cnt").alias("cnt"))
    return merged.groupBy("user_id").agg(
        _sorted_count_json("event_type", "cnt").alias("event_types"),
        F.sum("cnt").alias("api_calls"),
    )


def merge_upsert(events: DataFrame, split: str = "2024-01-15") -> DataFrame:
    """S10/T5: keyed read-modify-write upsert semantics as a relational
    expression — `existing` (days < split) merged with `batch`
    (days >= split) on (user_id, date)-like key (user_id, event_type):
    matched keys add counters, unmatched insert. This is the logical form
    of the pipeline's Iceberg `MERGE INTO`; full-outer + coalesce is its
    engine-portable equivalent."""
    e = with_date_hour(events)
    existing = (
        e.filter(F.col("date") < split)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("calls"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    batch = (
        e.filter(F.col("date") >= split)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("calls"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    ex = existing.alias("ex")
    ba = batch.alias("ba")
    return (
        ex.join(ba, ["user_id", "event_type"], "full")
        .select(
            "user_id",
            "event_type",
            (F.coalesce(F.col("ex.calls"), F.lit(0)) + F.coalesce(F.col("ba.calls"), F.lit(0))).alias("calls"),
            F.round(
                F.coalesce(F.col("ex.total_value"), F.lit(0.0))
                + F.coalesce(F.col("ba.total_value"), F.lit(0.0)),
                2,
            ).alias("total_value"),
        )
    )


def latest_per_user(events: DataFrame, k: int = 2) -> DataFrame:
    """W3: most-recent k rows per user (ORDER BY created_at DESC per user,
    api_token_service.py:150-156); ties pinned by event_id desc."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "rk",
        )
    )


def hour_histogram(events: DataFrame) -> DataFrame:
    """T3: tumbling 1-day/1-hour window counts ≡ groupBy derived cols."""
    return with_date_hour(events).groupBy("hour").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("user_id").alias("users"),
    )


def sliding_window_rate(events: DataFrame, day: str = "2024-01-15") -> DataFrame:
    """T4: sliding-window rate counts (the reference's per-min/hour/day
    rate limits, rate_limit.py:113-129) — 1-hour window sliding every
    15 min via the built-in `window()` generator; each event lands in 4
    overlapping windows (one shuffle-free projection + hash agg).
    Restricted to one day of window starts so the oracle range-join stays
    small; window_start pins row identity."""
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        events.select(w.alias("w"), "user_id")
        .withColumn("window_start", F.date_format("w.start", "yyyy-MM-dd HH:mm:ss"))
        .filter(
            F.col("window_start").between(f"{day} 00:00:00", f"{day} 23:45:00")
        )
        .groupBy("window_start")
        .agg(F.count("*").alias("cnt"), F.countDistinct("user_id").alias("users"))
    )


def late_data_watermark(events: DataFrame, delay_days: int = 3) -> DataFrame:
    """T2: batch form of watermark/late-data semantics — per user, events
    older than (max event-time - delay) count as dropped. In a streaming
    variant this is `withWatermark(ts, '3 days')`; the batch equivalent is
    one analytic max + a conditional aggregate (no second scan)."""
    w = Window.partitionBy("user_id")
    mark = F.max("ts").over(w) - F.expr(f"INTERVAL {delay_days} DAYS")
    return (
        events.withColumn("late", F.col("ts") < mark)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(~F.col("late"), 1).otherwise(0)).alias("kept"),
            F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("dropped"),
        )
    )


def set_ops_weeks(events: DataFrame) -> DataFrame:
    """§2.7 set operations: distinct (user_id, event_type) activity pairs
    of week 1 vs week 2 combined via UNION / INTERSECT / EXCEPT — the
    checkpoint-resume primitive (`committed ∪ newly_done`) plus its dual
    forms. Each distinct is a hash agg; counts returned as one tiny frame."""
    e = with_date_hour(events)
    w1 = e.filter(F.col("date") <= "2024-01-07").select("user_id", "event_type").distinct()
    w2 = (
        e.filter(F.col("date").between("2024-01-08", "2024-01-14"))
        .select("user_id", "event_type")
        .distinct()
    )
    u = w1.union(w2).distinct().agg(F.count("*").alias("n")).select(F.lit("union").alias("op"), "n")
    i = w1.intersect(w2).agg(F.count("*").alias("n")).select(F.lit("intersect").alias("op"), "n")
    x = w1.exceptAll(w2).agg(F.count("*").alias("n")).select(F.lit("except").alias("op"), "n")
    return u.unionByName(i).unionByName(x)


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity boundary


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Classic gap-based sessionization: per user, a new session starts
    when the inactivity gap exceeds ``gap_us``; emits per-session rollups
    (user_id, session_no, n_events, start_us, end_us, duration_us).

    Shape: ONE window partitioned by user_id (lag for the gap, running
    sum of boundaries for the session ordinal) + one partial-agg rollup
    on (user_id, session_no). At 10^12 events this is the canonical
    partitioned-window plan — one hash exchange on user_id, per-user
    state only, no global sort (the lag and the cumsum share the same
    window frame, so Spark sorts each user's partition slice once).

    Cross-engine exactness: timestamps compared in integer MICROSECONDS
    (unix_micros / epoch_us — parquet's native resolution; casting to
    seconds would truncate and merge distinct instants), ties in the
    event order pinned by event_id."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    # ts is parquet TIMESTAMP_NTZ; the session is pinned UTC, so the cast
    # to instant-typed TIMESTAMP is identity and unix_micros == epoch_us
    e = events.select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    gap = F.col("us") - F.lag("us").over(w)
    flagged = e.select(
        "user_id",
        "us",
        "event_id",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0).alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "us",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int").alias(
            "session_no"
        ),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention (the classic product-analytics matrix the
    reference's dashboard plane stops short of): cohort = ISO week of a
    user's FIRST event, and for every later active week the count of
    cohort users still active at that week offset. Emits
    (cohort_week, week_offset, n_users).

    Cross-engine contract: both engines' date_trunc('week') is
    ISO/Monday-start, and offsets are exact integer day-diffs / 7 (the
    truncated weeks are always 7-day aligned, so the division is exact).

    Scale shape: distinct (user, week) activity first — the exchange
    carries two ints per user-week, never event rows — then one
    groupBy(user) for the cohort and one groupBy(cohort, offset) for the
    matrix; the cohort frame joins back on user_id (co-partitioned with
    the activity distinct, AQE broadcasts it when small)."""
    wk = F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    act = events.select("user_id", wk).distinct()
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        # input is distinct (user, wk) pairs and offset is a function of
        # wk, so each user appears once per group: COUNT(*) == COUNT
        # DISTINCT without the extra dedup pass
        .agg(F.count("*").alias("n_users"))
    )


FUNNEL_STEPS = ("view", "click", "purchase")


def event_funnel(events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS) -> DataFrame:
    """Ordered funnel conversion (the other classic the dashboard plane
    implies): a user reaches step k iff they have a step-k event STRICTLY
    AFTER their earliest step-(k-1) reach time — time-ordered semantics,
    not mere event presence. Emits one row per step: (step_idx, step,
    n_users, rate_vs_first round-4).

    Scale shape: per step one conditional-min aggregation over events
    co-grouped by user_id plus one user-keyed equi-join carrying a single
    timestamp — the event table is scanned once per step with the step
    filter pushed down, and every exchange is user_id-keyed (AQE
    broadcasts the shrinking reach frames). |steps| is a small literal,
    so the whole funnel is ONE fixed-depth lazy plan (per-step counts
    union into a |steps|-row frame; nothing collects at build time, and
    Spark reuses each reach subtree across the steps that extend it).

    Cross-engine float contract: rate via F.round (HALF_UP, matching
    DuckDB ROUND — python round() is banker's and diverges on exact
    5e-5 ties); an empty first step yields NULL rates, matching the
    oracle's 0/0."""
    from pyspark.sql import Window

    reach = None  # (user_id, t_k) for the current step
    per_step = []
    for k, step in enumerate(steps):
        ev_k = events.filter(F.col("event_type") == step).select("user_id", "ts")
        if reach is None:
            reach = ev_k.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            reach = (
                ev_k.join(reach, "user_id")
                .filter(F.col("ts") > F.col("t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        per_step.append(
            reach.agg(F.count("*").alias("n_users")).select(
                F.lit(k).alias("step_idx"),
                F.lit(step).alias("step"),
                F.col("n_users"),
            )
        )
    u = per_step[0]
    for frame in per_step[1:]:
        u = u.unionByName(frame)
    first = F.max(
        F.when(F.col("step_idx") == 0, F.col("n_users"))
    ).over(Window.partitionBy())
    rate = F.when(first > 0, F.round(F.col("n_users") / first, 4))
    return u.select("step_idx", "step", "n_users", rate.alias("rate_vs_first"))


ANOMALY_WINDOW = 7      # trailing days in the baseline
ANOMALY_Z = 2.0         # |z| beyond this flags the day


def daily_anomalies(events: DataFrame) -> DataFrame:
    """Daily-volume anomaly flags: each CALENDAR day's event count scored
    against the mean/stddev of the preceding ANOMALY_WINDOW calendar days
    (trailing frame excluding the current row — the day can't normalize
    itself). The daily aggregate is densified onto a min..max date spine
    with zero-fill first, so (a) a zero-event outage day gets a row and
    CAN be flagged — the most extreme volume anomaly — and (b) the ROWS
    frame is truly 7 calendar days, never 7 observed-active days
    stretched over a gap. Days without a full baseline carry NULL z and
    never flag.

    Cross-engine float contract: no stddev function — Welford-vs-
    segment-tree summation orders differ between engines. The trailing
    Σx and Σx² are EXACT integer window sums; mean/variance/z derive
    from them through a pinned IEEE expression (identical integer inputs
    + identical operation order = identical doubles), variance via the
    (Σx² − (Σx)²/n)/(n−1) identity.

    Scale shape: the window runs over the calendar-bounded daily spine
    (one row per day); the corpus-wide work is one groupBy(date) count."""
    from pyspark.sql import Window

    daily = events.groupBy(F.to_date("ts").alias("date")).agg(
        F.count("*").alias("n_events")
    )
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("date")
    )
    dense = spine.join(daily, "date", "left").select(
        "date", F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events")
    )
    w = Window.orderBy("date").rowsBetween(-ANOMALY_WINDOW, -1)
    n = ANOMALY_WINDOW
    sx = F.sum("n_events").over(w)
    sq = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    nwin = F.count("n_events").over(w)
    mean = sx / float(n)
    var = (sq - sx * sx / float(n)) / float(n - 1)
    std = F.sqrt(var)
    z = F.when(
        (nwin >= n) & (var > 0),
        F.round((F.col("n_events") - mean) / std, 4),
    )
    # var = 0 branch: a perfectly flat baseline (constant daily counts,
    # e.g. all-zero during an outage window) makes z undefined, but any
    # departure from that constant IS an anomaly — without this branch a
    # total-outage day after a flat week would never flag (round-3 advice).
    flat_anom = (nwin >= n) & (var == 0) & (F.col("n_events") != mean)
    return dense.select(
        "date",
        "n_events",
        F.when(nwin >= n, F.round(mean, 4)).alias("baseline_mean"),
        F.when(nwin >= n, F.round(std, 4)).alias("baseline_std"),
        z.alias("z"),
        (F.coalesce(F.abs(z) > ANOMALY_Z, F.lit(False)) | flat_anom).alias("is_anomaly"),
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch channel attribution: each purchase is credited to the
    type of the user's most recent PRIOR non-purchase event (ties on ts
    broken by event_id — cross-engine frame order must be total);
    purchases with no prior touch credit 'none'. Emits per channel:
    (channel, n_purchases, share round-4).

    Scale shape: one window partitioned by user_id ordered by
    (ts, event_id) — per-user state — computing a conditional
    last-ignoring-nulls over the preceding frame; then a channel-keyed
    rollup of |channels| rows. The share window runs over that grouped
    frame, not the corpus."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    credited = (
        events.select("user_id", "ts", "event_id", "event_type", touch.alias("t"))
        .filter(F.col("event_type") == "purchase")
        .select(F.coalesce("t", F.lit("none")).alias("channel"))
    )
    g = credited.groupBy("channel").agg(F.count("*").alias("n_purchases"))
    tot = F.sum("n_purchases").over(Window.partitionBy())
    return g.select(
        "channel", "n_purchases",
        F.round(F.col("n_purchases") / tot, 4).alias("share"),
    )


def first_touch_attribution(events: DataFrame) -> DataFrame:
    """First-touch counterpart of last_touch_attribution: each purchase
    credits the user's earliest NON-purchase event preceding the
    purchase (earlier purchases are skipped; 'none' when no prior
    non-purchase event exists) — the acquisition-channel view. Same
    window machinery, frame order pinned by (ts, event_id)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.first(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    credited = (
        events.select("user_id", "ts", "event_id", "event_type", touch.alias("t"))
        .filter(F.col("event_type") == "purchase")
        .select(F.coalesce("t", F.lit("none")).alias("channel"))
    )
    g = credited.groupBy("channel").agg(F.count("*").alias("n_purchases"))
    tot = F.sum("n_purchases").over(Window.partitionBy())
    return g.select(
        "channel", "n_purchases",
        F.round(F.col("n_purchases") / tot, 4).alias("share"),
    )
