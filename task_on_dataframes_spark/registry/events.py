"""Event-stream batch analytics (sessionize/funnel/retention/gap-fill) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _events, query


# ---------------------------------------------------------------------------
# events: batch time-window aggregation (§2.9 ⊕)
# ---------------------------------------------------------------------------

@query(oracle=(
    "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_value FROM events "
    "GROUP BY date_trunc('hour', ts), event_type"
))
def _ev_hourly_agg(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )

# open/close replay via ordered first/last on the unique
# (ts, event_id) prefix — mirrors Spark's struct-min/max
@query(oracle=(
    "SELECT date_trunc('hour', ts) AS hour, event_type, "
    "first(value ORDER BY ts, event_id) AS open, "
    "max(value) AS high, min(value) AS low, "
    "last(value ORDER BY ts, event_id) AS close, "
    "count(*) AS n, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_value FROM events "
    "GROUP BY date_trunc('hour', ts), event_type"
))
def _ev_ohlc_bars(spark, sf_dir):
    """Hourly OHLC bars per event_type — the classic time-series
    downsample (hypertable continuous-aggregate shape): open/close are
    the first/last value by (ts, event_id) inside the bar, high/low the
    extrema, plus count and a decimal-exact sum. ONE keyed groupBy —
    open/close come from min/max over a (ts, event_id, value) struct
    (lexicographic struct ordering; the unique event_id prefix makes
    ties impossible), so there is no window and no second shuffle. At
    100 TB this is a single map-side-combinable aggregate over the
    natural (hour, type) keys."""
    ev = _events(spark, sf_dir)
    s = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.min(s).getField("value").alias("open"),
            F.max(F.col("value")).alias("high"),
            F.min(F.col("value")).alias("low"),
            F.max(s).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )

@query(oracle=(
    # an event at t belongs to the 4 sliding windows starting at
    # floor(t/900)*900 - k*900, k in 0..3
    "SELECT CAST(to_timestamp(CAST(floor(epoch(e.ts) / 900) * 900 "
    "- k.k * 900 AS BIGINT)) AS TIMESTAMP) AS win_start, "
    "e.event_type, count(*) AS n, "
    "CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_value "
    "FROM events e CROSS JOIN "
    "(SELECT unnest(generate_series(0, 3)) AS k) k "
    "GROUP BY 1, 2"
))
def _ev_sliding_agg(spark, sf_dir):
    """1-hour windows sliding every 15 minutes: each event lands in 4
    windows. Spark's F.window replicates rows window-count times before
    the keyed agg — shuffle volume is events x (len/slide), bounded and
    keyed, no cross product."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )

@query(oracle=(
    "WITH g AS (SELECT user_id, event_id, value, ts, "
    "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
    "THEN 1 ELSE 0 END AS new_sess FROM events), "
    "s AS (SELECT user_id, value, sum(new_sess) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq "
    "FROM g) "
    "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
    "count(*) AS n_events, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS session_value FROM s "
    "GROUP BY user_id, session_seq"
))
def _ev_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization: a new session starts after a
    >30min silence per user. Pure window functions — no UDF."""
    ev = _events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact-microsecond gap so batch, streaming (_GAP_US), and the
    # epoch_us() DuckDB oracle all agree on the >30min boundary even for
    # timestamps that differ by sub-second amounts around 1800s.
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w_user)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    with_flag = ev.withColumn("new_sess", new_sess)
    sess_id = F.sum("new_sess").over(
        w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_sess = with_flag.withColumn("session_seq", sess_id)
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("session_value"),
        )
    )

@query(oracle=(
    "WITH stats AS (SELECT event_type, count(*) AS n, "
    "sum(CAST(value AS DECIMAL(18,6))) AS s1, "
    "sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) "
    "AS s2 FROM events GROUP BY event_type), "
    "st AS (SELECT event_type, n, "
    "CAST(s1 AS DOUBLE) / n AS mean, "
    "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * "
    "CAST(s1 AS DOUBLE) / n) / (n - 1)) AS std FROM stats), "
    "fl AS (SELECT e.event_type FROM events e "
    "JOIN st ON e.event_type = st.event_type "
    "WHERE abs((e.value - st.mean) / st.std) > 2) "
    "SELECT f.event_type, count(*) AS n_anomalies, "
    "round(count(*) / st.n, 6) AS rate "
    "FROM fl f JOIN st ON f.event_type = st.event_type "
    "GROUP BY f.event_type, st.n"
))
def _ev_zscore_anomalies(spark, sf_dir):
    """Group-wise standardization: per event_type mean/std of value
    from DECIMAL-exact moment sums (sum, sum of squares) so the
    statistics are partition-order-proof, then the count of |z| > 2
    anomalies per type. One shuffle (the moments aggregate); the
    z-score pass joins the tiny per-type stats back broadcast."""
    ev = _events(spark, sf_dir)
    vdec = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    # moments -> mean/std: cast the EXACT decimal sums to double first,
    # then do identical scalar double ops on both engines (decimal
    # division scale/rounding rules differ between engines; double
    # arithmetic on identical inputs does not)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    stats = stats.select(
        "event_type",
        "n",
        (s1d / F.col("n")).alias("mean"),
        F.sqrt(
            (s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)
        ).alias("std"),
    )
    flagged = ev.join(F.broadcast(stats), on="event_type").filter(
        F.abs((F.col("value") - F.col("mean")) / F.col("std")) > 2
    )
    return (
        flagged.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_anomalies"))
        .join(stats.select("event_type", "n"), on="event_type")
        .select(
            "event_type",
            "n_anomalies",
            F.round(F.col("n_anomalies") / F.col("n"), 6).alias("rate"),
        )
    )

@query(oracle=(
    "WITH s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' "
    "THEN epoch_us(ts) END) AS t_view FROM events GROUP BY user_id), "
    "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click "
    "FROM events e JOIN s1 ON e.user_id = s1.user_id "
    "WHERE e.event_type = 'click' AND s1.t_view IS NOT NULL "
    "AND epoch_us(e.ts) > s1.t_view "
    "AND epoch_us(e.ts) <= s1.t_view + 86400000000 "
    "GROUP BY e.user_id), "
    "s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase "
    "FROM events e JOIN s2 ON e.user_id = s2.user_id "
    "WHERE e.event_type = 'purchase' "
    "AND epoch_us(e.ts) > s2.t_click "
    "AND epoch_us(e.ts) <= s2.t_click + 86400000000 "
    "GROUP BY e.user_id) "
    "SELECT '1_view' AS stage, count(*) AS n FROM s1 "
    "WHERE t_view IS NOT NULL "
    "UNION ALL SELECT '2_click', count(*) FROM s2 "
    "UNION ALL SELECT '3_purchase', count(*) FROM s3"
))
def _ev_funnel(spark, sf_dir):
    """Conversion funnel: per user, the first view -> first click after
    it -> first purchase after that, each within 24h of the previous
    step; output the per-stage user counts. One aggregation per stage
    over conditional mins — the fact table shuffles once on user_id
    (all three stages come from a single groupBy)."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
    )
    # stage 2/3 join the per-user stage table back onto events on
    # user_id — per-user aggregates are bounded by user cardinality, so
    # the join keys on the natural key and AQE broadcasts when small
    DAY_US = 86400 * 1_000_000
    ev2 = ev.join(per_user, on="user_id")
    stage2 = ev2.filter(
        (F.col("event_type") == "click")
        & F.col("t_view").isNotNull()
        & (us > F.col("t_view"))
        & (us <= F.col("t_view") + F.lit(DAY_US))
    ).groupBy("user_id").agg(F.min(us).alias("t_click"))
    ev3 = ev.join(stage2, on="user_id")
    stage3 = ev3.filter(
        (F.col("event_type") == "purchase")
        & (us > F.col("t_click"))
        & (us <= F.col("t_click") + F.lit(DAY_US))
    ).groupBy("user_id").agg(F.min(us).alias("t_purchase"))
    return (
        per_user.filter(F.col("t_view").isNotNull())
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("1_view").alias("stage"), "n")
        .unionByName(
            stage2.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("2_click").alias("stage"), "n"
            )
        )
        .unionByName(
            stage3.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("3_purchase").alias("stage"), "n"
            )
        )
    )

@query(oracle=(
    "WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, "
    "event_type, count(*) AS cnt FROM events "
    "GROUP BY 1, 2), "
    "bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, "
    "date_trunc('hour', max(ts)) AS hi FROM events), "
    "spine_hours AS (SELECT unnest(generate_series(lo, hi, "
    "INTERVAL 1 HOUR)) AS hour FROM bounds), "
    "types AS (SELECT DISTINCT event_type FROM events), "
    "spine AS (SELECT hour, event_type FROM spine_hours, types) "
    "SELECT s.hour, s.event_type, "
    "coalesce(h.cnt, 0) AS n "
    "FROM spine s LEFT JOIN hourly h "
    "ON s.hour = h.hour AND s.event_type = h.event_type"
))
def _ev_gap_fill(spark, sf_dir):
    """Zero-filled hourly time series (date-spine gap filling): the
    spine is sequence(min_hour, max_hour) x distinct event types —
    both dimension-sized, built without touching the fact table twice
    (min/max come from one aggregate), joined LEFT against the hourly
    counts so silent hours surface as n=0. The fact table aggregates
    once; the spine side broadcasts."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine_hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    spine = spine_hours.crossJoin(F.broadcast(types))
    return (
        spine.join(hourly, on=["hour", "event_type"], how="left")
        .select(
            "hour",
            "event_type",
            F.coalesce("cnt", F.lit(0)).alias("n"),
        )
    )

@query(oracle=(
    "SELECT CAST(floor(CAST(json_extract_string(props, '$.k') "
    "AS INT) / 10) AS INT) AS k_bucket, count(*) AS n, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_value FROM events GROUP BY 1 ORDER BY k_bucket"
))
def _ev_json_props(spark, sf_dir):
    """Semi-structured extraction: parse the events `props` JSON
    column, bucket the numeric field, aggregate per bucket. The JSON
    path evaluates inside the scan stage (no UDF); sums are
    decimal-exact."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(F.floor(k / 10).cast("int").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")), 4
            )
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("k_bucket")
    )

@query(oracle=(
    "WITH first AS (SELECT user_id, min(date_trunc('day', ts)) AS "
    "cohort_day FROM events GROUP BY user_id) "
    "SELECT f.cohort_day, CAST(floor(date_diff('day', "
    "CAST(f.cohort_day AS DATE), CAST(e.ts AS DATE)) / 7) AS BIGINT) "
    "AS week_offset, count(DISTINCT e.user_id) AS n_users "
    "FROM events e JOIN first f ON e.user_id = f.user_id "
    "GROUP BY 1, 2"
))
def _ev_retention(spark, sf_dir):
    """Cohort retention: users cohorted by first-event date, then
    distinct-user counts per (cohort_day, weeks-since-first). Two keyed
    aggregations on user_id plus one join back; the per-user first-day
    frame is user-cardinality-sized so AQE broadcasts it and the fact
    table shuffles once for the cohort count."""
    ev = _events(spark, sf_dir)
    # day-truncated TIMESTAMP (not DATE) so both engines serialize the
    # cohort key identically — the ev_hourly_agg-proven pattern
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date("cohort_day")) / 7
    ).alias("week_offset")
    return (
        ev.join(first, on="user_id")
        .select("user_id", "cohort_day", week)
        .groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(oracle=(
    "WITH o AS (SELECT user_id, ts, value, epoch_us(ts) AS us, "
    "lag(epoch_us(ts)) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) AS prev_us FROM events), "
    "f AS (SELECT user_id, ts, value, us, CASE WHEN prev_us IS NULL "
    "OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s "
    "FROM o), "
    "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id "
    "ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f) "
    "SELECT user_id, min(ts) AS session_start, "
    "max(ts) + INTERVAL 30 MINUTE AS session_end, "
    "count(*) AS n_events, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS session_value FROM g GROUP BY user_id, sid"
))
def _ev_session_window_builtin(spark, sf_dir):
    """Spark's built-in ``session_window`` aggregation (the canonical
    dynamic-gap session primitive — state-store-backed in streaming,
    a single keyed aggregation in batch). Semantics differ from the
    gaps-and-islands twin ``ev_sessionize`` at the exact boundary: an
    event merges into the open window only while its time is STRICTLY
    before window end (gap < 30min continues; gap >= 30min splits),
    and the window end extends past the last event by the gap. The
    DuckDB oracle replays the >= boundary islands formulation in exact
    microseconds."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(oracle=(
    "WITH pairs AS (SELECT from_type, to_type FROM ("
    "SELECT event_type AS from_type, lead(event_type) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS to_type "
    "FROM events) WHERE to_type IS NOT NULL), "
    "c AS (SELECT from_type, to_type, count(*) AS n FROM pairs "
    "GROUP BY 1, 2) "
    "SELECT from_type, to_type, n, round(n / CAST(sum(n) OVER "
    "(PARTITION BY from_type) AS DOUBLE), 6) AS p FROM c"
))
def _ev_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lead() within (user, ts, event_id) order gives the next
    event type; counts + per-source-state probabilities (round 6) form
    the behavior model. One window shuffle keyed on user, one pair
    aggregation keyed on the 25-cell transition space."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


@query(oracle=(
    "WITH latest AS (SELECT user_id, event_type, value, "
    "row_number() OVER (PARTITION BY user_id "
    "ORDER BY ts DESC, event_id DESC) AS rn FROM events), "
    "c AS (SELECT user_id, count(*) AS n_ops FROM events "
    "GROUP BY user_id) "
    "SELECT l.user_id, l.event_type AS last_op, "
    "round(CAST(l.value AS DOUBLE), 6) AS last_value, c.n_ops "
    "FROM latest l JOIN c USING (user_id) "
    "WHERE rn = 1 AND event_type <> 'error'"
))
def _ev_cdc_apply(spark, sf_dir):
    """Ordered changelog fold: treat the event stream as a CDC log
    (signup/view/click/purchase upsert a user's value, error is a
    tombstone) and materialize the CURRENT state — the last-writer-wins
    row per key, dropped if the final op is a delete. One window per
    user key (bounded per key, never global), ordered by (ts,
    event_id) so concurrent-timestamp ties are deterministic on any
    engine. This is the full-log fold that complements j8_upsert's
    single-batch SCD-1 merge; at 100 TB the log shuffles once on its
    key and state is key-cardinality sized."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ops"))
    return (
        latest.filter(F.col("event_type") != "error")
        .join(counts, "user_id")
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.round(F.col("value").cast("double"), 6).alias("last_value"),
            "n_ops",
        )
    )


@query(oracle=(
    "WITH med AS (SELECT event_type, "
    "quantile_cont(value, 0.5) AS med, count(*) AS n "
    "FROM events GROUP BY event_type), "
    "mad AS (SELECT e.event_type, "
    "quantile_cont(abs(e.value - m.med), 0.5) AS mad "
    "FROM events e JOIN med m USING (event_type) "
    "GROUP BY e.event_type) "
    "SELECT e.event_type, any_value(m.n) AS n, "
    "round(any_value(m.med), 6) AS med, "
    "round(any_value(d.mad), 6) AS mad, "
    "CAST(sum(CASE WHEN round(abs(e.value - m.med), 6) > "
    "round(3 * d.mad, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_anom "
    "FROM events e JOIN med m USING (event_type) "
    "JOIN mad d USING (event_type) GROUP BY e.event_type"
))
def _ev_anomaly_mad(spark, sf_dir):
    """Robust anomaly counts: median/MAD instead of mean/stddev (the
    z-score twin ev_zscore_anomalies is itself skewed by the outliers
    it hunts; median absolute deviation is breakdown-point-0.5 robust).
    Two exact-percentile aggregations per event type plus one counting
    pass — each group's median state is bounded, the fact table
    shuffles keyed on event_type only. Comparisons round to 1e-6 so
    both engines' percentile interpolation agrees at the boundary."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.sum(
            (
                F.round(F.abs(F.col("value") - F.col("med")), 6)
                > F.round(3 * F.col("mad"), 6)
            ).cast("long")
        ).alias("n_anom"),
    )
