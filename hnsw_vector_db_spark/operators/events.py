"""Temporal/relational operators over the events stream table: windowed
aggregation, sessionization, as-of join, range join, JSON extraction.

The reference's only temporal structure is the Raft command log — an
ordered stream of mutations applied in sequence (`distributed/raft/
node.py:298-309`). These operators are the batch forms of the streaming
semantics that replace it (see streaming/); each has an exact SQL oracle.

Scale notes: every operator shuffles at most once on (user_id) or the
window bucket; the as-of join uses the union-and-carry-forward pattern
(one sort within key partitions — no point-lookup joins, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def windowed_agg(
    events: DataFrame,
    duration: str = "15 minutes",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums per group — batch twin of the streaming
    windowed aggregation (streaming/windows.py). Epoch-aligned buckets ==
    DuckDB time_bucket. Output (window_start, <group>, n_events, sum_value,
    avg_value)."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), duration).start.alias("window_start"),
            F.col(group_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def sliding_windowed_agg(
    events: DataFrame,
    duration: str = "30 minutes",
    slide: str = "10 minutes",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Sliding-window counts (batch twin of streaming/windows.py's
    stream_sliding_avg): each event lands in duration/slide windows —
    Spark's window() explodes them; cost is the fanout factor, and the
    aggregation stays partial+final. Output (window_start, <group>,
    n_events, sum_value)."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), duration, slide).start.alias("window_start"),
            F.col(group_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def value_percentiles(
    events: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark `percentile`
    == ANSI percentile_cont == DuckDB quantile_cont). Exact percentile is
    a sort-within-group; at 100 TB swap in approx_percentile (t-digest)
    and accept the documented error bound. Output (event_type, p50, p90, p99)."""
    return events.groupBy(group_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("p50"),
        F.round(F.expr(f"percentile({value_col}, 0.9)"), 6).alias("p90"),
        F.round(F.expr(f"percentile({value_col}, 0.99)"), 6).alias("p99"),
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the previous
    event of the same key is more than ``gap_minutes`` older. Classic
    lag + running-sum — one shuffle on the key. Output per session:
    (user_id, session_id, session_start, session_end, n_events)."""
    gap = gap_minutes * 60
    w = Window.partitionBy(key_col).orderBy(ts_col)
    with_flag = events.withColumn(
        "_new_sess",
        F.when(
            F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w) > gap,
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    with_id = with_flag.withColumn(
        "session_id",
        F.sum("_new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_id.groupBy(key_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    within_minutes: int = 24 * 60,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequential first-touch funnel: per key, the earliest step-1 event,
    the earliest step-2 event STRICTLY after it, the earliest step-3
    event strictly after that; ``completed`` iff all three occur and the
    step1 -> step3 span is within ``within_minutes``. Strict ``>``
    ordering (not >=) makes same-timestamp ties non-qualifying — the
    deterministic, engine-portable rule.

    Scale shape: ONE shuffle total. The three chained minima are window
    aggregates over the same ``partitionBy(key)`` — Catalyst plans
    consecutive windows on one partitioning as a single Exchange+Sort —
    and the final per-key collapse reuses that partitioning. No joins,
    no per-step passes over the corpus. Fully deterministic ->
    oracle-checked (the SQL twin uses the equivalent 3-CTE group-min
    form). Output (user_id, t1, step_reached, funnel_seconds, completed),
    one row per key that reached step 1.
    """
    s1, s2, s3 = steps
    w = Window.partitionBy(key_col)
    t = F.col(ts_col)
    with_t = (
        events.withColumn(
            "_t1", F.min(F.when(F.col(type_col) == s1, t)).over(w)
        )
        .withColumn(
            "_t2",
            F.min(
                F.when((F.col(type_col) == s2) & (t > F.col("_t1")), t)
            ).over(w),
        )
        .withColumn(
            "_t3",
            F.min(
                F.when((F.col(type_col) == s3) & (t > F.col("_t2")), t)
            ).over(w),
        )
    )
    per_key = (
        with_t.filter(F.col("_t1").isNotNull())
        .groupBy(key_col)
        .agg(
            F.max("_t1").alias("t1"),  # constant within key
            F.max("_t2").alias("_t2"),
            F.max("_t3").alias("_t3"),
        )
    )
    span = F.col("_t3").cast("long") - F.col("t1").cast("long")
    return per_key.select(
        key_col,
        "t1",
        F.when(F.col("_t3").isNotNull(), 3)
        .when(F.col("_t2").isNotNull(), 2)
        .otherwise(1)
        .cast("int")
        .alias("step_reached"),
        span.alias("funnel_seconds"),
        (F.col("_t3").isNotNull() & (span <= within_minutes * 60)).alias(
            "completed"
        ),
    )


def cohort_retention(
    events: DataFrame,
    cohort_event: str = "signup",
    bucket_days: int = 7,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Cohort retention matrix: users bucket by the WEEK of their first
    ``cohort_event``; each later activity counts them active at offset
    floor(days-since-their-own-first-event / bucket_days). Output
    (cohort_week, week_offset, n_active) — the classic product-analytics
    triangle, fully deterministic (date arithmetic only) ->
    oracle-checked.

    Scale shape: the per-user first-event timestamp is a window minimum
    over ``partitionBy(key)`` — the funnel_steps pattern, ONE shuffle of
    the events on their own key and no join at all (measured 1.5x the
    join+groupBy formulation at 6.4M events) — and the final distinct
    aggregate groups on (cohort_week, offset, key) then (cohort_week,
    offset), both keyed and partial-combined.
    """
    w = Window.partitionBy(key_col)
    with_t0 = events.withColumn(
        "_t0",
        F.min(F.when(F.col(type_col) == cohort_event, F.col(ts_col))).over(w),
    ).filter(F.col("_t0").isNotNull())
    off = F.floor(
        F.datediff(F.col(ts_col), F.col("_t0")) / F.lit(float(bucket_days))
    )
    return (
        with_t0.withColumn("_off", off)
        .filter(F.col("_off") >= 0)
        .groupBy(
            F.date_format(F.date_trunc("week", F.col("_t0")), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.col("_off").cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct(key_col).alias("n_active"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: tuple[str, ...] = ("value",),
    tolerance_minutes: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts, per key (DuckDB's ASOF JOIN is the oracle).

    Implementation is the scalable union-merge: tag both sides, union,
    sort within key partitions, carry the last-seen right values forward
    with last_value(ignoreNulls) — one shuffle+sort on the key, linear in
    rows, no per-row lookup join. Works identically at 100 TB because the
    state carried is one row per key.
    """
    lt = left.withColumn("_side", F.lit(1))
    rt_cols = [F.col(c).alias(f"_r_{c}") for c in right_cols]
    rt = right.select(
        F.col(key_col),
        F.col(right_ts).alias(left_ts),
        F.lit(0).alias("_side"),
        *rt_cols,
    )
    for c in right_cols:
        lt = lt.withColumn(f"_r_{c}", F.lit(None).cast(right.schema[c].dataType))
    lt = lt.select(*[c for c in lt.columns])
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort before left rows at equal ts => "<=" semantics
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(left_ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned
    for c in right_cols:
        carried = carried.withColumn(
            f"asof_{c}", F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w)
        )
    carried = carried.withColumn(
        "_asof_ts", F.last(F.when(F.col("_side") == 0, F.col(left_ts)), ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_side") == 1)
    if tolerance_minutes is not None:
        tol = tolerance_minutes * 60
        within = (
            F.col(left_ts).cast("long") - F.col("_asof_ts").cast("long") <= tol
        ) & F.col("_asof_ts").isNotNull()
        for c in right_cols:
            out = out.withColumn(
                f"asof_{c}", F.when(within, F.col(f"asof_{c}"))
            )
        out = out.withColumn("_asof_ts", F.when(within, F.col("_asof_ts")))
    drop = ["_side"] + [f"_r_{c}" for c in right_cols]
    return out.drop(*drop).withColumnRenamed("_asof_ts", "asof_ts")


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_minutes: int = 5,
) -> DataFrame:
    """Interval join: pairs (l, r) on the same key with
    l.ts < r.ts <= l.ts + window. Equi-join on the key + range predicate;
    Spark plans SMJ on the key with the range as a post-filter (AQE handles
    key skew). Output: left row + matched right ts/value."""
    win = window_minutes * 60
    l = left.select(
        F.col(key_col),
        F.col(left_ts).alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.select(
        F.col(key_col),
        F.col(right_ts).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    cond = (F.col("r_ts") > F.col("l_ts")) & (
        F.col("r_ts").cast("long") <= F.col("l_ts").cast("long") + win
    )
    return l.join(r, on=key_col).filter(cond)


def json_props_stats(
    events: DataFrame, props_col: str = "props", group_col: str = "event_type"
) -> DataFrame:
    """Extract a typed field from the JSON props blob (the reference's
    untyped metadata, `api/rest/server.py:24`) and aggregate. Output
    (event_type, n, avg_k, max_k)."""
    k = F.get_json_object(F.col(props_col), "$.k").cast("int")
    return (
        events.withColumn("_k", k)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_k"), 6).alias("avg_k"),
            F.max("_k").alias("max_k"),
        )
    )


def interarrival_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-user inter-event gap statistics via lag windows — one shuffle
    on the key, then plain aggregation of the per-row deltas. Output
    (user_id, n_events, avg_gap_s, max_gap_s)."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    gaps = events.withColumn(
        "_gap",
        F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w),
    )
    return (
        gaps.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("_gap"), 6).alias("avg_gap_s"),
            F.max("_gap").alias("max_gap_s"),
        )
    )


def resample_ffill(
    events: DataFrame,
    every: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-series regularization: bucket each key's events onto a fixed
    grid, emit EVERY bucket between the key's first and last observation
    (gaps included), and forward-fill missing values with the last
    observed one — the resample step every metrics/feature pipeline runs
    before joining series on time.

    Per (key, bucket) the observed value is the LAST event's, with a
    deterministic (ts, id) tiebreak (``max_by`` over a struct). The grid
    is built per key from its own [min, max] bucket with
    ``sequence(..., interval)`` + explode — no cross join against a
    global calendar, so a key active for an hour costs one row, not the
    corpus's whole time range. The forward fill is
    ``last(ignorenulls)`` over a rows-frame window on the SAME key
    partitioning. The first grid bucket always holds an observation, so
    the fill never emits null. Output (key, bucket_start, value_ffill,
    is_gap), oracle-checked exactly (DuckDB time_bucket /
    generate_series / arg_max / last_value IGNORE NULLS)."""
    bucket = F.window(F.col(ts_col), every)["start"]
    b = (
        events.groupBy(F.col(key_col), bucket.alias("bucket"))
        .agg(
            F.max_by(
                F.col(value_col), F.struct(F.col(ts_col), F.col(id_col))
            ).alias("_v")
        )
    )
    r = b.groupBy(key_col).agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    grid = r.select(
        key_col,
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.expr(f"INTERVAL {every}"))
        ).alias("bucket"),
    )
    j = grid.join(b, [key_col, "bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        F.col(key_col),
        F.col("bucket").alias("bucket_start"),
        F.round(F.last("_v", ignorenulls=True).over(w), 6).alias("value_ffill"),
        F.col("_v").isNull().alias("is_gap"),
    )


def anomaly_zscore(
    events: DataFrame,
    window_s: int = 6 * 3600,
    min_prior: int = 5,
    z_cut: float = 3.0,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Rolling z-score anomaly detection: per key, each event's value is
    scored against the mean/stddev of that key's OWN events in the
    trailing ``window_s``-second time-RANGE frame ENDING ONE SECOND
    BEFORE it (the current row never contaminates its own baseline);
    rows with ``|z| >= z_cut`` and at least ``min_prior`` baseline
    events flag as anomalies. The monitoring primitive every metrics
    pipeline runs over its event firehose.

    Scale shape: the rolling_revenue lesson — a time-RANGE window frame
    over epoch seconds, ONE shuffle on the key (high-cardinality
    user_id, not the handful of event_types), no self-join against the
    baseline. Exclusive frame end (``-1 PRECEDING``) + sample stddev
    are both ANSI window constructs -> oracle-checked exactly (z rounded
    to 4 before the cut so the boundary comparison is bit-stable
    cross-engine). Output (user_id, event_id, epoch_s, value, n_prior, z).
    """
    epoch = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(epoch)
        .rangeBetween(-window_s, -1)
    )
    scored = events.select(
        F.col(key_col),
        F.col(id_col),
        epoch.alias("epoch_s"),
        F.col(value_col).alias("_raw"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.avg(value_col).over(w).alias("_mu"),
        F.stddev_samp(value_col).over(w).alias("_sd"),
    )
    z = F.round((F.col("_raw") - F.col("_mu")) / F.col("_sd"), 4)
    return (
        scored.filter(
            (F.col("n_prior") >= min_prior) & (F.col("_sd") > 0)
        )
        .select(
            F.col(key_col),
            F.col(id_col),
            F.col("epoch_s"),
            F.round("_raw", 6).alias(value_col),
            F.col("n_prior"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) >= z_cut)
    )


def scd2_history(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    state_col: str = "event_type",
    id_col: str = "event_id",
    open_end: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: collapse each key's
    event stream into state VERSIONS — consecutive events with the same
    ``state_col`` fold into one row carrying ``valid_from`` (first ts of
    the run) and ``valid_to`` (ts of the NEXT state change, or the
    ``open_end`` sentinel for the current state). The standard
    change-data-capture -> warehouse-dimension transform.

    Scale shape: lag to detect changes + lead for the closing edge, both
    over the same ``partitionBy(key) orderBy(ts, id)`` — one Exchange,
    one Sort, Catalyst plans the two window functions in a single
    Window node per ordering. No self-join of the history against
    itself. Deterministic (ts, id) tiebreak -> oracle-checked exactly.
    Output (user_id, state, valid_from, valid_to, is_current).
    """
    fmt_spark = "yyyy-MM-dd HH:mm:ss"
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    changes = (
        events.withColumn("_prev", F.lag(state_col).over(w))
        .filter(
            F.col("_prev").isNull() | (F.col(state_col) != F.col("_prev"))
        )
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    nxt = F.lead(ts_col).over(w2)
    return changes.select(
        F.col(key_col),
        F.col(state_col).alias("state"),
        F.date_format(ts_col, fmt_spark).alias("valid_from"),
        F.coalesce(F.date_format(nxt, fmt_spark), F.lit(open_end)).alias(
            "valid_to"
        ),
        nxt.isNull().alias("is_current"),
    )


def ab_welch(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Two-sample Welch test statistics per experiment metric: users are
    assigned to arms by ``key % 2`` (the deterministic stand-in for an
    assignment table — swap in a broadcast-joined dim at will), and per
    ``group_col`` the arms' value means are compared with the
    unequal-variance t statistic and Welch–Satterthwaite degrees of
    freedom. The A/B readout every experimentation pipeline computes.

    Scale shape: pure conditional aggregation — one groupBy shuffle on
    the metric key with map-side partial combine; the t/df arithmetic is
    a projection over six aggregates. No per-arm passes, no join between
    arms. Output (event_type, n_a, n_b, mean_a, mean_b, t_stat, df),
    all rounded -> oracle-checked exactly (SQL FILTER twins).
    """
    arm_a = (F.col(key_col) % 2) == 0
    agg = events.groupBy(group_col).agg(
        F.count(F.when(arm_a, 1)).alias("n_a"),
        F.count(F.when(~arm_a, 1)).alias("n_b"),
        F.avg(F.when(arm_a, F.col(value_col))).alias("_ma"),
        F.avg(F.when(~arm_a, F.col(value_col))).alias("_mb"),
        F.var_samp(F.when(arm_a, F.col(value_col))).alias("_va"),
        F.var_samp(F.when(~arm_a, F.col(value_col))).alias("_vb"),
    )
    sa = F.col("_va") / F.col("n_a")
    sb = F.col("_vb") / F.col("n_b")
    se2 = sa + sb
    t = (F.col("_ma") - F.col("_mb")) / F.sqrt(se2)
    df = (se2 * se2) / (
        sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1)
    )
    return agg.select(
        group_col,
        "n_a",
        "n_b",
        F.round("_ma", 6).alias("mean_a"),
        F.round("_mb", 6).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("df"),
    )


def ema_smooth(
    events: DataFrame,
    alpha: float = 0.3,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key exponential moving average over event time:
    ema_1 = x_1, ema_i = alpha*x_i + (1-alpha)*ema_{i-1}, ordered by
    (ts, event_id).

    The recurrence is inherently sequential per key, so it runs as ONE
    grouped-map pandas pass (applyInPandas): one shuffle on the key,
    per-task memory bounded by the largest key's row count (the same
    bound sessionize/as-of already accept — for unbounded per-key
    history, the streaming twin folds incrementally with
    applyInPandasWithState instead). The fold multiplies in a fixed
    literal order (alpha*x + (1-alpha)*prev) so any engine replaying the
    same order reproduces the doubles bit-for-bit — the DuckDB oracle
    replays it as a recursive CTE.

    Output: (key, event_id, value, ema) — full precision; callers round
    at the edge.
    """
    import pandas as pd

    beta = 1.0 - alpha

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        install_zip_guard()
        pdf = pdf.sort_values([ts_col, id_col])
        # float64 regardless of the column's dtype — an int64 value
        # column would otherwise truncate the recurrence on assignment
        vals = pdf[value_col].to_numpy(dtype="float64")
        out = vals.copy()
        for i in range(1, len(out)):
            out[i] = alpha * vals[i] + beta * out[i - 1]
        return pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                id_col: pdf[id_col].to_numpy(),
                value_col: vals,
                "ema": out,
            }
        )

    # fold's globals are pandas-only today, but ship the package anyway:
    # whether a grouped-map closure needs the module on workers is one
    # refactor away from changing, and shipping is an idempotent no-op
    # after the first call (the skyline order-dependence lesson)
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(events.sparkSession)
    schema = f"{key_col} long, {id_col} long, {value_col} double, ema double"
    return (
        events.select(key_col, ts_col, id_col, value_col)
        .groupBy(key_col)
        .applyInPandas(fold, schema=schema)
    )


def rolling_actives(
    events: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """DAU / trailing-N-day actives (the WAU/MAU family) per calendar
    day — the product-analytics staple Spark's windowed COUNT(DISTINCT)
    can't express directly (distinct isn't decomposable over a sliding
    RANGE frame). Exact formulation: collapse the stream to the DISTINCT
    (day, user) table first — the one data-sized aggregation; everything
    after runs at (days x daily-actives) scale — then a bounded range
    join fans each active-day row out to the <= N trailing report days
    it supports, and one count-distinct per report day closes it. The
    fan-out is exactly N, so the joined stream is N x the day-user
    table, never N x the raw events. Output (day, dau, rolling_actives,
    window_days)."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    du = (
        events.select(F.to_date(ts_col).alias("day"), F.col(user_col))
        .distinct()
    )
    days = du.select("day").distinct().alias("g")
    d = du.alias("d")
    joined = days.join(
        d,
        (F.col("d.day") <= F.col("g.day"))
        & (F.col("d.day") >= F.date_sub(F.col("g.day"), window_days - 1)),
    )
    rolling = joined.groupBy(F.col("g.day").alias("day")).agg(
        F.countDistinct(F.col(f"d.{user_col}")).alias("rolling_actives")
    )
    dau = du.groupBy("day").agg(
        F.countDistinct(user_col).alias("dau")
    )
    return (
        dau.join(rolling, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "rolling_actives",
            F.lit(window_days).alias("window_days"),
        )
        .orderBy("day")
    )
