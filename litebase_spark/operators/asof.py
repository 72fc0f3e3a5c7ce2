"""As-of and interval (range) joins — time-series operators Spark lacks
as built-ins.

The reference has no as-of join either (SQLite's only physical join is a
nested loop; SURVEY.md §2.B joins), but these are core time-series /
feature-engineering operators for a 100 TB pipeline, so they ship as
first-class composed operators (north-star addition).

``asof_join`` is the scale-path implementation: a UNION + windowed
last-non-null sweep. One shuffle on the join key, state bounded per key,
no range-explosion — at 100 TB this is a single hash repartition by key
plus a per-partition sort, which is the theoretical minimum for the
operator. (The naive alternative — inequality join then max-per-left-row
— re-materializes every candidate pair and explodes on hot keys.)

DuckDB validates semantics via its native ``ASOF JOIN``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from litebase_spark.catalog import fp, load, query


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    prefix: str = "r_",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the latest right row of the same `on` key
    with right_ts <= left_ts (inclusive) — or, with
    ``direction="forward"``, the EARLIEST right row with
    right_ts >= left_ts. Left rows keep all their columns; right payload
    columns arrive as `prefix`+name (null when no match).

    Implementation: tag both sides, union on (key, ts), and take the
    running last non-null right payload per key ordered by (ts, side) —
    right rows sort before left rows at equal ts so the inclusive bound
    matches; forward direction simply reverses the sweep order (ts
    descending), same single shuffle.
    """
    payload = F.struct(*[F.col(c) for c in right_payload]).alias("__asof")
    r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        payload,
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes],
    )
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__asof"].dataType).alias("__asof"),
        *left.columns,
    )
    order = (
        [F.desc("__ts"), F.asc("__side")]
        if direction == "forward"
        else [F.asc("__ts"), F.asc("__side")]
    )
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = l.unionByName(r).withColumn(
        "__match", F.last("__asof", ignorenulls=True).over(w)
    )
    out_cols = list(left.columns) + [
        F.col(f"__match.{c}").alias(f"{prefix}{c}") for c in right_payload
    ]
    return swept.filter(F.col("__side") == 1).select(*out_cols)


@query(
    "join_asof",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    ),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           c.event_id AS r_event_id, c.ts AS r_ts, c.value AS r_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    description="As-of join: each purchase event joined to the same user's "
    "latest click at-or-before it. Spark side is the union+window sweep "
    "(asof_join): ONE shuffle on user_id, per-key sorted sweep, no pair "
    "explosion. Right side deduped per (user, ts) for determinism. Oracle "
    "is DuckDB's native ASOF JOIN.",
    tags=("asof", "join", "timeseries"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases.drop("value"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id", "ts", "value"],
    )
    # no final ORDER BY: the result is set-semantic (driver compare
    # canonicalizes row order); a global sort here is a wasted shuffle.
    return joined.select(
        "event_id", "user_id", "ts", "r_event_id", "r_ts", "r_value"
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN c.ts >= p.ts - INTERVAL 15 MINUTE
                THEN c.event_id END AS r_event_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 15 MINUTE
                THEN c.ts END AS r_ts,
           CASE WHEN c.ts >= p.ts - INTERVAL 15 MINUTE
                THEN c.value END AS r_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    description="As-of join with a TOLERANCE bound (pandas "
    "merge_asof(tolerance=...)): each purchase joined to the same "
    "user's latest click at-or-before it, but only if that click is "
    "within 15 minutes — a stale quote/sensor reading is worse than no "
    "reading, the canonical guard in market-data and telemetry "
    "enrichment. Same one-shuffle union+window sweep as join_asof "
    "(asof_join helper — no pair explosion, no extra exchange for the "
    "bound); the tolerance is a post-sweep NULL-out, which preserves "
    "the LEFT rows exactly like the oracle's CASE over DuckDB's native "
    "ASOF LEFT JOIN.",
    tags=("asof", "join", "timeseries"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id", "ts", "value"],
    )
    ok = F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 15 MINUTES")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.col("r_event_id")).alias("r_event_id"),
        F.when(ok, F.col("r_ts")).alias("r_ts"),
        F.when(ok, F.col("r_value")).alias("r_value"),
    )


@query(
    "join_range_interval",
    oracle="""
    SELECT p.event_id, p.user_id,
           COUNT(c.event_id) AS n_clicks_before,
           ROUND(CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_click_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    GROUP BY p.event_id, p.user_id
    """,
    description="Interval (range) join: clicks in the 30 minutes before "
    "each purchase by the same user, aggregated per purchase. Round-6 "
    "re-plan: TIME-BUCKETED equi join — both sides key on (user_id, "
    "30-min epoch bucket), clicks fanning into buckets {b, b+1} (their "
    "own and the next — the two a 30-min look-back from a later "
    "purchase can reach), purchases staying at ONE row each, with the "
    "exact timestamp range as the residual. A plain user_id-keyed join "
    "scans EVERY click of a user per purchase — O(clicks-per-user) "
    "pairs per probe, unbounded as history grows; the bucket key "
    "bounds candidates to one hour of that user's clicks regardless "
    "of total history, which is the difference between a join that "
    "survives 100 TB of multi-year events and one that quadratically "
    "melts on loyal users. Exploding the BUILD side (not the probe) "
    "keeps the per-purchase aggregate at one input row per purchase, "
    "and LEFT OUTER keeps zero-click purchases without a join-back; "
    "each matching pair meets exactly one click copy, so no dedup "
    "pass. Size-adaptive shuffle_hash: both sides are facts, and "
    "sort-merge's n log n sort was the superlinear term in the 16x "
    "scale curve.",
    tags=("range-join", "join", "timeseries"),
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event_id"),
            F.col("value").alias("c_value"),
        )
    )
    W = 1800  # bucket width == look-back window (30 min), in seconds
    # Round-8 re-plan: explode the BUILD side (each click covers buckets
    # {b, b+1} — its own and the next, the two a 30-min look-back from a
    # later purchase can reach), keeping the probe/aggregated side at ONE
    # row per purchase. The old probe-side explode doubled the rows the
    # final per-purchase aggregate consumed (matched + null-extended
    # copies); each matching pair still meets exactly one click copy, so
    # no dedup pass is needed. shuffle_hash (size-adaptive, same guard
    # as q4/salted_join) replaces the sort-merge: both sides are facts,
    # and the n log n sort was the superlinear term in the 16x scale
    # curve. Together 0.77 -> 0.66 s at the sf1 point, identical rows.
    from litebase_spark.operators.skew import parse_size_bytes, plan_size_bytes

    pb = p.withColumn("bkt", (F.unix_timestamp("ts") / W).cast("long"))
    cb = c.withColumn(
        "c_bkt",
        F.explode(
            F.array(
                (F.unix_timestamp("c_ts") / W).cast("long"),
                (F.unix_timestamp("c_ts") / W).cast("long") + 1,
            )
        ),
    )
    size = plan_size_bytes(c)
    try:
        thr = parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        thr = -1
    if size is not None and not (0 < 2 * size <= thr):
        cb = cb.hint("shuffle_hash")
    joined = pb.join(
        cb,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_bkt") == F.col("bkt"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("ts")),
        "left_outer",
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(
            F.count("c_event_id").alias("n_clicks_before"),
            F.round(F.sum(fp("c_value")) / 100.0, 2).alias(
                "sum_click_value"
            ),
        )
    )


@query(
    "ts_interpolate",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ),
    bounds AS (
      SELECT user_id, ts, event_id, v,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN epoch(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN epoch(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM marked
    )
    SELECT user_id, event_id,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
               THEN pv + (nv - pv) * (epoch(ts) - pt) / (nt - pt)
             ELSE COALESCE(pv, nv)
           END, 6) AS value_filled
    FROM bounds
    """,
    description="Linear time-series interpolation (gap filling): 'error' "
    "events stand in for missing readings; each gap fills from the "
    "previous/next observed value weighted by time distance. Two window "
    "sweeps over ONE partitioning (user_id) — single shuffle, state "
    "bounded per key; the standard sensor/metric repair op the reference "
    "cannot express without application code. Round 12: the backward "
    "carry runs as last-ignorenulls over the REVERSED in-partition "
    "order (running frame, O(n)) — Spark evaluates a "
    "[currentRow, unboundedFollowing] frame by rescanning to the "
    "partition end per row, O(n^2) per key (>120 s at x100; the full "
    "sweep caught it).",
    tags=("timeseries", "window"),
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "error", F.col("value"))
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        v.alias("v"),
        # ts is TIMESTAMP_NTZ in the fixtures; Spark 4 refuses a direct
        # NTZ->double cast, so hop through TIMESTAMP (session TZ is UTC).
        F.col("ts").cast("timestamp").cast("double").alias("tsec"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the backward carry is last-ignorenulls over the REVERSED order,
    # never first() over [currentRow, unboundedFollowing]: Spark's
    # UnboundedFollowing frame recomputes its aggregate by rescanning
    # current..end for EVERY row — O(rows_per_key^2) per partition,
    # >120 s at the x100 point (caught by the full-registry sweep).
    # Running frames are O(n); the reversed sort reuses the same
    # exchange (identical partitioning), costing one extra
    # in-partition sort.
    bwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t_obs = F.when(F.col("v").isNotNull(), F.col("tsec"))
    bounds = marked.select(
        "user_id",
        "event_id",
        "v",
        "tsec",
        F.last("v", ignorenulls=True).over(fwd).alias("pv"),
        F.last(t_obs, ignorenulls=True).over(fwd).alias("pt"),
        F.last("v", ignorenulls=True).over(bwd).alias("nv"),
        F.last(t_obs, ignorenulls=True).over(bwd).alias("nt"),
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") != F.col("pt")),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("tsec") - F.col("pt"))
            / (F.col("nt") - F.col("pt")),
        )
        .otherwise(F.coalesce("pv", "nv"))
    )
    return bounds.select(
        "user_id", "event_id", F.round(filled, 6).alias("value_filled")
    )


@query(
    "ts_ohlc_resample",
    oracle="""
    WITH b AS (
      SELECT user_id,
             time_bucket(INTERVAL '15 minutes', ts) AS bucket,
             ts, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '15 minutes', ts)
               ORDER BY ts, event_id) AS rna,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '15 minutes', ts)
               ORDER BY ts DESC, event_id DESC) AS rnd
      FROM events
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN rna = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rnd = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM b GROUP BY user_id, bucket
    """,
    description="Time-series OHLC resampling (downsample to 15-minute "
    "bars per user): open/close via first/last event in the bar with "
    "the (ts, event_id) total order as the deterministic tie-break, "
    "high/low/count as plain aggregates. ONE shuffle: the window "
    "partitioning (user_id, bucket) is exactly the aggregation key, so "
    "the groupBy reuses it. The standard metrics/market-data compaction "
    "op the reference cannot express without application code; at "
    "100 TB the bar table is what downstream queries scan instead of "
    "raw events.",
    tags=("timeseries", "window"),
)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "value",
    )
    bucketed = e.select(
        "user_id",
        F.window("ts", "15 minutes").start.alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        bucketed.select(
            "user_id",
            "bucket",
            "value",
            F.row_number().over(wa).alias("rna"),
            F.row_number().over(wd).alias("rnd"),
        )
        .groupBy("user_id", "bucket")
        .agg(
            F.max(F.when(F.col("rna") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rnd") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Event analytics: funnel conversion + cohort retention
# ---------------------------------------------------------------------------


@query(
    "ts_funnel_steps",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    vc AS (
        SELECT DISTINCT c.user_id, c.ts AS c_ts
        FROM v JOIN c ON c.user_id = v.user_id
         AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    ),
    vcp AS (
        SELECT DISTINCT p.user_id
        FROM vc JOIN p ON p.user_id = vc.user_id
         AND p.ts > vc.c_ts AND p.ts <= vc.c_ts + INTERVAL 1 HOUR
    )
    SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM v) AS BIGINT)
               AS n_viewed,
           CAST((SELECT COUNT(DISTINCT user_id) FROM vc) AS BIGINT)
               AS n_clicked_after_view,
           CAST((SELECT COUNT(DISTINCT user_id) FROM vcp) AS BIGINT)
               AS n_purchased_after_click,
           ROUND(CAST((SELECT COUNT(DISTINCT user_id) FROM vc) AS DOUBLE)
                 / (SELECT COUNT(DISTINCT user_id) FROM v), 6)
               AS view_to_click,
           ROUND(CAST((SELECT COUNT(DISTINCT user_id) FROM vcp) AS DOUBLE)
                 / (SELECT COUNT(DISTINCT user_id) FROM vc), 6)
               AS click_to_purchase
    """,
    description="Funnel conversion (view -> click within 1h -> purchase "
    "within 1h): the ClickHouse windowFunnel shape as ONE per-user "
    "ordered sweep instead of a cascade of interval joins. A click "
    "qualifies iff the latest STRICTLY-preceding view (range frame to "
    "-1 microsecond — preserves the oracle's ts > / ts <= bounds "
    "exactly) is within 1h; a purchase converts iff the latest "
    "strictly-preceding qualifying click is within 1h. Both windows "
    "share one user_id exchange + sort, the per-user flag aggregate "
    "reuses that partitioning, so the corpus is scanned ONCE and "
    "shuffled once (r13: the join cascade re-scanned events 6x per "
    "execution across its three actions). Stage counts are existence "
    "flags, so intermediate state is O(1) per event row.",
    tags=("timeseries", "analytics"),
)
def ts_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fully lazy: the ratios are a projection over the 1-row aggregate,
    # so the declared DataFrame carries the whole computation (no driver
    # collect in the builder — a build-time action both trips the plan
    # audit's collect gate and moves the real work outside any timed
    # region that builds first and times the action separately).
    return _funnel_counts(spark, sf_dir).select(
        F.col("n1").alias("n_viewed"),
        F.col("n2").alias("n_clicked_after_view"),
        F.col("n3").alias("n_purchased_after_click"),
        F.round(F.col("n2").cast("double") / F.col("n1"), 6).alias(
            "view_to_click"
        ),
        F.round(F.col("n3").cast("double") / F.col("n2"), 6).alias(
            "click_to_purchase"
        ),
    )


def _funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed core of ts_funnel_steps: a 1-row
    (n_viewed, n_clicked_after_view, n_purchased_after_click) aggregate;
    the declared query is a ratio projection over it."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            # ts is TIMESTAMP_NTZ; session tz is pinned UTC (session.py),
            # so the LTZ cast is an exact affine map to microseconds.
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
            F.col("event_type").alias("et"),
        )
    )
    hour_us = 3_600_000_000  # INTERVAL 1 HOUR in microseconds, exactly
    # Strictly-preceding frame: rows with the SAME timestamp are excluded,
    # which is exactly the oracle's strict lower bound (c.ts > v.ts,
    # p.ts > c.ts); the inclusive upper bound becomes >= t - 1h.
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(F.when(F.col("et") == "view", F.col("t"))).over(w)
    flagged = e.withColumn(
        "qc",
        (F.col("et") == "click") & (last_view >= F.col("t") - F.lit(hour_us)),
    )
    last_qc = F.max(F.when(F.col("qc"), F.col("t"))).over(w)
    flagged = flagged.withColumn(
        "rp",
        (F.col("et") == "purchase")
        & (last_qc >= F.col("t") - F.lit(hour_us)),
    )
    per_user = flagged.groupBy("user_id").agg(
        F.max(F.col("et") == "view").alias("has_v"),
        F.max("qc").alias("has_qc"),
        F.max("rp").alias("has_rp"),
    )
    return per_user.agg(
        F.sum(F.col("has_v").cast("long")).alias("n1"),
        F.sum(F.col("has_qc").cast("long")).alias("n2"),
        F.sum(F.col("has_rp").cast("long")).alias("n3"),
    )


@query(
    "ts_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
        FROM events
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS n_cohort
        FROM first_seen GROUP BY cohort_week
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
               AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
           CAST(s.n_cohort AS BIGINT) AS n_cohort,
           ROUND(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.n_cohort, 6)
               AS retention
    FROM activity a
    JOIN first_seen f ON f.user_id = a.user_id
    JOIN sizes s ON s.cohort_week = f.cohort_week
    GROUP BY 1, week_offset, s.n_cohort
    """,
    description="Weekly cohort retention: users grouped by first-seen "
    "week; retention[k] = share of the cohort active k weeks later — "
    "the standard growth-analytics matrix. Two aggregates and one "
    "user-keyed join; cohort sizes broadcast back. Distinct-activity "
    "dedup happens BEFORE the join so the shuffle carries (user, week) "
    "pairs, not raw events.",
    tags=("timeseries", "analytics"),
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # per-user first-seen table materialized ONCE (r13): cohort sizes
    # and the activity join both consume it, and each otherwise
    # re-inlines the corpus min-aggregate per execution
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    ).localCheckpoint(eager=True)
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    j = activity.join(first_seen, "user_id").withColumn(
        "week_offset",
        (F.datediff("act_week", "cohort_week") / 7).cast("long"),
    )
    return (
        j.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_offset", "n_cohort")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), 6
            ).alias("retention"),
        )
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             epoch(date_trunc('hour', ts))::BIGINT AS hr_s,
             COUNT(*)::BIGINT AS x
      FROM events GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, hr, x,
             COUNT(x) OVER trail AS n,
             COALESCE(SUM(x) OVER trail, 0)::BIGINT AS s,
             COALESCE(SUM(x * x) OVER trail, 0)::BIGINT AS q
      FROM hourly
      WINDOW trail AS (PARTITION BY event_type ORDER BY hr_s
                       RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)
    )
    SELECT event_type, hr, x AS n_events, n AS win_hours,
           s AS win_sum,
           (n * x - s) * (n * x - s) * (n - 1) AS lhs_e,
           9 * n * (n * q - s * s) AS rhs_e
    FROM w
    WHERE n >= 12
      AND (n * x - s) * (n * x - s) * (n - 1) > 9 * n * (n * q - s * s)
    ORDER BY event_type, hr
    """,
    description="Rolling z-score anomaly flags over hourly event counts "
    "(|z| > 3 vs the trailing 24 h, current hour excluded): one shuffle "
    "for the hourly rollup, one window exchange keyed by event_type "
    "with a RANGE frame over epoch seconds. The z test is cleared of "
    "division/sqrt entirely — (n*x - s)^2 * (n-1) > 9 * n * (n*q - s^2) "
    "is the same inequality in pure integer sufficient statistics "
    "(count/sum/sum-of-squares), so the flag set is bit-identical in "
    "any engine and partition-invariant. The 100 TB shape: per-key "
    "windows over pre-aggregated buckets, never raw events.",
    tags=("timeseries", "anomaly", "window"),
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .withColumn("hr_s", F.unix_timestamp("hr"))
    )
    trail = (
        Window.partitionBy("event_type")
        .orderBy("hr_s")
        .rangeBetween(-86400, -3600)
    )
    w = hourly.select(
        "event_type", "hr", "x",
        F.count("x").over(trail).alias("n"),
        F.coalesce(F.sum("x").over(trail), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("x") * F.col("x")).over(trail), F.lit(0))
        .alias("q"),
    )
    lhs = F.expr("(n * x - s) * (n * x - s) * (n - 1)")
    rhs = F.expr("9 * n * (n * q - s * s)")
    return (
        w.filter((F.col("n") >= 12) & (lhs > rhs))
        .select(
            "event_type", "hr",
            F.col("x").alias("n_events"),
            F.col("n").alias("win_hours"),
            F.col("s").alias("win_sum"),
            lhs.alias("lhs_e"),
            rhs.alias("rhs_e"),
        )
        .orderBy("event_type", "hr")
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           c.event_id AS r_event_id, c.ts AS r_ts, c.value AS r_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
    description="Forward as-of join (merge_asof direction='forward'): "
    "each purchase joined to the same user's EARLIEST click at-or-after "
    "it — the post-purchase attribution shape. Same union+window sweep "
    "as join_asof with the sweep order reversed (ts descending): still "
    "ONE shuffle on user_id, no pair explosion. Oracle is DuckDB's "
    "native ASOF with the inequality flipped.",
    tags=("asof", "join", "timeseries"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc())
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id", "ts", "value"],
        direction="forward",
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT p.event_id, p.user_id, p.ts,
             c.event_id AS b_id, c.ts AS b_ts, c.value AS b_val
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    f AS (
      SELECT p.event_id,
             c.event_id AS f_id, c.ts AS f_ts, c.value AS f_val
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts <= c.ts
    ),
    j AS (
      SELECT b.*, f.f_id, f.f_ts, f.f_val,
             CASE
               WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
               WHEN f_ts IS NULL THEN 'backward'
               WHEN b_ts IS NULL THEN 'forward'
               WHEN epoch_us(ts) - epoch_us(b_ts)
                    <= epoch_us(f_ts) - epoch_us(ts) THEN 'backward'
               ELSE 'forward'
             END AS picked
      FROM b JOIN f USING (event_id)
    )
    SELECT event_id, user_id, ts,
           CASE picked WHEN 'backward' THEN b_id
                       WHEN 'forward' THEN f_id END AS r_event_id,
           CASE picked WHEN 'backward' THEN b_ts
                       WHEN 'forward' THEN f_ts END AS r_ts,
           CASE picked WHEN 'backward' THEN b_val
                       WHEN 'forward' THEN f_val END AS r_value,
           picked
    FROM j
    """,
    description="Nearest as-of join (merge_asof direction='nearest'): "
    "each purchase joined to the same user's click CLOSEST in time, "
    "either side, tie broken toward backward. Composition of the two "
    "existing one-shuffle sweeps — backward attach, forward attach, "
    "integer microsecond-distance pick (no float time math) — so the "
    "plan is two keyed window sweeps over the same user_id "
    "partitioning, still no pair explosion. The sensor/record "
    "alignment shape (align each reading to the nearest reference "
    "tick). Oracle composes DuckDB's native ASOF both directions.",
    tags=("asof", "join", "timeseries"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc())
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    b = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "ts", "value"],
        prefix="b_", direction="backward",
    ).withColumnsRenamed(
        {"b_event_id": "b_id", "b_ts": "b_ts", "b_value": "b_val"}
    )
    j = asof_join(
        b, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "ts", "value"],
        prefix="f_", direction="forward",
    ).withColumnsRenamed(
        {"f_event_id": "f_id", "f_ts": "f_ts", "f_value": "f_val"}
    )
    picked = (
        F.when(F.col("b_ts").isNull() & F.col("f_ts").isNull(),
               F.lit(None).cast("string"))
        .when(F.col("f_ts").isNull(), F.lit("backward"))
        .when(F.col("b_ts").isNull(), F.lit("forward"))
        .when(
            # NTZ -> TIMESTAMP cast is identity under the UTC session tz
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("b_ts").cast("timestamp"))
            <= F.unix_micros(F.col("f_ts").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp")),
            F.lit("backward"),
        )
        .otherwise(F.lit("forward"))
    )
    j = j.withColumn("picked", picked)
    pick = lambda bc, fc: (  # noqa: E731
        F.when(F.col("picked") == "backward", F.col(bc))
        .when(F.col("picked") == "forward", F.col(fc))
    )
    return j.select(
        "event_id", "user_id", "ts",
        pick("b_id", "f_id").alias("r_event_id"),
        pick("b_ts", "f_ts").alias("r_ts"),
        pick("b_val", "f_val").alias("r_value"),
        "picked",
    )


@query(
    "ts_gapfill_locf",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS sv
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY user_id
    ),
    scaffold AS (
      SELECT s.user_id, CAST(g.day AS DATE) AS day
      FROM span s,
           UNNEST(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS g(day)
    )
    SELECT sc.user_id,
           strftime(sc.day, '%Y-%m-%d') AS day,
           COALESCE(d.n, 0) AS n_events,
           d.n IS NULL AS is_gap,
           ROUND(CAST(last_value(d.sv IGNORE NULLS) OVER (
             PARTITION BY sc.user_id ORDER BY sc.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS locf_value
    FROM scaffold sc
    LEFT JOIN daily d ON d.user_id = sc.user_id AND d.day = sc.day
    """,
    description="Time-bucket GAP FILL with last-observation-carried-"
    "forward (the timescaledb time_bucket_gapfill idiom, absent from "
    "both SQLite and vanilla SQL): per entity, a daily scaffold spans "
    "that entity's own [first, last] active day (per-entity bounds — a "
    "global range would fabricate history before the entity existed), "
    "missing days materialize as explicit gap rows with n_events=0, "
    "and the daily value total carries forward across gaps via "
    "last(IGNORE NULLS). Scale shape: the scaffold explode is bounded "
    "by span-days per entity (sequence() after a 2-row-per-entity "
    "aggregate, never a global calendar cross join), the fill join is "
    "keyed (entity, day), and the LOCF window rides one entity-keyed "
    "exchange. Money math in exact fixed point; engines agree "
    "bit-for-bit including gap rows.",
    tags=("timeseries", "window", "gapfill"),
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fp("value")).alias("sv"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    scaffold = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    j = scaffold.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
        F.round(
            F.last("sv", ignorenulls=True).over(w) / 100.0, 2
        ).alias("locf_value"),
    )


@query(
    "ts_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) > INTERVAL 30 MINUTE OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, value,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM ordered
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS session_value
    FROM sess
    GROUP BY user_id, session_no
    """,
    description="Batch sessionization — the gaps-and-islands idiom "
    "(streaming twin: stream_session_window): per user, a new session "
    "starts when the gap since the previous event exceeds 30 minutes "
    "(LAG + running SUM of start flags = session number), then "
    "per-session stats (event count, duration, exact fixed-point "
    "value). Ties at equal ts break on event_id so numbering is "
    "deterministic. One exchange keyed by user feeds BOTH windows and "
    "the final aggregate (lag, running sum and groupBy(user, session) "
    "all cluster by user_id) — sessionizing 100 TB of events is one "
    "shuffle, which is the operator's lower bound.",
    tags=("timeseries", "window", "session"),
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = us - F.lag(us).over(order)
    is_start = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("is_start", is_start).withColumn(
        "session_no", F.sum("is_start").over(run)
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
            - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("duration_us"),
        F.round(F.sum(fp("value")) / 100.0, 2).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (truncated 32-tap, integer-exact)
# ---------------------------------------------------------------------------

_EWMA_TAPS = 32  # trailing window length; alpha = 1/2 per step


@query(
    "ts_ewma_smooth",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             list(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_EWMA_TAPS - 1} PRECEDING AND CURRENT ROW
             ) AS vals
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, ts_us, value, len(vals) AS n,
             (SELECT SUM(vals[i] * (CAST(1 AS BIGINT)
                                    << (i - 1 + {_EWMA_TAPS} - len(vals))))
              FROM UNNEST(range(1, len(vals) + 1)) AS u(i)) AS num
      FROM w
    )
    SELECT user_id, event_id, ts_us, value,
           ROUND(num / (((CAST(1 AS BIGINT) << {_EWMA_TAPS})
                        - (CAST(1 AS BIGINT) << ({_EWMA_TAPS} - n)))
                        * 100.0), 6) AS ewma
    FROM s
    """,
    description="Per-entity exponentially-weighted moving average "
    "(alpha=1/2), truncated to a 32-tap trailing window so the weighted "
    "sum is INTEGER-exact: cents << (31 - age) summed in int64 (tail "
    "weight below 2^-32 of the head is under measurement noise for any "
    "2-decimal metric, and truncation is what makes the op a bounded "
    "window instead of an unbounded recursion — the streaming twin "
    "keeps one running state value instead). One exchange keyed by "
    "user_id serves the window; the frame carries 32 longs per row. "
    "Integer weighting sidesteps float fold-order entirely, so the "
    "DuckDB oracle reproduces every smoothed value bit-for-bit.",
    tags=("timeseries", "window"),
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    # 32 LAG taps instead of collect_list + zip_with + aggregate: the
    # r10 shape materialized a 32-long array per row, then allocated a
    # second zipped array to fold it (3 allocations per output row at
    # corpus scale). Offset window functions share the ONE sort the
    # frame version paid, and the weighted sum becomes 32 fused
    # long multiply-adds in codegen with zero allocations — x100m warm
    # 10.5 -> 3.4 s (A/B in OPTIMIZATION_r14.md). Exactness: integer
    # addition is order-free, lag j carries weight 1L << (31 - j)
    # (== the old 1 << (i + 32 - n) at i = n-1-j), missing taps at a
    # partition head are NULL -> 0, so num is bit-identical; n (the
    # available-tap count) comes from the same trailing frame as before.
    # NULL values count as taps in n but add nothing to num, as in the
    # oracle's list/SUM; a window with no non-NULL value is NULL there
    # (SUM of nothing), so k gates the result the same way.
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wo.rowsBetween(-(_EWMA_TAPS - 1), Window.currentRow)
    num = None
    for j in range(_EWMA_TAPS):
        tap = F.coalesce(
            F.lag(F.col("__c"), j).over(wo), F.lit(0).cast("long")
        ) * F.lit(1 << (_EWMA_TAPS - 1 - j))
        num = tap if num is None else num + tap
    n = F.count(F.lit(1)).over(wf)
    k = F.count(F.col("__c")).over(wf)
    denom = F.expr(
        f"CAST(shiftleft(1L, {_EWMA_TAPS})"
        f" - shiftleft(1L, {_EWMA_TAPS} - __n) AS DOUBLE)"
    )
    return (
        e.withColumn("__c", fp("value"))
        .withColumn("__n", n)
        .withColumn("ewma", F.when(k > 0, F.round(num / (denom * 100.0), 6)))
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
            "ewma",
        )
    )


# ---------------------------------------------------------------------------
# CDC changelog -> SCD-2 intervals
# ---------------------------------------------------------------------------


SCD2_ORACLE = """
    WITH c AS (
      SELECT user_id, event_type, value, ts, event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             LAG(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS prev_cents
      FROM events
    ),
    changes AS (
      SELECT * FROM c WHERE prev_cents IS NULL OR prev_cents <> cents
    )
    SELECT user_id, event_type, value,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS BIGINT) AS version,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS valid_to_us,
           LEAD(ts) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) IS NULL AS is_current
    FROM changes
    """


@query(
    "ts_scd2_intervals",
    oracle=SCD2_ORACLE,
        description="CDC changelog to slowly-changing-dimension type-2 "
    "history: per (entity, attribute) the event stream collapses to "
    "version intervals — consecutive equal values emit no version (the "
    "lag-compare dedup), each surviving change opens an interval "
    "[valid_from, next change) and the open-ended row is the current "
    "version. The Delta/Hudi MERGE-style table-maintenance shape, "
    "expressed as two windows + a filter that all cluster on the same "
    "(user_id, event_type) keys: ONE exchange total — the filter "
    "between the lag and the lead/row_number preserves the "
    "partitioning, so rebuilding SCD-2 history for 100 TB of changelog "
    "is a single shuffle. Equality tests on exact cents, not doubles.",
    tags=("timeseries", "window", "cdc"),
)
def ts_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    cents = fp("value")
    changes = (
        e.withColumn("cents", cents)
        .withColumn("prev_cents", F.lag("cents").over(w))
        .filter(
            F.col("prev_cents").isNull()
            | (F.col("prev_cents") != F.col("cents"))
        )
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lead_us = F.lead(us).over(w)
    return changes.select(
        "user_id",
        "event_type",
        "value",
        F.row_number().over(w).cast("long").alias("version"),
        us.alias("valid_from_us"),
        lead_us.alias("valid_to_us"),
        lead_us.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Interval x interval overlap join
# ---------------------------------------------------------------------------

_IVL_W_US = 1800 * 1_000_000  # interval length == bucket width (30 min)


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH a AS (
      SELECT event_id AS a_id, user_id,
             epoch_us(ts) AS s, epoch_us(ts) + {_IVL_W_US} AS e
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT event_id AS b_id, user_id,
             epoch_us(ts) AS s, epoch_us(ts) + {_IVL_W_US} AS e
      FROM events WHERE event_type = 'error'
    )
    SELECT a.a_id, b.b_id, a.user_id,
           LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
    FROM a JOIN b
      ON a.user_id = b.user_id AND a.s < b.e AND b.s < a.e
    """,
    description="Interval x interval overlap join (the shape behind "
    "session-vs-incident attribution, ad-flight x outage windows): "
    "purchase and error events each open a 30-minute interval; emit "
    "every same-user overlapping pair with its overlap length. Spark "
    "plan is the BUCKETED equi join: both sides explode to the "
    "fixed-width time buckets they cover (<= 2 each, since interval "
    "length == bucket width), join on (user_id, bucket) with the exact "
    "condition as residual, and each pair is CLAIMED exactly once — by "
    "the bucket containing the overlap's start (greatest of the two "
    "starts) — so no DISTINCT pass re-shuffles the output. Candidates "
    "per probe are bounded by one bucket-hour of that user's "
    "intervals regardless of history length; the naive user-keyed "
    "theta join (the oracle's plan) scans every interval of the user "
    "per probe and melts on loyal users at 100 TB.",
    tags=("range-join", "join", "timeseries"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def side(ev, id_alias):
        return e.filter(F.col("event_type") == ev).select(
            F.col("event_id").alias(id_alias),
            "user_id",
            us.alias("s"),
            (us + _IVL_W_US).alias("e"),
        )

    a = side("purchase", "a_id")
    b = side("error", "b_id")

    def bucketed(df):
        return df.withColumn(
            "bkt",
            F.explode(
                F.sequence(
                    (F.col("s") / _IVL_W_US).cast("long"),
                    ((F.col("e") - 1) / _IVL_W_US).cast("long"),
                )
            ),
        )

    ab = bucketed(a).alias("a")
    bb = bucketed(b).select(
        F.col("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
        F.col("bkt").alias("b_bkt"),
    )
    start = F.greatest(F.col("a.s"), F.col("b_s"))
    return (
        ab.join(
            bb,
            (F.col("a.user_id") == F.col("b_user"))
            & (F.col("a.bkt") == F.col("b_bkt"))
            & (F.col("a.s") < F.col("b_e"))
            & (F.col("b_s") < F.col("a.e"))
            # claim rule: only the bucket holding the overlap start
            # emits the pair (dedups the <=2x bucket copies for free)
            & ((start / _IVL_W_US).cast("long") == F.col("a.bkt")),
        )
        .select(
            "a_id",
            "b_id",
            F.col("a.user_id").alias("user_id"),
            (
                F.least(F.col("a.e"), F.col("b_e")) - start
            ).alias("overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
               OVER (PARTITION BY user_id) AS tot
      FROM events
    ),
    c AS (
      SELECT user_id, ts, event_id, n, tot,
             SUM(cents * n - tot) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS s_k
      FROM v
    ),
    ranked AS (
      SELECT user_id, n, epoch_us(ts) AS ts_us, ABS(s_k) AS dev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ABS(s_k) DESC, ts, event_id)
               AS rk
      FROM c
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ts_us AS changepoint_ts_us,
           ROUND(CAST(dev AS DOUBLE) / (n * 100.0), 6) AS max_cusum
    FROM ranked WHERE rk = 1
    """,
    description="CUSUM changepoint detection per entity: the running "
    "sum of deviations from the series mean, S_k = sum_{i<=k}(x_i - "
    "mean), peaks exactly where the level shifts — the classic "
    "mean-shift locator (Page 1954; what ts_anomaly_zscore flags "
    "pointwise, this localizes). Computed EXACTLY in integers by "
    "cross-multiplication: S'_k = sum_{i<=k}(cents_i * n - total) "
    "= n * S_k in cents, so no division happens until the single "
    "final rescale by n*100 and both engines agree bit-for-bit. ONE exchange keyed "
    "by user_id serves all three windows and the final per-key argmax "
    "(deterministic tie-break: earliest peak); 100 TB of series is "
    "one shuffle plus per-key sorted sweeps.",
    tags=("timeseries", "window", "stats"),
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", fp("value").alias("cents")
    )
    per_user = Window.partitionBy("user_id")
    v = e.withColumn("n", F.count(F.lit(1)).over(per_user)).withColumn(
        "tot", F.sum("cents").over(per_user)
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.withColumn(
        "s_k", F.sum(F.col("cents") * F.col("n") - F.col("tot")).over(run)
    )
    ranked = c.select(
        "user_id",
        "n",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.abs("s_k").alias("dev"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.desc(F.abs("s_k")), F.asc("ts"), F.asc("event_id")
            )
        )
        .alias("rk"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("ts_us").alias("changepoint_ts_us"),
        F.round(
            F.col("dev").cast("double") / (F.col("n") * 100.0), 6
        ).alias("max_cusum"),
    )


@query(
    "ts_seasonal_profile",
    oracle="""
    WITH cells AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hour,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS sc
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(hour AS BIGINT) AS hour,
           CAST(n AS BIGINT) AS n_events,
           CAST(sc * 10000 // n AS BIGINT) AS mean_value_e6,
           CAST(CASE WHEN ROW_NUMBER() OVER (
                  PARTITION BY event_type ORDER BY n DESC, hour) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_peak_hour
    FROM cells
    """,
    description="Hour-of-day seasonal profile per event type: the "
    "periodic fold (volume + integer-exact e6 mean value per hour "
    "slot, peak-hour flag) that seasonality-aware anomaly gates "
    "baseline against — ts_anomaly_zscore flags vs a global mean, "
    "this gives it the per-slot mean that stops 9am traffic from "
    "alerting every day. One corpus exchange collapses map-side onto "
    "the (type, 24-hour) grid; the peak-hour window runs over <= 24 "
    "cells per type, never the corpus — the chi2/KS cells-not-corpus "
    "shape applied to time.",
    tags=("timeseries", "stats"),
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fp("value")).alias("sc"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("hour")
    )
    return cells.select(
        "event_type",
        "hour",
        F.col("n").cast("long").alias("n_events"),
        # floor division to match DuckDB's `//` even for negative sums:
        # Spark DIV truncates toward zero, so subtract the non-negative
        # pmod remainder first — (a - pmod(a, n)) is exactly divisible
        # by n and the quotient equals floor(a / n) for n > 0.
        F.expr(
            "(sc * 10000 - pmod(sc * 10000, n)) DIV n"
        ).alias("mean_value_e6"),
        (F.row_number().over(w) == 1).cast("long").alias("is_peak_hour"),
    )


@query(
    "ts_acf_lags",
    oracle="""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
               OVER (PARTITION BY event_type) AS s
      FROM events
    ),
    l AS (
      SELECT event_type, n, c * n - s AS d,
             LAG(c, 1) OVER w * n - s AS d1,
             LAG(c, 2) OVER w * n - s AS d2,
             LAG(c, 3) OVER w * n - s AS d3
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CASE WHEN d1 IS NOT NULL THEN
                   CAST(d AS HUGEINT) * CAST(d1 AS HUGEINT) END) AS DOUBLE)
                 / CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
                        AS DOUBLE), 6) AS acf_lag1,
           ROUND(CAST(SUM(CASE WHEN d2 IS NOT NULL THEN
                   CAST(d AS HUGEINT) * CAST(d2 AS HUGEINT) END) AS DOUBLE)
                 / CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
                        AS DOUBLE), 6) AS acf_lag2,
           ROUND(CAST(SUM(CASE WHEN d3 IS NOT NULL THEN
                   CAST(d AS HUGEINT) * CAST(d3 AS HUGEINT) END) AS DOUBLE)
                 / CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
                        AS DOUBLE), 6) AS acf_lag3
    FROM l GROUP BY event_type
    """,
    description="Autocorrelation of the value series at lags 1-3 per "
    "event type — the seasonality/trend screen run before choosing a "
    "drift detector (white noise -> ks_test is enough; high ACF -> "
    "CUSUM or the seasonal profile first). Exact to the final "
    "division via the cross-multiplied identity: with S = sum(x) and "
    "n the series length, acf_k = sum(d_t * d_{t-k}) / sum(d_t^2) "
    "where d_t = n*x_t - S = n*(x_t - mean) in cents, so numerator "
    "and denominator are exact 128-bit integer sums (DECIMAL(38,0) / "
    "HUGEINT) and the single double division at the end is the only "
    "rounding site in either engine. SCALE PLAN: a naive "
    "per-event_type ordered window makes partition size grow with "
    "the corpus (5 types -> 5 threads and an unbounded sort; "
    "measured 10.8 s at the x100 point). Instead the sort is "
    "BUCKETED by (event_type, day): lag pairs inside a bucket come "
    "from a day-bounded window, the <= 2k rows per bucket edge "
    "(global row-number from a cells-table prefix sum of bucket "
    "counts) contribute the cross-bucket pairs through a broadcast "
    "self-join on rn = rn' + k, and the totals/denominator are "
    "plain partial-aggregated groupBys — no operator anywhere holds "
    "more than one day of one type in memory, and the oracle (the "
    "naive global-window SQL) certifies the decomposition is exact. "
    "Headroom: the int64 moments q/p_k are exact while n*max(c)^2 < "
    "2^62 (~1e10 rows/type at 1e4-cent values); a runtime assert_true "
    "guard fails LOUDLY past the bound instead of wrapping silently.",
    tags=("timeseries", "stats", "window"),
)
def ts_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    e = load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        fp("value").alias("c"),
        F.to_date("ts").alias("bkt"),
    )
    # Raw-moment formulation: per-row work is PURE int64 (codegen hash
    # aggregate) — acf_k needs only the lag cross-moment P_k = sum(x_t *
    # x_{t-k}), the pair-restricted sums A_k = sum(x_t), B_k =
    # sum(x_{t-k}), and the global n, S, Q = sum(x^2); the d-scale
    # identity num_k = n^2*P_k - n*S*(A_k+B_k) + (n-k)*S^2 and den =
    # n^2*Q - n*S^2 widen to 128-bit only at the 5-rows-per-corpus
    # final stage. (A first cut summed DECIMAL d*d' products per row:
    # 3x slower end-to-end — BigDecimal per-row aggregation off the
    # codegen path is the cost, not the sort.)
    wloc = Window.partitionBy("event_type", "bkt").orderBy("ts", "event_id")
    # the bucket-local window output is materialized ONCE (r13): the
    # within-bucket moments, the bucket cells and the edge table all
    # consume g, and each otherwise re-inlines the corpus window sort
    # per execution (5 scans / 3 window passes in the before plan).
    # r14 scale audit: this IS a corpus-sized barrier — measured
    # 1.32 GB at the x100m point (tools/layers.py ckpt_MB) — kept on
    # the measured A/B (x100m 5.0 s without -> 2.4 s with; the three
    # consumers each re-running a corpus window sort costs more than
    # the narrow 7-int64-column lag table holds), documented per the
    # r13 advice rather than assumed bounded.
    g = e.select(
        "event_type",
        "bkt",
        "c",
        F.row_number().over(wloc).alias("rn_loc"),
        F.lag("c", 1).over(wloc).alias("lc1"),
        F.lag("c", 2).over(wloc).alias("lc2"),
        F.lag("c", 3).over(wloc).alias("lc3"),
    ).localCheckpoint(eager=True)
    within = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("c"))).alias("mx"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
        F.sum(F.col("c") * F.col("lc1")).alias("p1"),
        F.sum(F.col("c") * F.col("lc2")).alias("p2"),
        F.sum(F.col("c") * F.col("lc3")).alias("p3"),
        F.sum(F.when(F.col("lc1").isNotNull(), F.col("c"))).alias("a1"),
        F.sum(F.when(F.col("lc2").isNotNull(), F.col("c"))).alias("a2"),
        F.sum(F.when(F.col("lc3").isNotNull(), F.col("c"))).alias("a3"),
        F.sum("lc1").alias("b1"),
        F.sum("lc2").alias("b2"),
        F.sum("lc3").alias("b3"),
    )
    # Cross-bucket pairs: both endpoints of a lag<=3 pair spanning a
    # bucket edge sit in the first/last 3 rows of their buckets. The
    # edge table gets exact GLOBAL row numbers from a cells-table
    # prefix sum (buckets, never rows), so the equi-join on rn = rn'+k
    # finds the true neighbor across any number of empty buckets, and
    # same-bucket pairs (already counted by the window) are rejected.
    # bucket cells fold the checkpointed g (count per bucket is
    # identical) instead of re-scanning the corpus
    cell = g.groupBy("event_type", "bkt").agg(F.count(F.lit(1)).alias("nb"))
    woff = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cell.select(
        "event_type",
        "bkt",
        "nb",
        F.coalesce(F.sum("nb").over(woff), F.lit(0)).alias("off"),
    )
    bd = (
        g.join(F.broadcast(offs), ["event_type", "bkt"])
        .filter(
            (F.col("rn_loc") <= 3) | (F.col("rn_loc") >= F.col("nb") - 2)
        )
        .select(
            "event_type",
            "bkt",
            (F.col("off") + F.col("rn_loc")).alias("rn"),
            "c",
        )
    )
    bd2 = bd.select(
        "event_type",
        F.col("bkt").alias("bkt2"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        F.col("rn").alias("rn2"),
        F.col("c").alias("c2"),
    ).withColumn("rn", F.col("rn2") + F.col("k"))
    pairs = bd.join(F.broadcast(bd2), ["event_type", "rn"]).filter(
        F.col("bkt") != F.col("bkt2")
    )
    cross = pairs.groupBy("event_type").agg(
        *[
            agg
            for k in (1, 2, 3)
            for agg in (
                F.sum(
                    F.when(F.col("k") == k, F.col("c") * F.col("c2"))
                ).alias(f"xp{k}"),
                F.sum(F.when(F.col("k") == k, F.col("c"))).alias(f"xa{k}"),
                F.sum(F.when(F.col("k") == k, F.col("c2"))).alias(
                    f"xb{k}"
                ),
            )
        ]
    )
    m = within.join(cross, "event_type", "left")
    zero = F.lit(0)
    nd = F.col("n").cast(dec)
    sd = F.col("s").cast(dec)
    den = nd * nd * F.col("q").cast(dec) - nd * sd * sd

    def acf(k: int):
        p = F.coalesce(F.col(f"p{k}"), zero) + F.coalesce(
            F.col(f"xp{k}"), zero
        )
        ab = (
            F.coalesce(F.col(f"a{k}"), zero)
            + F.coalesce(F.col(f"xa{k}"), zero)
            + F.coalesce(F.col(f"b{k}"), zero)
            + F.coalesce(F.col(f"xb{k}"), zero)
        )
        num = (
            nd * nd * p.cast(dec)
            - nd * sd * ab.cast(dec)
            + (nd - k) * sd * sd
        )
        return F.round(
            num.cast("double") / den.cast("double"), 6
        ).alias(f"acf_lag{k}")

    # int64 raw-moment headroom guard (round-8 verdict task 6): the
    # per-row sums q = sum(c^2) and p_k = sum(c * lag_k(c)) are int64 —
    # exact while n * mx^2 stays under 2^62 (~1e10 rows/group at cents
    # scale, ~4.6e18 absolute).  Past that they would wrap SILENTLY, so
    # fail LOUDLY instead: assert_true evaluates inside the few-rows
    # final stage (NULL on pass, SparkRuntimeException on violation) and
    # is woven into n_events so column pruning cannot drop it.  Groups
    # needing more headroom want the hierarchical split: per-(type, day)
    # decimal partials over int64 leaf sums.
    headroom_ok = (
        F.col("n").cast(dec) * F.col("mx").cast(dec) * F.col("mx").cast(dec)
        < F.lit(2**62).cast(dec)
    )
    guarded_n = F.when(
        F.assert_true(
            headroom_ok,
            F.concat(
                F.lit("ts_acf_lags int64 moment headroom exceeded for "
                      "event_type="),
                F.col("event_type"),
                F.lit(": n*max(c)^2 >= 2^62 — split the moment "
                      "accumulation hierarchically"),
            ),
        ).isNull(),
        F.col("n"),
    )
    return m.select(
        "event_type",
        guarded_n.cast("long").alias("n_events"),
        acf(1),
        acf(2),
        acf(3),
    )


@query(
    "ts_cross_correlation",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    lagged AS (
      SELECT y,
             LAG(x, 0) OVER (ORDER BY d) AS x0,
             LAG(x, 1) OVER (ORDER BY d) AS x1,
             LAG(x, 2) OVER (ORDER BY d) AS x2
      FROM cells
    ),
    u AS (
      SELECT 0 AS lag, x0 AS x, y FROM lagged WHERE x0 IS NOT NULL
      UNION ALL
      SELECT 1, x1, y FROM lagged WHERE x1 IS NOT NULL
      UNION ALL
      SELECT 2, x2, y FROM lagged WHERE x2 IS NOT NULL
    ),
    s AS (
      SELECT lag, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM u GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS xcorr
    FROM s ORDER BY lag
    """,
    description="Lagged cross-correlation between the daily click and "
    "purchase volumes: xcorr_k = corr(clicks(d-k), purchases(d)) for "
    "k = 0..2 — does purchase volume follow click volume k days "
    "later? — the lead-lag diagnostic behind conversion-delay "
    "models. One corpus exchange folds events onto the bounded "
    "day-grid cell table (conditional counts, map-side combine); the "
    "LAG window and the per-lag Pearson moments run over O(days) "
    "cells only — the chi2/KS/seasonal cells-not-corpus shape. All "
    "moments are exact int64 (daily counts; n*sxy bounded by "
    "days*count^2), one final divide/sqrt with the identical IEEE "
    "sequence in both engines.",
    tags=("timeseries", "stats", "window"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cells = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    wd = Window.orderBy("d")
    # bounded day table materialized ONCE (r13): the three lag arms
    # each otherwise re-inline the corpus aggregate + day window
    # (3 scans per execution)
    lagged = cells.select(
        "y",
        F.col("x").alias("x0"),
        F.lag("x", 1).over(wd).alias("x1"),
        F.lag("x", 2).over(wd).alias("x2"),
    ).localCheckpoint(eager=True)
    arms = [
        lagged.filter(F.col(f"x{k}").isNotNull()).select(
            F.lit(k).alias("lag"), F.col(f"x{k}").alias("x"), "y"
        )
        for k in (0, 1, 2)
    ]
    u = arms[0].unionByName(arms[1]).unionByName(arms[2])
    s = u.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n_days"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("xcorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Round 10: robust trend + sequential drift detection over the day grid
# ---------------------------------------------------------------------------


@query(
    "ts_theil_sen",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_d,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS s_d
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT d, CAST(s_d AS DOUBLE) / n_d / 100.0 AS mean_v FROM cells
    ),
    pairs AS (
      SELECT (b.mean_v - a.mean_v) / (b.d - a.d) AS slope
      FROM m a JOIN m b ON b.d > a.d
    ),
    r AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
             COUNT(*) OVER () AS cnt
      FROM pairs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_days,
           CAST(MAX(cnt) AS BIGINT) AS n_pairs,
           ROUND(AVG(slope), 9) AS sen_slope
    FROM r
    WHERE rn IN (CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT),
                 CAST(FLOOR((cnt + 2) / 2.0) AS BIGINT))
    """,
    description="Theil-Sen estimator of the daily-mean value trend: the "
    "median of all pairwise slopes (mean_j - mean_i)/(day_j - day_i) "
    "over the day grid — the robust (29%-breakdown) alternative to "
    "the OLS slope stats_regression fits, immune to the outlier days "
    "that drag least-squares. Pair formation is over the BOUNDED day "
    "grid only (D days => D(D-1)/2 pairs; 30 days = 435 — the "
    "cross_correlation cells-not-corpus shape): one corpus scan "
    "folds events onto exact per-day (count, cents-sum) cells, "
    "daily means become doubles via one identical divide, and the "
    "pair join + median rank run on O(D^2) rows. The median is "
    "deterministic: slopes ranked by value, the one (odd) or two "
    "(even) middle elements averaged — value ties make rank "
    "ambiguity harmless. Every per-pair slope is the identical IEEE "
    "sequence in both engines; final round 9. Reference parity: "
    "net-new time-series surface.",
    tags=("timeseries", "stats"),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # bounded day-cell table materialized ONCE (r13): both pair sides
    # and the day count consume it (3 corpus scans per execution
    # otherwise)
    cells = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_d"),
        F.sum(fp("value")).alias("s_d"),
    ).localCheckpoint(eager=True)
    m = cells.select(
        "d",
        (
            F.col("s_d").cast("double") / F.col("n_d") / F.lit(100.0)
        ).alias("mean_v"),
    )
    a = m.select(F.col("d").alias("da"), F.col("mean_v").alias("ma"))
    b = m.select(F.col("d").alias("db"), F.col("mean_v").alias("mb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        (
            (F.col("mb") - F.col("ma"))
            / F.datediff(F.col("db"), F.col("da"))
        ).alias("slope")
    )
    w_ord = Window.orderBy("slope")
    w_all = Window.partitionBy()
    r = pairs.select(
        "slope",
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("cnt"),
    )
    mid = r.filter(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / F.lit(2.0)))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / F.lit(2.0)))
    )
    n_days = cells.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return mid.agg(
        F.max("cnt").cast("long").alias("n_pairs"),
        F.round(F.avg("slope"), 9).alias("sen_slope"),
    ).crossJoin(n_days).select("n_days", "n_pairs", "sen_slope")


@query(
    "ts_page_hinkley",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_d,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS s_d
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    run AS (
      SELECT d, s_d, n_d,
             SUM(s_d) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cs,
             SUM(n_d) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cn
      FROM cells
    ),
    term AS (
      SELECT d,
             CAST(ROUND(CAST(s_d AS DOUBLE) / n_d / 100.0
                        - CAST(cs AS DOUBLE) / cn / 100.0
                        - 0.005, 9) AS DECIMAL(38,9)) AS t9
      FROM run
    ),
    mt AS (
      SELECT d,
             SUM(t9) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS m_t,
             COUNT(*) OVER () AS n_days
      FROM term
    ),
    ph AS (
      SELECT d, n_days,
             m_t - MIN(m_t) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW) AS ph_t
      FROM mt
    ),
    gx AS (
      SELECT d, n_days, ph_t, MAX(ph_t) OVER () AS gmax FROM ph
    )
    SELECT CAST(MAX(n_days) AS BIGINT) AS n_days,
           ROUND(CAST(MAX(gmax) AS DOUBLE), 6) AS ph_stat,
           MIN(CASE WHEN ph_t = gmax THEN d END) AS drift_day,
           CAST(CASE WHEN CAST(MAX(gmax) AS DOUBLE) > 0.5 THEN 1
                ELSE 0 END AS BIGINT) AS alarm
    FROM gx
    """,
    description="Page-Hinkley sequential drift test over the daily-mean "
    "value series — the ONLINE changepoint monitor (companion to the "
    "retrospective ts_changepoint_cusum): m_t = sum_{i<=t} (x_i - "
    "xbar_i - delta) with xbar_i the running mean up to day i, "
    "PH_t = m_t - min_{u<=t} m_u, alarm when max PH exceeds lambda "
    "(delta=0.005 dollars tolerance, lambda=0.5). One corpus scan "
    "folds events onto exact per-day (count, cents-sum) cells; the "
    "running mean comes from integer prefix sums (cs/cn) so x_i and "
    "xbar_i are single identical IEEE divides; each term is "
    "ROUND(..,9) into DECIMAL(38,9) so the running sum m_t, the "
    "running min, PH_t, and the argmax equality test are all EXACT "
    "decimal arithmetic — no order- or tree-shape-dependent float "
    "accumulation anywhere (windowed double sums differ between "
    "engines' segment-tree vs sequential evaluation; decimals make "
    "that moot). All windows ride the bounded day grid (O(days) "
    "cells), never the corpus. drift_day is the earliest day "
    "attaining the max (deterministic tie-break). Reference parity: "
    "net-new time-series surface.",
    tags=("timeseries", "stats", "window"),
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_d"),
        F.sum(fp("value")).alias("s_d"),
    )
    w_ord = Window.orderBy("d")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    run = cells.select(
        "d",
        "s_d",
        "n_d",
        F.sum("s_d").over(w_cum).alias("cs"),
        F.sum("n_d").over(w_cum).alias("cn"),
    )
    term = run.select(
        "d",
        F.round(
            F.col("s_d").cast("double") / F.col("n_d") / F.lit(100.0)
            - F.col("cs").cast("double") / F.col("cn") / F.lit(100.0)
            - F.lit(0.005),
            9,
        ).cast("decimal(38,9)").alias("t9"),
    )
    mt = term.select(
        "d",
        F.sum("t9").over(w_cum).alias("m_t"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    ph = mt.select(
        "d",
        "n_days",
        (F.col("m_t") - F.min("m_t").over(w_cum)).alias("ph_t"),
    )
    gx = ph.select(
        "d", "n_days", "ph_t", F.max("ph_t").over(w_all).alias("gmax")
    )
    return gx.agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.round(F.max("gmax").cast("double"), 6).alias("ph_stat"),
        F.min(
            F.when(F.col("ph_t") == F.col("gmax"), F.col("d"))
        ).alias("drift_day"),
        F.when(F.max("gmax").cast("double") > 0.5, 1)
        .otherwise(0)
        .cast("long")
        .alias("alarm"),
    )


@query(
    "ts_mann_kendall",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.x > a.x THEN 1
                  WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
      FROM cells a JOIN cells b ON b.d > a.d
    ),
    sstat AS (
      SELECT CAST(SUM(sg) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                  AS BIGINT) AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM cells GROUP BY x) g
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cells),
    z AS (
      SELECT n, n_pairs, s,
             (CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE))
               / 18.0 AS var_s
      FROM sstat, ties, nn
    )
    SELECT n AS n_days, n_pairs, s AS s_stat,
           ROUND(var_s, 6) AS var_s,
           ROUND(CASE WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                      WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                      ELSE 0.0 END, 6) AS z_stat,
           CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                           WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                           ELSE 0.0 END) > 1.959964 THEN 'increasing'
                WHEN (CASE WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                           WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                           ELSE 0.0 END) < -1.959964 THEN 'decreasing'
                ELSE 'no trend' END AS trend
    FROM z
    """,
    description="Mann-Kendall trend test over the daily total value "
    "series — the SIGNIFICANCE companion to ts_theil_sen (which gives "
    "the robust slope magnitude): S = sum of pairwise signs, "
    "tie-corrected variance n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18, "
    "continuity-corrected z, and the 95% verdict label. Pair "
    "formation is over the BOUNDED day grid only (D days => "
    "D(D-1)/2 sign comparisons — the theil_sen/cross_correlation "
    "cells-not-corpus shape). The trend variable is the EXACT int64 "
    "daily cents total, so every pairwise sign and every tie-group "
    "size is integer-exact (no epsilon ties, no float compare); S, "
    "the tie term, and n(n-1)(2n+5) are exact integers and the only "
    "doubles are the final /18, sqrt, and divide — one identical "
    "IEEE sequence in both engines, final round 6. Reference "
    "parity: net-new time-series surface.",
    tags=("timeseries", "stats"),
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # bounded day-cell table materialized ONCE (r13): both pair sides,
    # the tie counts and the day count consume it, and each otherwise
    # re-inlines the corpus aggregate (4 scans per execution)
    cells = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(fp("value")).alias("x")
    ).localCheckpoint(eager=True)
    a = cells.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = cells.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sg")
    )
    sstat = pairs.agg(
        F.sum("sg").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    t = F.col("t")
    ties = (
        cells.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)
            ).cast("long").alias("tie_term")
        )
    )
    nn = cells.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n = F.col("n")
    z = sstat.crossJoin(ties).crossJoin(nn).select(
        "n",
        "n_pairs",
        "s",
        (
            (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast(
                "double"
            )
            / F.lit(18.0)
        ).alias("var_s"),
    )
    s = F.col("s")
    zval = (
        F.when(s > 0, (s - 1) / F.sqrt(F.col("var_s")))
        .when(s < 0, (s + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return z.select(
        F.col("n").alias("n_days"),
        "n_pairs",
        s.alias("s_stat"),
        F.round(F.col("var_s"), 6).alias("var_s"),
        F.round(zval, 6).alias("z_stat"),
        F.when(zval > 1.959964, "increasing")
        .when(zval < -1.959964, "decreasing")
        .otherwise("no trend")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# Round 10: Holt double-exponential smoothing as a fixed-tap linear form
# ---------------------------------------------------------------------------

_HOLT_ALPHA, _HOLT_BETA, _HOLT_TAPS, _HOLT_H = 0.3, 0.2, 28, 7


def _holt_weights() -> tuple[list[float], list[float]]:
    """Compile the Holt recurrence to per-day weights by linearity.

    l_t = a*y_t + (1-a)(l_{t-1}+b_{t-1}); b_t = B(l_t-l_{t-1}) +
    (1-B)b_{t-1}; init l_1=y_1, b_1=y_2-y_1.  The state is LINEAR in
    the inputs, so feeding unit impulses y_j = e_j through the
    recurrence yields exact weight vectors: l_T = sum wl_j y_j,
    b_T = sum wb_j y_j.  Computed once at import in pure Python
    (deterministic doubles) and embedded as LITERALS in both the
    Spark plan and the DuckDB oracle — the ewma 32-tap trick — so the
    engines evaluate the identical closed form instead of each
    running a sequential recurrence whose FP order could differ."""
    wl = [0.0] * _HOLT_TAPS
    wb = [0.0] * _HOLT_TAPS
    for j in range(_HOLT_TAPS):
        y = [0.0] * _HOLT_TAPS
        y[j] = 1.0
        lev, tr = y[0], y[1] - y[0]
        for t in range(1, _HOLT_TAPS):
            prev = lev
            lev = _HOLT_ALPHA * y[t] + (1 - _HOLT_ALPHA) * (lev + tr)
            tr = _HOLT_BETA * (lev - prev) + (1 - _HOLT_BETA) * tr
        wl[j], wb[j] = lev, tr
    return wl, wb


_HOLT_WL, _HOLT_WB = _holt_weights()


def _holt_oracle() -> str:
    vals = ", ".join(
        f"({i + 1}, {_HOLT_WL[i]!r}, {_HOLT_WB[i]!r})"
        for i in range(_HOLT_TAPS)
    )
    return f"""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tail AS (
      SELECT d, y, md
      FROM (SELECT d, y, MAX(d) OVER () AS md FROM cells)
      WHERE md - d < {_HOLT_TAPS}
    ),
    idx AS (
      SELECT {_HOLT_TAPS} - (md - d) AS i, y FROM tail
    ),
    w(i, wl, wb) AS (VALUES {vals}),
    acc AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(ROUND(wl * y, 9) AS DECIMAL(38,9))) AS lev,
             SUM(CAST(ROUND(wb * y, 9) AS DECIMAL(38,9))) AS tr
      FROM idx JOIN w USING (i)
    )
    SELECT CAST(n AS BIGINT) AS n_days_used,
           ROUND(CAST(lev AS DOUBLE), 6) AS level,
           ROUND(CAST(tr AS DOUBLE), 6) AS trend,
           ROUND(CAST(lev AS DOUBLE) + {_HOLT_H} * CAST(tr AS DOUBLE),
                 6) AS forecast_{_HOLT_H}d
    FROM acc
    """


@query(
    "ts_holt_forecast",
    oracle=_holt_oracle(),
    description="Holt double-exponential smoothing (level + trend, "
    "alpha=0.3, beta=0.2) of the daily-mean value series over the "
    "trailing 28 days, with a 7-day-ahead forecast — the classical "
    "short-horizon forecaster one step up from ts_ewma_smooth "
    "(level only). The sequential recurrence is compiled AWAY by "
    "linearity: unit impulses through the recurrence at import time "
    "yield exact per-day weight vectors (sum wl = 1, sum wb = 0, "
    "and a perfectly linear series recovers its slope exactly — "
    "pinned in tests), embedded as double literals in BOTH plans, "
    "so each engine evaluates one identical 28-term weighted sum "
    "(per-term ROUND(..,9) into DECIMAL(38,9), order-free exact "
    "accumulation) instead of a 28-step sequential loop whose FP "
    "order could differ — the ewma 32-tap trick extended to coupled "
    "level/trend state. One corpus fold onto the day grid; the tail "
    "window and weighted sum all run on O(days) cells. Taps are "
    "indexed by CALENDAR OFFSET from the max day (tap i = 28 - "
    "datediff(max_day, d)), not by rank over days present, so a gap "
    "in the day grid never shifts later days onto wrong taps — the "
    "most recent day always carries the heaviest tap. A gapped or "
    "short (<28-day) tail skips the missing taps (treating absent "
    "days as zero-contribution), identically in both engines; "
    "n_days_used < 28 is the caller's gap/short-series signal. Full "
    "Holt semantics hold on a gapless >= 28-day grid (the fixture).",
    tags=("timeseries", "stats"),
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = e.groupBy(F.to_date("ts").alias("d")).agg(
        (
            F.sum(fp("value")).cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        ).alias("y")
    )
    w_all = Window.partitionBy()
    tail = cells.select(
        "d", "y", F.max("d").over(w_all).alias("md")
    ).filter(F.datediff("md", "d") < _HOLT_TAPS)
    idx = tail.select(
        (F.lit(_HOLT_TAPS) - F.datediff("md", "d")).alias("i"), "y"
    )
    wl = F.array(*[F.lit(w) for w in _HOLT_WL])
    wb = F.array(*[F.lit(w) for w in _HOLT_WB])
    d9 = "decimal(38,9)"
    acc = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.element_at(wl, F.col("i")) * F.col("y"), 9).cast(
                d9
            )
        ).alias("lev"),
        F.sum(
            F.round(F.element_at(wb, F.col("i")) * F.col("y"), 9).cast(
                d9
            )
        ).alias("tr"),
    )
    lev = F.col("lev").cast("double")
    tr = F.col("tr").cast("double")
    return acc.select(
        F.col("n").cast("long").alias("n_days_used"),
        F.round(lev, 6).alias("level"),
        F.round(tr, 6).alias("trend"),
        F.round(lev + F.lit(float(_HOLT_H)) * tr, 6).alias(
            f"forecast_{_HOLT_H}d"
        ),
    )
