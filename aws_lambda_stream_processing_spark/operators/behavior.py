"""Behavioral / product-analytics operators over the event stream
(SURVEY.md §2, round 2): conversion funnel, cohort retention, activity
streaks. These are the batch twins of the reference architecture's
stream-consumer analytics (a Kinesis->Lambda pipeline's events land in a
warehouse and get exactly these queries run over them; reference identity
per SURVEY §0 [T1 README.md:3-4], semantics are the public product-
analytics definitions).

All three are window/agg compositions over the `events` table: one
shuffle on user_id (15 users here, millions at 100 TB — user_id is the
natural high-cardinality partition key, no skew), integer/date outputs
only, so every op has an exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.registry import (
    query,
    track_cache,
    tracked_local_checkpoint,
)
from aws_lambda_stream_processing_spark.session import shuffle_scope
from aws_lambda_stream_processing_spark.tables import load_table


@query(
    "q_funnel_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t0
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after
    """,
    category="2.D",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click -> purchase: a user
    advances a stage only with an event STRICTLY LATER than their entry
    into the previous stage (min-ts semantics, the standard funnel
    definition). Three stage frontiers, each a groupBy(user_id).min(ts)
    joined to the next stage's candidate events.

    Scale shape: each stage is one hash-agg on user_id; the frontier
    tables are one-row-per-converted-user (monotonically shrinking), so
    Catalyst/AQE broadcast them into the next stage's join — the full
    events table is scanned once per stage but never shuffled on anything
    wider than user_id. The final three counts are scalar aggregates
    cross-joined into one row (broadcast, no exchange)."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after")))
    )


@query(
    "q_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(a.day - f.cohort_day AS BIGINT) AS day_offset,
           COUNT(*) AS active_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY f.cohort_day, day_offset
    """,
    category="2.D",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day; for each
    (cohort_day, day_offset) the count of cohort members active that many
    days later. The product-analytics retention triangle.

    Two hash-aggs on user_id (first-seen + distinct active days) sharing
    one exchange, then a join that AQE broadcasts (firsts is one row per
    user). Output is bounded by days², independent of event volume — the
    right property at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = e.select("user_id", day.alias("day")).distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy(
            # date -> timestamp for cross-engine result parity (the
            # dates.py:145 convention: pandas renders a DuckDB DATE as a
            # Timestamp, Spark's DATE as datetime.date).
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )


@query(
    "q_win_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, anchor, COUNT(*) AS streak_len
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(streak_len) AS BIGINT) AS max_streak,
           COUNT(*) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
    category="2.E",
)
def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands: distinct active days, anchor = day - row_number
    (constant within a consecutive run), then count per (user, anchor).

    One exchange on user_id serves the dedup, the window, and both aggs
    (same key throughout — Catalyst reuses the partitioning). Days per
    user is calendar-bounded, so the window frame stays tiny no matter
    how many raw events back it."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("max_streak"),
        F.count("*").alias("n_streaks"),
    )


@query(
    "q_scd2_intervals",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, version, event_type
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY version) AS valid_to,
           n_events
    FROM intervals
    """,
    category="2.E",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change stream:
    collapse each user's consecutive same-event_type runs into versioned
    validity intervals [valid_from, valid_to) — valid_to NULL on the
    current version. The CDC-to-warehouse pattern a Lambda consumer
    writing DynamoDB/S3 state implements imperatively; here it is three
    window passes and one agg ALL on the same user_id key, so Catalyst
    plans a single exchange for the whole pipeline — at 100 TB this runs
    one shuffle over the change log, no matter how many versions."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("int")
    runs = e.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("version"),
    )
    intervals = runs.groupBy(
        "user_id", F.col("version").cast("long").alias("version"), "event_type"
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return intervals.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


@query(
    "q_funnel_ttc",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t0
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    ),
    ttc AS (
      SELECT p.user_id, epoch_us(p.t2) - epoch_us(s.t0) AS us
      FROM p JOIN s USING (user_id)
    )
    SELECT COUNT(*) AS n_converted,
           array_to_string(
             list_transform(quantile_cont(us, [0.5, 0.9, 0.99]),
                            q -> CAST(CAST(ROUND(q, 1) AS DECIMAL(20, 1))
                                      AS VARCHAR)),
             ',') AS ttc_us_pcts
    FROM ttc
    """,
    category="2.D",
)
def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert: for users completing signup→click→purchase
    (q_funnel_conversion's strict-ordering stages), the p50/p90/p99 of
    total conversion latency. Durations are exact integer MICROSECONDS
    (unix_micros difference — no float time math), interpolated once by
    the percentile sort; the array result is string-serialized per §2
    convention 4.

    Same scale shape as the funnel: shrinking broadcast frontiers, then
    ONE sorted-agg over one duration per converted user — the percentile
    input is user-bounded, not event-bounded."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    ttc = p.join(s, "user_id").select(
        (F.unix_micros("t2") - F.unix_micros("t0")).alias("us")
    )
    qs = F.percentile("us", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return ttc.agg(
        F.count("*").alias("n_converted"),
        # decimal(20,1) detour: a bare double->string cast renders these
        # magnitudes in scientific notation on Spark but positionally in
        # DuckDB; decimal stringification is positional on both.
        F.array_join(
            F.transform(
                qs,
                lambda q: F.round(q, 1).cast("decimal(20,1)").cast("string"),
            ),
            ",",
        ).alias("ttc_us_pcts"),
    )


@query(
    "q_events_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END AS touch_type,
             CASE WHEN event_type IN ('click', 'view')
                  THEN ts END AS touch_ts
      FROM events
    ),
    carried AS (
      SELECT user_id, ts, event_type, cents,
             LAST_VALUE(touch_type IGNORE NULLS) OVER w AS lt_type,
             LAST_VALUE(touch_ts IGNORE NULLS) OVER w AS lt_ts
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN lt_ts IS NOT NULL
                 AND lt_ts >= ts - INTERVAL 7 DAY
                THEN lt_type ELSE 'direct' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
    category="2.J",
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    most recent STRICTLY-EARLIER click/view by the same user within a
    7-day lookback, else to 'direct'; revenue rolls up per channel in
    exact integer cents. "Strictly earlier" is pinned by the window
    frame (ROWS ... AND 1 PRECEDING) over the deterministic (ts,
    event_id) order, so a touch sharing a purchase's timestamp never
    attributes to it — identical tie semantics in both engines.

    Scale shape: ONE shuffle on user_id (the natural high-cardinality
    key) drives a single carry-forward window (`last(..., ignorenulls)`
    over the unioned event stream — the same pattern as a sorted
    merge-scan per user); the channel rollup is a tiny hash-agg whose
    output is bounded by channel count. No self-join of purchases
    against touches — the as-of lookup rides the one sort."""
    e = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    ev = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(is_touch, F.col("event_type")).alias("touch_type"),
        F.when(is_touch, F.col("ts")).alias("touch_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.select(
        "user_id",
        "ts",
        "event_type",
        "cents",
        F.last("touch_type", ignorenulls=True).over(w).alias("lt_type"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("lt_ts"),
    )
    channel = F.when(
        F.col("lt_ts").isNotNull()
        & (F.col("lt_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        F.col("lt_type"),
    ).otherwise(F.lit("direct"))
    return (
        carried.where(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


@query(
    "q_events_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total FROM trans
      GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n,
           floor(CAST(t.n AS DOUBLE) / g.row_total * 1000000.0 + 0.5)
               / 1000000.0 AS p
    FROM trans t JOIN tot g USING (prev_type)
    ORDER BY t.prev_type, t.next_type
    """,
    category="2.D",
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next_type | prev_type) with exact transition counts — the
    behavioral model behind next-action prediction and anomaly scoring
    ("error after purchase is 40× base rate"). lag() pairs consecutive
    events (event_id breaks ts ties → deterministic pairing), one hash
    agg counts the 5×5 transition cells, a window-sum normalizes rows;
    the single division is over exact int64 on both engines, floor-
    rounded half-up to 6dp (values are non-negative). Scale: one window
    shuffle on user_id, then counts collapse to the |types|² domain
    before any further movement — the matrix is tiny no matter the
    corpus."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    row_total = F.sum("n").over(Window.partitionBy("prev_type"))
    p = F.col("n").cast("double") / F.col("row_total")
    return (
        trans.withColumn("row_total", row_total)
        .select(
            "prev_type", "next_type", "n",
            (F.floor(p * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@query(
    "q_events_ab_test",
    oracle="""
    WITH u AS (
      SELECT user_id % 2 AS variant, user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM u
    )
    SELECT n_a, c_a, n_b, c_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL
                WHEN (c_a * n_b - c_b * n_a) >= 0
                THEN floor(sqrt(
                       CAST((c_a*n_b - c_b*n_a) * (c_a*n_b - c_b*n_a) AS DOUBLE)
                       * (n_a + n_b)
                       / (CAST(n_a AS DOUBLE) * n_b * (c_a + c_b)
                          * (n_a + n_b - c_a - c_b))) * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE -floor(sqrt(
                       CAST((c_a*n_b - c_b*n_a) * (c_a*n_b - c_b*n_a) AS DOUBLE)
                       * (n_a + n_b)
                       / (CAST(n_a AS DOUBLE) * n_b * (c_a + c_b)
                          * (n_a + n_b - c_a - c_b))) * 1000000.0 + 0.5)
                     / 1000000.0
           END AS z
    FROM m
    """,
    category="2.D",
)
def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (variant = user_id parity
    — the deterministic assignment an experimentation platform hashes):
    z² reduces to the EXACT integer ratio
    (c₁n₂−c₂n₁)²·N / (n₁n₂·c·(N−c)), so the only float ops are one
    division and one sqrt over identical operands — bit-deterministic on
    both engines; the sign is an integer comparison and |z| is floor-
    rounded half-up to 6dp. Scale: per-user conversion is one hash agg
    keyed by user (partial max map-side), the four counters collapse to
    a single row before the driver sees anything."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy(
        (F.col("user_id") % 2).alias("variant"), "user_id"
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    m = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias("c_b"),
    )
    na, ca, nb, cb = F.col("n_a"), F.col("c_a"), F.col("n_b"), F.col("c_b")
    num = ca * nb - cb * na
    z2 = (
        (num * num).cast("double") * (na + nb)
        / (na.cast("double") * nb * (ca + cb) * (na + nb - ca - cb))
    )
    absz = F.floor(F.sqrt(z2) * 1000000.0 + F.lit(0.5)) / 1000000.0
    degenerate = ((ca + cb) == 0) | ((ca + cb) == (na + nb))
    return m.select(
        "n_a", "c_a", "n_b", "c_b",
        F.when(degenerate, F.lit(None).cast("double"))
        .when(num >= 0, absz)
        .otherwise(-absz)
        .alias("z"),
    )


@query(
    "q_rfm_segmentation",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, frequency, monetary_cents,
           CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS INT) AS r,
           CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS INT) AS f,
           CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS INT)
               AS m,
           CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS VARCHAR)
             || CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS VARCHAR)
             || CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey)
                     AS VARCHAR) AS segment
    FROM base ORDER BY o_custkey
    """,
    category="2.E",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing cut: quintile
    scores for Recency (last order date), Frequency (order count) and
    Monetary (lifetime cents), concatenated into the 555-style segment
    code. ntile(5) is identically defined on both engines (floor-split
    buckets) and made deterministic by the custkey tie-break; monetary
    uses exact cents. Scale: one hash agg on custkey, then three
    DISTRIBUTED two-phase rank passes (operators/dprefix.py — range
    shuffle + local row_number + broadcast offsets) over the customer-
    grain relation; ntile(5) is reconstructed from (global rank, total
    count) in exact int64 arithmetic. Customers scale with data, so no
    stage here may be a partition-less global sort — and none is."""
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        ntile_from_rank,
        two_phase_row_number,
    )

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    t = two_phase_row_number(
        base, [("last_order", True), ("o_custkey", True)], rn="__rn_r",
        total="__n", materialize=True,
    )
    t = two_phase_row_number(
        t, [("frequency", True), ("o_custkey", True)], rn="__rn_f",
        materialize=True,
    )
    t = two_phase_row_number(
        t, [("monetary_cents", True), ("o_custkey", True)], rn="__rn_m",
        materialize=True,
    )
    r = ntile_from_rank("__rn_r", "__n", 5)
    f_ = ntile_from_rank("__rn_f", "__n", 5)
    m = ntile_from_rank("__rn_m", "__n", 5)
    return (
        t.select(
            "o_custkey", "frequency", "monetary_cents",
            r.alias("r"), f_.alias("f"), m.alias("m"),
            F.concat(
                r.cast("string"), f_.cast("string"), m.cast("string")
            ).alias("segment"),
        )
        .orderBy("o_custkey")
    )


@query(
    "q_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT l_partkey, cents,
             CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
             CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
      FROM rev
    ),
    cl AS (
      SELECT l_partkey, cents,
             CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.80
                  THEN 'A'
                  WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.95
                  THEN 'B' ELSE 'C' END AS abc
      FROM c
    )
    SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents
    FROM cl GROUP BY abc ORDER BY abc
    """,
    category="2.E",
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: cumulative share
    of exact discounted cents (descending, partkey tie-break), class A
    up to 80%, B to 95%, C the tail — the inventory-analysis staple.
    The running sum is over exact int64 cents; the share is ONE IEEE
    division per row over identical integers, so the 0.80/0.95 boundary
    comparisons agree bit-for-bit across engines. Scale: revenue agg
    shuffles on partkey; the cumulative sum is the DISTRIBUTED two-phase
    prefix sum (operators/dprefix.py — range shuffle on (cents DESC,
    partkey), local running sum per partition, broadcast offsets), and
    the grand total rides the same per-partition totals. Parts scale
    with SF in TPC-H, so no partition-less window anywhere."""
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_cumsum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    c = two_phase_cumsum(
        rev, [("cents", False), ("l_partkey", True)], "cents",
        out="cum_cents", inclusive=True, total="total_cents",
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents")
    abc = (
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return (
        c.select("l_partkey", "cents", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("cents").alias("class_cents"),
        )
        .orderBy("abc")
    )


@query(
    "q_assoc_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ),
    item_n AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM items GROUP BY l_partkey
    ),
    pair_n AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT p.ante, p.cons, p.n_pair,
           floor(CAST(p.n_pair AS DOUBLE) / ia.n_item * 1000000.0 + 0.5)
               / 1000000.0 AS confidence,
           floor(CAST(p.n_pair AS DOUBLE) * n.n / (ia.n_item * ic.n_item)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pair_n p
    JOIN item_n ia ON ia.l_partkey = p.ante
    JOIN item_n ic ON ic.l_partkey = p.cons
    CROSS JOIN n_orders n
    ORDER BY p.n_pair DESC, p.ante, p.cons
    LIMIT 100
    """,
    category="2.D",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (ante ⇒ cons) over order baskets:
    pair support counts from the order self-join, confidence
    n(a,b)/n(a) and lift n(a,b)·N/(n(a)·n(b)) as single IEEE divisions
    over exact integers, floor-rounded half-up to 6dp; min support
    count 3 prunes the noise tail, deterministic total order (count
    desc, ante, cons) with a top-100 cut. Scale: the pair explosion is
    bounded per order by (basket size choose 2) — at 100 TB the support
    HAVING runs as a partial-agg before the big shuffle, item counts
    broadcast, and the final top-k is a TakeOrdered, no global sort
    materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE corpus shuffle total (r12, guide §2.4): the r11 form built a
    # distinct (orderkey, partkey) relation and re-executed it for each
    # of its three consumers (n_orders, item counts, basket arrays) —
    # 8-Exchange plan, 3 of them the same corpus-wide distinct. Building
    # the per-order basket array DIRECTLY from lineitem (collect_set
    # dedups exactly like the distinct did) and caching it serves all
    # three consumers from order-sized data: n_orders is the
    # basket count (every order has >= 1 line), per-item order counts
    # are the exploded basket multiset, pairs come from the same arrays.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .cache()
    )
    track_cache(baskets.unpersist)
    n_orders = baskets.select(F.count("*").alias("n"))
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_item"))
    )
    # Ordered pairs via per-basket arrays (the _part_edges trick): pairs
    # emitted in-executor by nested higher-order transforms — not a
    # fact-relation self-join (which shuffles the item relation twice;
    # measured 3.3 s → 2.9 s warm).
    pair_n = (
        baskets
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(filter(ps, y -> y != x), "
                    "y -> struct(x AS ante, y AS cons))))"
                )
            ).alias("e")
        )
        .select("e.ante", "e.cons")
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= 3)
    )
    ia = item_n.select(
        F.col("l_partkey").alias("ante"), F.col("n_item").alias("n_ante")
    )
    ic = item_n.select(
        F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_cons")
    )
    joined = (
        pair_n.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(n_orders))
    )
    conf = F.col("n_pair").cast("double") / F.col("n_ante")
    lift = (
        F.col("n_pair").cast("double") * F.col("n")
        / (F.col("n_ante") * F.col("n_cons"))
    )
    return (
        joined.select(
            "ante", "cons", "n_pair",
            (F.floor(conf * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
                "confidence"
            ),
            (F.floor(lift * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), F.asc("ante"), F.asc("cons"))
        .limit(100)
    )


@query(
    "q_events_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS t3
      FROM events
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path
    """,
    category="2.E",
)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths: every 3-step event sequence (sliding, per user,
    event_id tiebreak) counted corpus-wide — the clickstream-analysis
    primitive behind "what do users do right before purchase". Two
    lead() calls in ONE window pass build the trigram, a hash agg
    counts paths (the domain collapses to |types|³ map-side), and the
    deterministic order is (count desc, path). Scale: one shuffle on
    user_id for the window; the count agg moves only |types|³ rows."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
    )


@query(
    "q_events_dau_wau",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM daily GROUP BY day
    ),
    wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days d JOIN daily u
        ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
           floor(CAST(dau.dau AS DOUBLE) / wau.wau * 10000.0 + 0.5)
               / 10000.0 AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY day
    """,
    category="2.D",
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness — the engagement dashboard's first row.
    Distinct (day, user) pairs once, then DAU is a per-day count and WAU
    a 7-day trailing distinct count built by joining the day DIMENSION
    (≈ calendar size, broadcast) against the daily-user pairs on a
    6-day-back range — windowed COUNT DISTINCT doesn't exist in Spark
    windows, and re-counting from the deduplicated pair relation is the
    scalable form (pairs ≈ users×days, not events). Stickiness DAU/WAU
    is one exact-int division floor-rounded to 4dp. Day goes out as
    TIMESTAMP per the §2 DATE-canon convention. At 100 TB the pair
    relation is the only big intermediate; the range join fans each pair
    to ≤7 days."""
    e = load_table(spark, sf_dir, "events")
    daily = e.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(F.count("*").alias("dau"))
    u = daily.select(F.col("day").alias("uday"), "user_id")
    wau = (
        F.broadcast(days)
        .join(
            u,
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    stick = F.col("dau").cast("double") / F.col("wau")
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "wau",
            (F.floor(stick * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "q_events_stickiness",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('month', ts) AS month, date_trunc('day', ts) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT month, CAST(SUM(dau) AS BIGINT) AS dau_sum,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY month
    ),
    mau AS (
      SELECT date_trunc('month', ts) AS month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    )
    SELECT m.month, m.n_days, mau.mau, m.dau_sum,
           ROUND(CAST(m.dau_sum AS DOUBLE) / (m.n_days * mau.mau), 4)
             AS stickiness
    FROM m JOIN mau USING (month) ORDER BY m.month
    """,
    category="2.E",
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly stickiness (avg-DAU / MAU) — the product-engagement
    ratio next to q_events_dau_wau: how much of the monthly audience
    shows up on an average day. Exactness: stickiness =
    Σdau / (n_days · mau), ONE division of exact int64 counts →
    identical IEEE double, display-rounded. Shape: two countDistinct
    aggs (daily grain, monthly grain) + a |months|-row join — the
    distinct-user shuffles are the only data-scaled stages and both
    partial-aggregate map-side."""
    e = load_table(spark, sf_dir, "events")
    month = F.date_trunc("month", F.col("ts"))
    daily = (
        e.groupBy(
            month.alias("month"), F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.countDistinct("user_id").alias("dau"))
    )
    m = daily.groupBy("month").agg(
        F.sum("dau").alias("dau_sum"), F.count("*").alias("n_days")
    )
    mau = e.groupBy(month.alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        m.join(mau, "month")
        .select(
            "month", "n_days", "mau", "dau_sum",
            F.round(
                F.col("dau_sum").cast("double")
                / (F.col("n_days") * F.col("mau")),
                4,
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


_MK_SCALE = 10**12
_MK_ITERS = 4


def _markov_stationary_oracle() -> str:
    body = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS rt FROM trans
      GROUP BY prev_type
    ),
    states AS (SELECT prev_type AS st FROM tot),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    pi0 AS (
      SELECT st, {_MK_SCALE} // k.k AS pi FROM states CROSS JOIN k
    )"""
    prev = "pi0"
    for i in range(1, _MK_ITERS + 1):
        body += f""",
    pi{i} AS (
      SELECT t.next_type AS st,
             CAST(SUM(p.pi * t.n // g.rt) AS BIGINT) AS pi
      FROM trans t
      JOIN {prev} p ON p.st = t.prev_type
      JOIN tot g ON g.prev_type = t.prev_type
      GROUP BY t.next_type
    )"""
        prev = f"pi{i}"
    body += f"""
    SELECT st AS event_type, pi AS pi_fixed,
           floor(CAST(pi AS DOUBLE) / {_MK_SCALE} * 1000000.0 + 0.5)
             / 1000000.0 AS pi_prob
    FROM {prev}
    ORDER BY st
    """
    return body


@query(
    "q_events_markov_stationary",
    oracle=_markov_stationary_oracle(),
    category="2.D",
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — "where
    does user behavior settle?" — by fixed-point integer power
    iteration (the q_graph_pagerank discipline applied to a stochastic
    matrix): pi'_j = sum_i pi_i * n_ij div rowtotal_i at scale 1e12,
    four unrolled iterations from uniform. Float power iteration sums
    in nondeterministic order; the integer form is bit-exact on both
    engines under any partitioning (quantization < k/1e12 per step).
    Scale: the transition matrix collapses to the |types|^2 domain
    before iteration starts — each step is a broadcast-sized join no
    matter the corpus; the only data-scaled stage is the one lag window
    shared with q_events_markov."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("rt"))
    # Materialize the bounded |types|^2 matrix ONCE: each unrolled
    # iteration otherwise re-executes the data-scaled lag window (4x the
    # corpus scan; measured 10.5 s -> 5.4 s at sf0.01 under driver_sim).
    # The eager checkpoint runs at the `eager` width (law 8: a hostile
    # driver session pins 200 partitions).
    with shuffle_scope(spark, "eager"):
        tr = tracked_local_checkpoint(trans.join(tot, "prev_type"))
    states = tr.select(F.col("prev_type").alias("st")).distinct()
    k = states.agg(F.count("*").alias("k"))
    pi = states.crossJoin(F.broadcast(k)).select(
        "st", F.expr(f"{_MK_SCALE} div k").alias("pi")
    )
    for _ in range(_MK_ITERS):
        pi = (
            tr.join(
                F.broadcast(pi), tr.prev_type == F.col("st")
            )
            .select(
                F.col("next_type"),
                F.expr("pi * n div rt").alias("contrib"),
            )
            .groupBy(F.col("next_type").alias("st"))
            .agg(F.sum("contrib").alias("pi"))
        )
    return pi.select(
        F.col("st").alias("event_type"),
        F.col("pi").alias("pi_fixed"),
        (
            F.floor(
                F.col("pi").cast("double") / _MK_SCALE * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("pi_prob"),
    ).orderBy("event_type")


@query(
    "q_events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    flags AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM ud
    ),
    clas AS (
      SELECT day,
             CASE WHEN rn = 1 THEN 'new'
                  WHEN prev_day = day - INTERVAL 1 DAY THEN 'retained'
                  ELSE 'resurrected' END AS cls
      FROM flags
    ),
    counts AS (
      SELECT CAST(day AS TIMESTAMP) AS day,
             CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
             CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
                  AS BIGINT) AS retained,
             CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
                  AS BIGINT) AS resurrected,
             CAST(COUNT(*) AS BIGINT) AS dau
      FROM clas GROUP BY day
    ),
    churn AS (
      SELECT CAST(day + INTERVAL 1 DAY AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS churned
      FROM (
        SELECT user_id, day,
               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
        FROM ud
      )
      WHERE nxt IS NULL OR nxt > day + INTERVAL 1 DAY
      GROUP BY day
    )
    SELECT c.day, c.dau, c.new_users, c.retained, c.resurrected,
           COALESCE(ch.churned, 0) AS churned_from_prev
    FROM counts c LEFT JOIN churn ch USING (day)
    ORDER BY c.day
    """,
    category="2.E",
)
def q_events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the DAU decomposition every growth team
    reports: each active (user, day) classifies as NEW (first day ever),
    RETAINED (also active yesterday), or RESURRECTED (returning after a
    gap), and each day also counts users CHURNED out of the previous
    day (active then, not the next day). The identity
    dau(t) = new + retained + resurrected and
    retained(t) = dau(t-1) - churned(t) holds exactly — integer counts
    all the way, no rates to round. Scale: one distinct (user, day)
    collapse, then lag/lead on the SAME user_id exchange; day-grain
    aggregates are calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    flags = ud.select(
        "user_id", "day",
        F.lag("day").over(w).alias("prev_day"),
        F.row_number().over(w).alias("rn"),
        F.lead("day").over(w).alias("nxt"),
    )
    clas = flags.select(
        "day",
        F.when(F.col("rn") == 1, "new")
        .when(
            F.col("prev_day") == F.date_sub(F.col("day"), 1), "retained"
        )
        .otherwise("resurrected")
        .alias("cls"),
    )
    counts = clas.groupBy("day").agg(
        F.sum(F.when(F.col("cls") == "new", 1).otherwise(0)).alias(
            "new_users"
        ),
        F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0)).alias(
            "retained"
        ),
        F.sum(
            F.when(F.col("cls") == "resurrected", 1).otherwise(0)
        ).alias("resurrected"),
        F.count("*").alias("dau"),
    )
    churn = (
        flags.where(
            F.col("nxt").isNull()
            | (F.col("nxt") > F.date_add(F.col("day"), 1))
        )
        .groupBy(F.date_add(F.col("day"), 1).alias("day"))
        .agg(F.count("*").alias("churned"))
    )
    return (
        counts.join(churn, "day", "left")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0)).alias("churned_from_prev"),
        )
        .orderBy("day")
    )


@query(
    "q_events_cohort_ltv",
    oracle="""
    WITH firstd AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
      FROM events GROUP BY user_id
    ),
    rev AS (
      SELECT f.cohort,
             date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS age,
             CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e JOIN firstd f USING (user_id)
      GROUP BY 1, 2
    ),
    size_ AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM firstd GROUP BY cohort
    )
    SELECT CAST(r.cohort AS TIMESTAMP) AS cohort,
           CAST(r.age AS BIGINT) AS age_days,
           s.cohort_users,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_cents,
           floor(CAST(SUM(r.cents) OVER (PARTITION BY r.cohort
                      ORDER BY r.age
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / s.cohort_users * 10000.0 + 0.5) / 10000.0
             AS ltv_cents_per_user
    FROM rev r JOIN size_ s USING (cohort)
    ORDER BY cohort, age_days
    """,
    category="2.E",
)
def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — cumulative revenue per signup cohort by
    cohort age, per-user normalized: the curve whose asymptote IS the
    lifetime value and whose day-k reads give payback periods. Pairs
    with q_retention_cohort (who stays) by adding what they spend.
    Revenue folds to (cohort, age) grain before any window; the
    cumulative runs per cohort over age — both axes calendar-bounded,
    so every partition is tiny forever. Exact cents; the per-user
    normalization is one division floor-4dp."""
    e = load_table(spark, sf_dir, "events")
    firstd = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort")
    )
    rev = (
        e.join(firstd, "user_id")
        .groupBy(
            "cohort",
            F.datediff(F.to_date("ts"), F.col("cohort")).alias("age"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    size = firstd.groupBy("cohort").agg(
        F.count("*").alias("cohort_users")
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("cents").over(wc)
    return (
        rev.join(F.broadcast(size), "cohort")
        .select(
            F.col("cohort").cast("timestamp").alias("cohort"),
            F.col("age").cast("long").alias("age_days"),
            "cohort_users",
            cum.alias("cum_cents"),
            (
                F.floor(
                    cum.cast("double") / F.col("cohort_users") * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("ltv_cents_per_user"),
        )
        .orderBy("cohort", "age_days")
    )


@query(
    "q_agg_survival_km",
    oracle="""
    WITH life AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_day,
             MAX(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_day) AS h FROM life),
    obs AS (
      SELECT date_diff('day', l.first_day, l.last_day) AS t,
             CASE WHEN date_diff('day', l.last_day, hz.h) >= 1
                  THEN 1 ELSE 0 END AS died
      FROM life l CROSS JOIN horizon hz
    ),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM obs),
    ev AS (
      SELECT t,
             CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             n0 - COALESCE(CAST(SUM(leaving) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS n_at_risk
      FROM ev CROSS JOIN n_tot
    ),
    km AS (
      SELECT t, d, n_at_risk,
             CAST(SUM(CAST(ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk)
                  AS DECIMAL(38, 18))) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS lsum
      FROM risk WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS t_days, d AS n_churned, n_at_risk,
           floor(exp(lsum) * 1000000.0 + 0.5) / 1000000.0 AS survival
    FROM km ORDER BY t_days
    """,
    category="2.D",
)
def q_agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetimes — THE churn
    statistic (time from first to last activity, right-censored for
    users still active ON the horizon day — their lifetimes are lower
    bounds, exactly what KM handles and a naive churn-rate ignores): S(t) = prod over death times (1 - d_i/n_i). The product
    evaluates in LOG space — each ln takes a ratio of exact int64
    counts, terms sum in DECIMAL (order-proof), one exp, floor-6dp
    (law 18 twice). The at-risk counts fold from one cumulative over
    the CALENDAR-BOUNDED lifetime grid (<= observed days). Scale: one
    user collapse + bounded-grid windows; the curve is |days| rows."""
    e = load_table(spark, sf_dir, "events")
    life = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    horizon = life.agg(F.max("last_day").alias("h"))
    obs = life.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").alias("t"),
        (F.datediff(F.col("h"), F.col("last_day")) >= 1)
        .cast("long").alias("died"),
    )
    n_tot = obs.agg(F.count("*").alias("n0"))
    ev = obs.groupBy("t").agg(
        F.sum("died").alias("d"), F.count("*").alias("leaving")
    )
    wprev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = ev.crossJoin(F.broadcast(n_tot)).select(
        "t", "d",
        (
            F.col("n0")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_at_risk"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.where(F.col("d") > 0).select(
        "t", "d", "n_at_risk",
        F.sum(
            F.log(
                (F.col("n_at_risk") - F.col("d")).cast("double")
                / F.col("n_at_risk")
            ).cast("decimal(38,18)")
        ).over(wcum).cast("double").alias("lsum"),
    )
    return km.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("d").alias("n_churned"),
        "n_at_risk",
        (
            F.floor(F.exp("lsum") * 1000000.0 + F.lit(0.5)) / 1000000.0
        ).alias("survival"),
    ).orderBy("t_days")


@query(
    "q_events_lorenz_curve",
    oracle="""
    WITH x AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT cnt,
             ntile(10) OVER (ORDER BY cnt, user_id) AS decile
      FROM x
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM x)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           floor(CAST(SUM(SUM(cnt)) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / MAX(t.s)
                 * 10000.0 + 0.5) / 10000.0 AS cum_share
    FROM r CROSS JOIN tot t
    GROUP BY decile ORDER BY decile
    """,
    category="2.E",
)
def q_events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of user activity in deciles — the VISUAL companion
    to q_agg_gini's scalar (the "bottom 50% of users generate X% of
    events" statement itself): users rank by activity via the
    distributed two-phase rank + integer ntile reconstruction (never a
    partition-less ntile; materialize=True per law 20 — the rank input
    is an agg over a session-cached table), then per-decile event
    shares cumulate over the 10-row bounded output. Exact counts, one
    rounded share per decile."""
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        ntile_from_rank, two_phase_row_number,
    )

    e = load_table(spark, sf_dir, "events")
    x = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    ranked = two_phase_row_number(
        x, [("cnt", True), ("user_id", True)], rn="__rn", total="__n",
        materialize=True,
    )
    deciled = ranked.withColumn(
        "decile", ntile_from_rank("__rn", "__n", 10)
    )
    tot = x.agg(F.sum("cnt").alias("s"))
    per = deciled.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("cnt").alias("n_events")
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_users", "n_events",
            (
                F.floor(
                    F.sum("n_events").over(wcum).cast("double")
                    / F.col("s")
                    * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@query(
    "q_events_srm_check",
    oracle="""
    WITH assign AS (
      SELECT CASE WHEN (user_id * 2654435761) % 1000003 % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    c AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM assign
    )
    SELECT na, nb,
           floor(CAST((na - nb) * (na - nb) AS DOUBLE) / (na + nb)
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_1dof,
           CAST(CASE WHEN CAST((na - nb) * (na - nb) AS DOUBLE)
                          / (na + nb) > 3.841459
                THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
    FROM c
    """,
    category="2.D",
)
def q_events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check — the experiment-hygiene test run
    BEFORE reading any A/B result (q_events_ab_test's sibling): under
    a 50/50 split the arm counts give chi2 = (na-nb)^2/(na+nb) on one
    dof; exceeding the 5% critical value 3.841 means the assignment
    itself is broken and every downstream metric is garbage. The arm
    hash is the same Knuth assignment the A/B query uses; counts are
    exact ints, chi2 is one IEEE division against a literal constant.
    One distinct-collapse + one agg."""
    e = load_table(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().select(
        F.when(
            (F.col("user_id") * 2654435761) % 1000003 % 2 == 0, "A"
        ).otherwise("B").alias("arm")
    )
    c = assign.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("nb"),
    )
    chi2 = (
        ((F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb")))
        .cast("double")
        / (F.col("na") + F.col("nb"))
    )
    return c.select(
        "na", "nb",
        (F.floor(chi2 * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "chi2_1dof"
        ),
        (chi2 > 3.841459).cast("int").alias("srm_flag"),
    )


@query(
    "q_agg_capture_recapture",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    ),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w1) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM w2) AS n2,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM w1 JOIN w2 USING (user_id)) AS m
    )
    SELECT n1, n2, m,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
             AS chapman_estimate,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
             AS observed_total
    FROM c
    """,
    category="2.D",
)
def q_agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman estimator) — ecology's population
    count applied to the audience question observation can't answer
    directly: "how many users EXIST, including the ones we never saw?"
    Two observation windows act as the capture and recapture samples;
    N-hat = (n1+1)(n2+1)/(m+1) - 1 from the overlap m. Pure integer
    floor division (the Chapman form is integer-friendly by
    construction); the observed distinct total rides along so the
    dark-user gap is visible in one row. Two distinct-collapses + one
    co-keyed join."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    w1 = e.where(F.col("ts") < cut).select("user_id").distinct()
    w2 = e.where(F.col("ts") >= cut).select("user_id").distinct()
    n1 = w1.agg(F.count("*").alias("n1"))
    n2 = w2.agg(F.count("*").alias("n2"))
    m = w1.join(w2, "user_id").agg(F.count("*").alias("m"))
    obs = e.agg(F.countDistinct("user_id").alias("observed_total"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(obs))
        .select(
            "n1", "n2", "m",
            F.expr(
                "(n1 + 1) * (n2 + 1) div (m + 1) - 1"
            ).alias("chapman_estimate"),
            "observed_total",
        )
    )


@query(
    "q_funnel_windowed",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t0
        AND e.ts <= s.t0 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
        AND e.ts <= c.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_24h,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_24h
    """,
    category="2.D",
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED conversion funnel: each stage must fire within
    24 h of entering the previous stage (the strict-funnel semantics
    product analytics tools default to — q_funnel_conversion is the
    unconstrained twin; the constraint changes the numbers materially
    because stale conversions stop counting). Same frontier-broadcast
    plan: each stage is one hash-agg on user_id whose one-row-per-user
    frontier broadcasts into the next stage's candidate join with BOTH
    the ordering and the deadline predicate; the events table is never
    shuffled wider than user_id. Timestamps compare exactly (µs
    integers on both engines)."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr("INTERVAL 24 HOURS")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .where((F.col("ts") > F.col("t0")) & (F.col("ts") <= F.col("t0") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_24h")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_24h")))
    )


_SEQ_PATTERN = "v[^e]*c[^e]*p"  # view -> click -> purchase, no error between


@query(
    "q_events_sequence_match",
    oracle=f"""
    WITH sess AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events
      GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(seq, '{_SEQ_PATTERN}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
    FROM sess
    GROUP BY day
    ORDER BY day
    """,
    category="2.E",
)
def q_events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching (MATCH_RECOGNIZE-lite): each
    (user, day) session collapses to an ordered initial-letter string
    (v/c/p/s/e), and a regular expression detects the
    view→click→purchase conversion WITH NO ERROR IN BETWEEN —
    order-sensitive funnel logic that plain conditional aggregation
    cannot express (q_funnel_conversion counts stage presence;
    this counts stage SEQUENCE). Determinism: the per-session string
    is built from a sorted struct array with the (ts, event_id)
    tiebreak, so both engines regex the identical string; the pattern
    uses only portable regex atoms (character class + star). Scale
    shape: one hash-agg shuffle on (user, day) builds the session
    strings (each bounded by a day's events per user), the regex is a
    codegen'd per-row op, and the daily rollup reuses nothing wider
    than the session relation — no window, no self-join, no
    explode-back."""
    e = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1))
                )
            ),
            lambda s: s["col3"],
        ),
        "",
    )
    sess = e.groupBy(
        "user_id",
        F.col("ts").cast("date").cast("timestamp").alias("day"),
    ).agg(seq.alias("seq"))
    return (
        sess.groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(
                F.col("seq").rlike(_SEQ_PATTERN).cast("bigint")
            ).alias("n_matched"),
        )
        .orderBy("day")
    )


_TYPE_IDX = {"click": 0, "error": 1, "purchase": 2, "signup": 3, "view": 4}


def _audience_overlap_oracle() -> str:
    case = " ".join(
        f"WHEN '{t}' THEN {i}" for t, i in sorted(_TYPE_IDX.items())
    )
    arms = []
    types = sorted(_TYPE_IDX)
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            ba, bb = 1 << _TYPE_IDX[a], 1 << _TYPE_IDX[b]
            arms.append(f"""
      SELECT '{a}' AS type_a, '{b}' AS type_b,
             CAST(SUM(CASE WHEN mask & {ba} > 0 AND mask & {bb} > 0
                           THEN n_users ELSE 0 END) AS BIGINT) AS n_both,
             CAST(SUM(CASE WHEN mask & {ba} > 0 OR mask & {bb} > 0
                           THEN n_users ELSE 0 END) AS BIGINT) AS n_either
      FROM hist""")
    return f"""
    WITH masks AS (
      SELECT user_id,
             bit_or(1 << (CASE event_type {case} END)) AS mask
      FROM events
      WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
      GROUP BY user_id
    ),
    hist AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM masks GROUP BY mask
    )
    SELECT type_a, type_b, n_both, n_either,
           floor(CAST(n_both AS DOUBLE) / CAST(n_either AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM ({" UNION ALL ".join(arms)})
    ORDER BY type_a, type_b
    """


@query(
    "q_events_audience_overlap",
    oracle=_audience_overlap_oracle(),
    category="2.D",
)
def q_events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap Jaccard for every event-type pair — 'do my
    clickers also purchase?' — over the day-1 slice (the full 30-day
    corpus saturates every user's type set; one day keeps the masks
    discriminating), computed WITHOUT ten COUNT(DISTINCT) joins: one hash-agg folds each user's type set into a 5-bit mask
    (bit_or is associative — map-side combinable), a second collapses
    the masks to a <=32-row histogram, and all ten pairwise
    intersection/union counts are integer sums over that histogram —
    the pair fan-out costs nothing because it runs on 32 rows. Exact
    integers; Jaccard is one IEEE division floor-6dp. At 100 TB the
    shape is unchanged: user-mask agg (one shuffle), constant-size
    histogram, constant pair table — the distinct-set problem never
    materializes a set."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    idx = F.when(F.lit(False), F.lit(0))
    for t, i in sorted(_TYPE_IDX.items()):
        idx = idx.when(F.col("event_type") == t, F.lit(i))
    masks = (
        e.withColumn("type_idx", idx)
        .groupBy("user_id")
        .agg(F.bit_or(F.expr("shiftleft(1, type_idx)")).alias("mask"))
    )
    hist = masks.groupBy("mask").agg(F.count("*").alias("n_users"))
    types = sorted(_TYPE_IDX)
    # ONE pass: explode the constant 10-pair table against the <=32-row
    # histogram and aggregate — the previous union of 10 independent
    # hist.agg() arms re-executed the events scan + user-mask shuffle
    # per arm (no common-subtree reuse across union branches; §2.4
    # "don't compute things you throw away"). Same integer sums, same
    # one-row-per-pair output, ordered identically.
    pair_structs = [
        F.struct(
            F.lit(a).alias("type_a"),
            F.lit(b).alias("type_b"),
            F.lit(1 << _TYPE_IDX[a]).alias("ba"),
            F.lit(1 << _TYPE_IDX[b]).alias("bb"),
        )
        for i, a in enumerate(types)
        for b in types[i + 1:]
    ]
    both = (
        (F.col("mask").bitwiseAND(F.col("p.ba")) > 0)
        & (F.col("mask").bitwiseAND(F.col("p.bb")) > 0)
    ).cast("bigint")
    either = (
        (F.col("mask").bitwiseAND(F.col("p.ba")) > 0)
        | (F.col("mask").bitwiseAND(F.col("p.bb")) > 0)
    ).cast("bigint")
    out = (
        hist.select(
            "mask", "n_users", F.explode(F.array(*pair_structs)).alias("p")
        )
        .groupBy(
            F.col("p.type_a").alias("type_a"),
            F.col("p.type_b").alias("type_b"),
        )
        .agg(
            F.sum(both * F.col("n_users")).alias("n_both"),
            F.sum(either * F.col("n_users")).alias("n_either"),
        )
    )
    jac = F.col("n_both").cast("double") / F.col("n_either").cast("double")
    return out.select(
        "type_a",
        "type_b",
        "n_both",
        "n_either",
        (F.floor(jac * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("jaccard"),
    ).orderBy("type_a", "type_b")


@query(
    "q_agg_session_window",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             -- Same TOTAL order as window w in `g`: ts-only ordering
             -- leaves equal-ts rows in unspecified ROWS-frame order,
             -- which could split/merge sessions nondeterministically
             -- (r7 ADVICE, dynamic-gap twin).
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
    category="2.E",
)
def q_agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation on the BATCH engine — the same
    30-min-gap semantics as q_ts_sessionize_batch but through Spark's
    dedicated session-window primitive instead of the hand-rolled
    gaps-and-islands: `groupBy(user_id, session_window(ts, gap))`
    compiles to ONE hash-partition-by-user exchange plus an in-partition
    sort-and-merge of overlapping windows — no lag pass, no running-sum
    window pass, so two whole WindowExec stages disappear versus the
    manual formulation. `session_window.end` is defined as last event +
    gap, which the oracle reproduces explicitly (max(ts) + 30 min over
    gaps-and-islands sessions). Events sharing a timestamp merge into
    one session under both formulations (the oracle's running sum
    orders by ts alone for the same reason), so the outputs agree
    row-for-row. At 100 TB this is the sessionization you want: one
    shuffle keyed by user, merging local to each partition, and the
    session struct usable directly as a join key for downstream
    attribution."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_events_cuped",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN CAST(round(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS x,
               CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                        THEN CAST(round(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS y
        FROM events
        GROUP BY 1, 2
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM u
    ),
    t AS (
        SELECT n, sx,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
        FROM g
    ),
    v AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS BIGINT) AS sx_v,
               CAST(SUM(y) AS BIGINT) AS sy_v
        FROM u GROUP BY variant
    )
    SELECT v.variant, v.n_users,
           floor((CAST(sy_v AS DOUBLE) / n_users) * 1000000.0 + 0.5)
               / 1000000.0 AS post_mean_cents,
           CASE WHEN (CAST(sy_v AS DOUBLE) / n_users
                      - t.theta * (CAST(sx_v AS DOUBLE) / n_users
                                   - CAST(t.sx AS DOUBLE) / t.n)) >= 0
                THEN floor((CAST(sy_v AS DOUBLE) / n_users
                            - t.theta * (CAST(sx_v AS DOUBLE) / n_users
                                         - CAST(t.sx AS DOUBLE) / t.n))
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-(CAST(sy_v AS DOUBLE) / n_users
                              - t.theta * (CAST(sx_v AS DOUBLE) / n_users
                                           - CAST(t.sx AS DOUBLE) / t.n))
                            * 1000000.0 + 0.5) / 1000000.0
           END AS adj_mean_cents,
           CASE WHEN t.theta >= 0
                THEN floor(t.theta * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-t.theta * 1000000.0 + 0.5) / 1000000.0
           END AS theta
    FROM v, t
    ORDER BY v.variant
    """,
    category="2.D",
)
def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the standard
    experimentation-platform estimator): per-user PRE-period spend is
    the control covariate for the POST-period metric; theta =
    cov(pre,post)/var(pre) fitted on ALL users (variant-blind, so the
    adjustment is unbiased), adjusted mean per variant =
    mean(Y) − theta·(mean(X) − mean(X_all)). Determinism contract:
    per-user pre/post totals are EXACT integer cents, all five
    sufficient statistics (n, Σx, Σy, Σx², Σxy) are exact BIGINTs, and
    theta/means are derived from those identical operands in double —
    cast to double BEFORE the cross-products (n·Σxy overflows int64
    around sf1), floor-rounded half-up at 6dp with an explicit
    negative-branch mirror. Scale: one hash agg keyed by user (partial
    map-side), then TWO single-row reductions (global stats, per-variant
    stats) — the covariate fit never shuffles raw events twice, and the
    driver sees five numbers, not users."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.lit("2024-01-16").cast("timestamp")
    u = (
        e.groupBy("user_id", (F.col("user_id") % 2).alias("variant"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < pre, cents)), F.lit(0)
            ).cast("bigint").alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= pre, cents)), F.lit(0)
            ).cast("bigint").alias("y"),
        )
    )
    g = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    t = g.select(
        "n", "sx",
        (
            (nd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (nd * F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("theta"),
    )
    v = u.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sx_v"),
        F.sum("y").cast("bigint").alias("sy_v"),
    )

    def round6(c):
        return F.when(
            c >= 0, F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0
        ).otherwise(-F.floor(-c * 1000000.0 + F.lit(0.5)) / 1000000.0)

    post_mean = F.col("sy_v").cast("double") / F.col("n_users")
    adj = post_mean - F.col("theta") * (
        F.col("sx_v").cast("double") / F.col("n_users")
        - F.col("sx").cast("double") / F.col("n")
    )
    return (
        v.crossJoin(t)
        .select(
            "variant", "n_users",
            round6(post_mean).alias("post_mean_cents"),
            round6(adj).alias("adj_mean_cents"),
            round6(F.col("theta")).alias("theta"),
        )
        .orderBy("variant")
    )


@query(
    "q_events_diff_in_diff",
    oracle="""
    WITH cells AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
                   AS period,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    m AS (
        SELECT
          MAX(CASE WHEN variant=1 AND period=1
                   THEN CAST(cents AS DOUBLE)/n END) AS t_post,
          MAX(CASE WHEN variant=1 AND period=0
                   THEN CAST(cents AS DOUBLE)/n END) AS t_pre,
          MAX(CASE WHEN variant=0 AND period=1
                   THEN CAST(cents AS DOUBLE)/n END) AS c_post,
          MAX(CASE WHEN variant=0 AND period=0
                   THEN CAST(cents AS DOUBLE)/n END) AS c_pre
        FROM cells
    )
    SELECT floor(t_pre  * 1000000.0 + 0.5) / 1000000.0 AS treat_pre,
           floor(t_post * 1000000.0 + 0.5) / 1000000.0 AS treat_post,
           floor(c_pre  * 1000000.0 + 0.5) / 1000000.0 AS ctrl_pre,
           floor(c_post * 1000000.0 + 0.5) / 1000000.0 AS ctrl_post,
           CASE WHEN ((t_post - t_pre) - (c_post - c_pre)) >= 0
                THEN floor(((t_post - t_pre) - (c_post - c_pre))
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-((t_post - t_pre) - (c_post - c_pre))
                            * 1000000.0 + 0.5) / 1000000.0
           END AS did
    FROM m
    """,
    category="2.D",
)
def q_events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the other workhorse causal estimator
    next to CUPED (q_events_cuped): mean purchase cents per
    variant×period cell (variant = user_id parity, period split at the
    Jan-16 midpoint), DiD = (treat_post − treat_pre) −
    (ctrl_post − ctrl_pre). Each cell mean is exact-integer cents / an
    exact count — the only float ops are four divisions and three
    subtractions over identical operands, floor-rounded half-up at 6dp
    (negative-mirrored for the estimate, which can legitimately be
    negative). Scale: ONE hash agg over the filtered fact produces four
    cells; everything after is a single-row pivot — the estimator costs
    one scan regardless of corpus size."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    cells = e.groupBy(
        (F.col("user_id") % 2).alias("variant"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0
        ).otherwise(1).alias("period"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents"),
        F.count("*").cast("bigint").alias("n"),
    )

    def cell(vv, pp):
        return F.max(
            F.when(
                (F.col("variant") == vv) & (F.col("period") == pp),
                F.col("cents").cast("double") / F.col("n"),
            )
        )

    m = cells.agg(
        cell(1, 1).alias("t_post"), cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"), cell(0, 0).alias("c_pre"),
    )

    def round6pos(c):
        return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0

    did = (F.col("t_post") - F.col("t_pre")) - (
        F.col("c_post") - F.col("c_pre")
    )
    return m.select(
        round6pos(F.col("t_pre")).alias("treat_pre"),
        round6pos(F.col("t_post")).alias("treat_post"),
        round6pos(F.col("c_pre")).alias("ctrl_pre"),
        round6pos(F.col("c_post")).alias("ctrl_post"),
        F.when(did >= 0, round6pos(did))
        .otherwise(-F.floor(-did * 1000000.0 + F.lit(0.5)) / 1000000.0)
        .alias("did"),
    )


@query(
    "q_events_delta_method",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events
        GROUP BY 1, 2
    ),
    m AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM u GROUP BY variant
    ),
    d AS (
        SELECT variant, n,
               CAST(sx AS DOUBLE) / sy AS r,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1) AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                   / (n - 1) AS vy,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                   / (n - 1) AS cxy,
               CAST(sy AS DOUBLE) / n AS my
        FROM m
    ),
    se AS (
        SELECT variant, n, r,
               sqrt((vx - 2 * r * cxy + r * r * vy) / (n * my * my)) AS s
        FROM d
    )
    SELECT MAX(CASE WHEN variant = 1 THEN n END) AS n_treat,
           MAX(CASE WHEN variant = 0 THEN n END) AS n_ctrl,
           floor(MAX(CASE WHEN variant = 1 THEN r END)
                 * 1000000.0 + 0.5) / 1000000.0 AS r_treat,
           floor(MAX(CASE WHEN variant = 0 THEN r END)
                 * 1000000.0 + 0.5) / 1000000.0 AS r_ctrl,
           floor(MAX(CASE WHEN variant = 1 THEN s END)
                 * 1000000.0 + 0.5) / 1000000.0 AS se_treat,
           floor(MAX(CASE WHEN variant = 0 THEN s END)
                 * 1000000.0 + 0.5) / 1000000.0 AS se_ctrl,
           CASE WHEN (MAX(CASE WHEN variant = 1 THEN r END)
                      - MAX(CASE WHEN variant = 0 THEN r END)) >= 0
                THEN floor((MAX(CASE WHEN variant = 1 THEN r END)
                            - MAX(CASE WHEN variant = 0 THEN r END))
                           / sqrt(MAX(CASE WHEN variant = 1 THEN s END)
                                  * MAX(CASE WHEN variant = 1 THEN s END)
                                  + MAX(CASE WHEN variant = 0 THEN s END)
                                  * MAX(CASE WHEN variant = 0 THEN s END))
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-(MAX(CASE WHEN variant = 1 THEN r END)
                              - MAX(CASE WHEN variant = 0 THEN r END))
                            / sqrt(MAX(CASE WHEN variant = 1 THEN s END)
                                   * MAX(CASE WHEN variant = 1 THEN s END)
                                   + MAX(CASE WHEN variant = 0 THEN s END)
                                   * MAX(CASE WHEN variant = 0 THEN s END))
                            * 1000000.0 + 0.5) / 1000000.0
           END AS z
    FROM se
    """,
    category="2.D",
)
def q_events_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method inference for a RATIO metric (revenue per event —
    the metric class where naive per-user t-tests are WRONG because
    numerator and denominator are correlated within user): per variant,
    R = ΣX/ΣY and Var(R) ≈ (vx − 2R·cov + R²·vy)/(n·ȳ²) from the
    user-level moment vector (Deng, Knoblich & Lu, KDD'18 — the
    estimator every experimentation platform ships for sessions/user,
    revenue/pageview metrics). Third member of the causal family with
    q_events_ab_test (proportions) and q_events_cuped (variance
    reduction). Determinism: per-user X (purchase cents) and Y (event
    count) are exact integers; all six moments per variant are exact
    BIGINTs; R, the three sample (co)variances, the two SEs and the
    final z are double algebra over identical operands, floor-6dp with
    a signed mirror on z. Scale: one per-user hash agg, then a
    six-number reduction per variant — the same
    sufficient-statistics-only pattern as CUPED, nothing
    driver-side beyond two rows."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("x"),
        F.count("*").cast("bigint").alias("y"),
    )
    m = u.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    d = m.select(
        "variant", "n",
        (F.col("sx").cast("double") / F.col("sy")).alias("r"),
        ((F.col("sxx").cast("double")
          - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
         / (F.col("n") - 1)).alias("vx"),
        ((F.col("syy").cast("double")
          - F.col("sy").cast("double") * F.col("sy") / F.col("n"))
         / (F.col("n") - 1)).alias("vy"),
        ((F.col("sxy").cast("double")
          - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
         / (F.col("n") - 1)).alias("cxy"),
        (F.col("sy").cast("double") / nd).alias("my"),
    )
    se = d.select(
        "variant", "n", "r",
        F.sqrt(
            (F.col("vx") - 2 * F.col("r") * F.col("cxy")
             + F.col("r") * F.col("r") * F.col("vy"))
            / (F.col("n") * F.col("my") * F.col("my"))
        ).alias("s"),
    )

    def pick(v, c):
        return F.max(F.when(F.col("variant") == v, F.col(c)))

    def r6(c):
        return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0

    agg = se.agg(
        pick(1, "n").alias("n_treat"), pick(0, "n").alias("n_ctrl"),
        pick(1, "r").alias("rt"), pick(0, "r").alias("rc"),
        pick(1, "s").alias("st"), pick(0, "s").alias("sc"),
    )
    zval = (F.col("rt") - F.col("rc")) / F.sqrt(
        F.col("st") * F.col("st") + F.col("sc") * F.col("sc")
    )
    return agg.select(
        "n_treat", "n_ctrl",
        r6(F.col("rt")).alias("r_treat"),
        r6(F.col("rc")).alias("r_ctrl"),
        r6(F.col("st")).alias("se_treat"),
        r6(F.col("sc")).alias("se_ctrl"),
        F.when(zval >= 0, r6(zval))
        .otherwise(-F.floor(-zval * 1000000.0 + F.lit(0.5)) / 1000000.0)
        .alias("z"),
    )


@query(
    "q_events_power_mde",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS x
        FROM events
        GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM u
    ),
    d AS (
        SELECT n, CAST(sx AS DOUBLE) / n AS mean_cents,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1) AS var_cents
        FROM m
    )
    SELECT n,
           floor(mean_cents * 1000000.0 + 0.5) / 1000000.0 AS mean_cents,
           floor(sqrt(2.0 * var_cents / n) * (1.959964 + 0.841621)
                 * 1000000.0 + 0.5) / 1000000.0 AS mde_cents,
           CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                     * var_cents / (0.02 * mean_cents * 0.02 * mean_cents))
                AS BIGINT) AS n_per_arm_2pct
    FROM d
    """,
    category="2.D",
)
def q_events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment DESIGN math — power analysis from pilot moments,
    closing the experimentation suite's loop (design here → assignment
    → q_events_ab_test / q_events_delta_method / q_events_cuped
    readouts): from the per-user revenue distribution's exact integer
    moments, (a) the minimum detectable effect at the CURRENT sample
    (MDE = (z_{α/2}+z_β)·√(2σ²/n), α=5%, power=80% — the z constants
    are spelled as identical 6-dp literals on both engines, no inverse-
    normal needed), and (b) the required n per arm to detect a 2% lift
    of the mean. This is the query every experimentation platform runs
    BEFORE an experiment — sizing from production variance, not
    guesses. Determinism: (n, Σx, Σx²) exact BIGINTs; mean, sample
    variance, one sqrt and one ceil'd quotient in double over identical
    operands, floor-6dp. Scale: one per-user hash agg → a three-number
    reduction; the ceil is the only row the driver sees."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("x")
    )
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    d = m.select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mean_cents"),
        ((F.col("sxx").cast("double")
          - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
         / (F.col("n") - 1)).alias("var_cents"),
    )
    z = F.lit(1.959964) + F.lit(0.841621)

    def r6(c):
        return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0

    mde = F.sqrt(2.0 * F.col("var_cents") / F.col("n")) * z
    n_req = F.ceil(
        2.0 * z * z * F.col("var_cents")
        / (0.02 * F.col("mean_cents") * 0.02 * F.col("mean_cents"))
    ).cast("bigint")
    return d.select(
        "n",
        r6(F.col("mean_cents")).alias("mean_cents"),
        r6(mde).alias("mde_cents"),
        n_req.alias("n_per_arm_2pct"),
    )


@query(
    "q_agg_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'signup') THEN 45
                  WHEN event_type = 'error' THEN 5
                  ELSE 15 END AS gap_min
      FROM events
    ),
    g AS (
      SELECT user_id, ts, event_id, gap_min,
             CASE WHEN MAX(ts + to_minutes(gap_min)) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR ts >= MAX(ts + to_minutes(gap_min)) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT user_id, ts, gap_min,
             -- Same TOTAL order as the is_new windows in `g` (ts,
             -- event_id): with ts-only ordering, the ROWS-frame order
             -- among equal-ts rows is unspecified, so sid assignment
             -- could merge rows across session boundaries (r7 ADVICE).
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts + to_minutes(gap_min)) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
    category="2.E",
)
def q_agg_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows — `session_window(ts, <expression>)`
    with a PER-ROW gap (purchases/signups hold a session open 45 min,
    errors only 5, browsing 15): the session model real products use,
    where intent signals extend the session and noise doesn't. The
    semantics change vs the fixed gap is real, not cosmetic: each
    event contributes its own candidate window [ts, ts+gap), sessions
    are the transitive merge of OVERLAPS, so a session's end is the
    MAX of ts+gap over its members — not last-event+constant — and
    the oracle's gaps-and-islands rewrite must track a RUNNING MAX of
    per-row ends (a new session starts iff ts clears every previous
    end), not the previous row's ts. Same execution shape as the
    fixed-gap rung: ONE hash exchange on user_id + in-partition merge
    — the dynamic gap is evaluated row-side, costs nothing extra at
    100 TB, and works identically under Structured Streaming where
    per-event-type gaps are the standard sessionization ask."""
    e = load_table(spark, sf_dir, "events")
    gap = (
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            F.lit("45 minutes"),
        )
        .when(F.col("event_type") == "error", F.lit("5 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_events_stratified_ate",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN CAST(round(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS x,
               CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                        THEN CAST(round(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT *, CASE WHEN x < 100000 THEN 0
                       WHEN x < 200000 THEN 1
                       WHEN x < 300000 THEN 2
                       ELSE 3 END AS stratum
        FROM u
    ),
    cell AS (
        SELECT stratum, variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM s GROUP BY 1, 2
    ),
    wide AS (
        SELECT stratum,
               MAX(CASE WHEN variant = 1 THEN n END) AS n1,
               MAX(CASE WHEN variant = 0 THEN n END) AS n0,
               MAX(CASE WHEN variant = 1 THEN sy END) AS sy1,
               MAX(CASE WHEN variant = 0 THEN sy END) AS sy0
        FROM cell GROUP BY stratum
        HAVING MAX(CASE WHEN variant = 1 THEN n END) IS NOT NULL
           AND MAX(CASE WHEN variant = 0 THEN n END) IS NOT NULL
    ),
    tot AS (SELECT CAST(SUM(n1 + n0) AS BIGINT) AS n_all FROM wide)
    SELECT w.stratum, w.n1, w.n0,
           floor((w.sy1 * 1.0 / w.n1 - w.sy0 * 1.0 / w.n0)
                 * 10000.0 + 0.5) / 10000.0 AS stratum_diff,
           floor((w.sy1 * 1.0 / w.n1 - w.sy0 * 1.0 / w.n0)
                 * ((w.n1 + w.n0) * 1.0 / t.n_all)
                 * 10000.0 + 0.5) / 10000.0 AS weighted_term,
           floor(CAST(SUM(CAST(
                     (w2.sy1 * 1.0 / w2.n1 - w2.sy0 * 1.0 / w2.n0)
                     * ((w2.n1 + w2.n0) * 1.0 / t.n_all)
                     AS DECIMAL(38, 18))) AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS ate_cents
    FROM wide w
    CROSS JOIN tot t
    CROSS JOIN wide w2
    GROUP BY w.stratum, w.n1, w.n0, w.sy1, w.sy0, t.n_all
    ORDER BY w.stratum
    """,
    category="2.D",
)
def q_events_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST-STRATIFIED ATE — the third member of the variance-reduction
    family (CUPED regresses on the covariate; stratification BINS it:
    users bucket by fixed pre-period-spend thresholds, the treatment
    effect is estimated within each stratum and recombined with
    population weights n_s/N). Fixed cent thresholds, not quantiles,
    so the strata are engine- and SF-independent; strata missing
    either arm are excluded by the same HAVING guard on both engines
    (and the weights renormalize over the kept strata, the standard
    complete-case form). The report shows the decomposition the
    platform reads: per-stratum naive diff, its weighted
    contribution, and the pooled ATE repeated per row (a window-free
    spelling — the pooled sum is a 4-row cross join, constant-
    bounded). Exactness: per-user exact-cents totals, per-cell int64
    moments, diffs/weights as fixed IEEE trees floor-4dp. One user-
    keyed agg + one 8-cell pivot — nothing scales with the corpus
    past the first shuffle."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    u = e.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0))
        .cast("long").alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0))
        .cast("long").alias("y"),
    )
    stratum = (
        F.when(F.col("x") < 100000, 0)
        .when(F.col("x") < 200000, 1)
        .when(F.col("x") < 300000, 2)
        .otherwise(3)
    )
    cell = u.select(stratum.alias("stratum"), "variant", "y").groupBy(
        "stratum", "variant"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    wide = (
        cell.groupBy("stratum")
        .agg(
            F.max(F.when(F.col("variant") == 1, F.col("n")))
            .alias("n1"),
            F.max(F.when(F.col("variant") == 0, F.col("n")))
            .alias("n0"),
            F.max(F.when(F.col("variant") == 1, F.col("sy")))
            .alias("sy1"),
            F.max(F.when(F.col("variant") == 0, F.col("sy")))
            .alias("sy0"),
        )
        .where(F.col("n1").isNotNull() & F.col("n0").isNotNull())
    )
    tot = wide.agg(
        F.sum(F.col("n1") + F.col("n0")).cast("long").alias("n_all")
    )
    diff = F.col("sy1") * 1.0 / F.col("n1") - F.col("sy0") * 1.0 / F.col("n0")
    w_term = diff * ((F.col("n1") + F.col("n0")) * 1.0 / F.col("n_all"))
    per = wide.crossJoin(F.broadcast(tot)).select(
        "stratum", "n1", "n0",
        diff.alias("stratum_diff_raw"),
        w_term.alias("weighted_term_raw"),
    )
    w2 = wide.alias("w2").crossJoin(F.broadcast(tot))
    d2 = (
        F.col("w2.sy1") * 1.0 / F.col("w2.n1")
        - F.col("w2.sy0") * 1.0 / F.col("w2.n0")
    )
    ate = w2.agg(
        F.sum(
            (
                d2
                * ((F.col("w2.n1") + F.col("w2.n0")) * 1.0
                   / F.col("n_all"))
            ).cast("decimal(38,18)")
        ).cast("double").alias("ate_raw")
    )
    f4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return (
        per.crossJoin(F.broadcast(ate))
        .select(
            "stratum", "n1", "n0",
            f4(F.col("stratum_diff_raw")).alias("stratum_diff"),
            f4(F.col("weighted_term_raw")).alias("weighted_term"),
            f4(F.col("ate_raw")).alias("ate_cents"),
        )
        .orderBy("stratum")
    )


@query(
    "q_basket_association_rules",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS o, pt.p_brand AS p
      FROM lineitem l JOIN part pt ON l.l_partkey = pt.p_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM b),
    supp AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_item FROM b GROUP BY p
    ),
    freq AS (
      SELECT supp.p, supp.n_item FROM supp, n
      WHERE supp.n_item >= GREATEST(5, (n.n_orders + 499) // 500)
    ),
    fb AS (SELECT b.o, b.p, f.n_item FROM b JOIN freq f USING (p)),
    pairs AS (
      SELECT a.p AS item_a, c.p AS item_b,
             MAX(a.n_item) AS n_a, MAX(c.n_item) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM fb a JOIN fb c ON a.o = c.o AND a.p < c.p
      GROUP BY a.p, c.p
    ),
    rules AS (
      SELECT item_a, item_b, n_a, n_b, n_pair,
             CAST((2 * CAST(n_pair AS HUGEINT) * 1000000 + n_a)
                  // (2 * CAST(n_a AS HUGEINT)) AS BIGINT) AS conf6,
             CAST((2 * CAST(n_pair AS HUGEINT) * n.n_orders * 1000000
                   + CAST(n_a AS HUGEINT) * n_b)
                  // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS lift6
      FROM pairs, n
      WHERE n_pair >= GREATEST(3, (n.n_orders + 1999) // 2000)
    )
    SELECT item_a, item_b, n_a, n_b, n_pair, conf6, lift6
    FROM rules
    ORDER BY lift6 DESC, item_a, item_b
    LIMIT 20
    """,
    category="2.D",
)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift) over
    order baskets at BRAND grain, a-priori pruned — the co-purchase
    analytics every retail warehouse runs, and the canonical example of
    candidate pruning BEFORE a quadratic stage. SKU-grain pairs are
    support-starved on uniform TPC-H baskets (measured: zero pairs reach
    any sane support floor at sf0.01), which is the real-world situation
    too — basket mining runs at category/brand rollup. The part
    dimension broadcasts (it is the small side by construction), so the
    item rollup costs no extra shuffle. Top-20 rules by lift.

    Plan, in the order the pruning must happen at 100 TB:
      1. lineitem ⋈ broadcast(part) → distinct (order, brand) — one
         shuffle, the only corpus-sized one;
      2. per-item support, then the A-PRIORI gate: only items in >= 0.2%
         of orders (floor 5) survive — any pair containing an infrequent
         item cannot reach the pair threshold (downward closure), so the
         pair join's input shrinks before it fans out;
      3. within-order self-join of the FREQUENT items only (order
         baskets are bounded — TPC-H ≤ 7 lines, so ≤ 7 distinct brands,
         per-order fanout ≤ C(7,2); the join shuffles on the order key
         it is already partitioned by);
      4. pair support gate (>= 0.05% of orders, floor 3), then exact
         integer confidence/lift at 6dp fixed point: both are
         round-half-up integer divisions computed in DECIMAL(38,0) —
         (2·n_pair·N·10^6 + n_a·n_b) DIV (2·n_a·n_b) — so no float
         enters the ranking, and the top-20 cut (lift6 desc, item_a,
         item_b) is a TakeOrderedAndProject, never a global sort.
    The oracle replays the same thresholds and HUGEINT divisions."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE corpus shuffle total (r13, guide §2.4 — the q_assoc_rules
    # basket-array form): the previous shape built a distinct
    # (order, brand) relation and self-joined it on the order key —
    # the distinct shuffle plus TWO more corpus-sized exchanges for
    # the pair join. collect_set per order dedups exactly like the
    # distinct did, so the per-order sorted brand array is the same
    # basket, and every consumer (order count, per-brand support,
    # in-basket pair combinations) derives from that one cached,
    # order-grain relation. Pair fanout stays bounded by
    # C(basket, 2) ≤ C(7, 2) per order in-executor (higher-order
    # transforms), never a shuffled self-join. Measured at sf0.1:
    # 4.0 s → 1.0 s in-suite, 5 exchanges → 2 (see plans/r13).
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
        .cache()
    )
    track_cache(baskets.unpersist)
    # every order has >= 1 line, so basket count == distinct order count
    n_orders = baskets.count()
    minsup = max(5, (n_orders + 499) // 500)
    minpair = max(3, (n_orders + 1999) // 2000)
    supp = (
        baskets.select(F.explode("bs").alias("p"))
        .groupBy("p")
        .agg(F.count("*").cast("long").alias("n_item"))
    )
    freq = supp.where(F.col("n_item") >= minsup)
    # brand-vocabulary-sized (<= #brands rows): one array of the
    # frequent brands, broadcast so each basket prunes in-executor
    # before the pair fanout (the a-priori gate, unchanged).
    freq_arr = freq.agg(F.array_sort(F.collect_list("p")).alias("fs"))
    pairs = (
        baskets.crossJoin(F.broadcast(freq_arr))
        # bs is sorted and fs is sorted, so the intersection keeps the
        # ascending brand order the combination emission relies on
        .select(F.array_intersect("bs", "fs").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("e")
        )
        .select("e.item_a", "e.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= minpair)
        .join(
            F.broadcast(
                freq.select(
                    F.col("p").alias("item_a"),
                    F.col("n_item").alias("n_a"),
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                freq.select(
                    F.col("p").alias("item_b"),
                    F.col("n_item").alias("n_b"),
                )
            ),
            "item_b",
        )
        .select("item_a", "item_b", "n_a", "n_b", "n_pair")
    )
    dec = "DECIMAL(38,0)"
    conf6 = F.expr(
        "CAST((2 * CAST(n_pair AS DECIMAL(38,0)) * 1000000 + n_a) "
        "DIV (2 * CAST(n_a AS DECIMAL(38,0))) AS BIGINT)"
    ).alias("conf6")
    out = pairs.select(
        "item_a", "item_b", "n_a", "n_b", "n_pair",
        conf6,
        F.expr(
            f"CAST((2 * CAST(n_pair AS {dec}) * {int(n_orders)} * 1000000"
            f" + CAST(n_a AS {dec}) * n_b)"
            f" DIV (2 * CAST(n_a AS {dec}) * n_b) AS BIGINT)"
        ).alias("lift6"),
    )
    return out.orderBy(
        F.desc("lift6"), F.asc("item_a"), F.asc("item_b")
    ).limit(20)
