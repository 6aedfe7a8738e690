"""Window functions (SURVEY.md §2.E).

Per-user ordered analytics over the event stream — the batch twin of the
per-shard ordered processing Kinesis guarantees (sequenceNumber ordering
within a shard). One shuffle on the partition key, then a single sorted pass
per partition; at 100 TB the partition key (user_id) must be high-cardinality
enough to spread — for the 15-user fixture Spark still parallelizes across
partitions of other queries, and real deployments partition by user/session
id with millions of distinct values.

Determinism rule: every ORDER BY includes `event_id` (unique) as the final
tiebreak — ts alone can collide, and row_number over ties is otherwise
nondeterministic (SURVEY §5.6 determinism gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.parity import DEC
from aws_lambda_stream_processing_spark.registry import query
from aws_lambda_stream_processing_spark.session import pin_width
from aws_lambda_stream_processing_spark.tables import load_table

def _w_user():
    # Built lazily: Window specs require an active SparkContext.
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@query(
    "q_win_row_number",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
    """,
    category="2.E",
)
def q_win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition sequence numbers — the Kinesis sequenceNumber analogue."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id", "user_id", F.row_number().over(_w_user()).alias("rn")
    )


@query(
    "q_win_rank",
    oracle="""
    SELECT event_id, user_id,
           rank()       OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
           dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drnk
    FROM events
    """,
    category="2.E",
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank — ordered by a low-cardinality key so ties are real;
    rank outputs are tie-stable (same value for peers) hence deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_type")
    return e.select(
        "event_id",
        "user_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "q_win_ntile",
    oracle="""
    SELECT event_id, user_id,
           ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile
    FROM events
    """,
    category="2.E",
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) bucketing."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id", "user_id", F.ntile(4).over(_w_user()).alias("quartile")
    )


@query(
    "q_win_pct",
    oracle="""
    SELECT event_id, user_id,
           ROUND(percent_rank() OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
             AS prk,
           ROUND(cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
             AS cd
    FROM events
    """,
    category="2.E",
)
def q_win_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist (rounded: both are ratios of small ints —
    identical doubles — but rounding guards the formula edge cases)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.percent_rank().over(_w_user()), 4).alias("prk"),
        F.round(F.cume_dist().over(_w_user()), 4).alias("cd"),
    )


@query(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           epoch_us(ts) - lag(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
    category="2.E",
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + inter-event gap in exact integer microseconds (epoch_us on
    both engines avoids float/second-truncation drift) — the sessionization
    primitive."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        "user_id",
        F.lag("value").over(_w_user()).alias("prev_value"),
        F.lead("value").over(_w_user()).alias("next_value"),
        (us - F.lag(us).over(_w_user())).alias("gap_us"),
    )


@query(
    "q_win_first_last",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_val,
           last_value(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val
    FROM events
    """,
    category="2.E",
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over the full-partition frame (explicit frame — the
    default frame would make last_value = current row)."""
    e = load_table(spark, sf_dir, "events")
    w = _w_user().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
    )


@query(
    "q_win_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM events
    """,
    category="2.E",
)
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total — the DynamoDB-counter pattern as one window pass.
    Decimal accumulation keeps every prefix sum exact (order-independent
    between engines)."""
    e = load_table(spark, sf_dir, "events")
    w = _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_total"),
    )


@query(
    "q_win_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
             / COUNT(value) OVER w AS mavg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    category="2.E",
)
def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average (exact decimal sum / frame count — sliding-window
    float accumulators differ between engines, decimal does not)."""
    e = load_table(spark, sf_dir, "events")
    w = _w_user().rowsBetween(-2, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast(DEC)).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("mavg"),
    )


@query(
    "q_win_range_frame",
    oracle="""
    SELECT event_id, event_type,
           SUM(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY event_type ORDER BY value
             RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) / 100.0 AS range_sum
    FROM events
    """,
    category="2.E",
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) frame: sum of values within 10 units below the
    current row's value. Peer rows (equal order key) share the frame on both
    engines, so no unique tiebreak is needed.

    DE-SKEWED two-phase plan (r3 verdict #4): `event_type` has 5 values, so
    a naive PARTITION BY event_type window is 5 fat tasks each running an
    O(n·|frame|) sliding re-aggregation — serial at 100 TB. Because a RANGE
    frame over [v-10, v] is purely a value-interval sum, the partition key
    can be REFINED with a value bucket of width == the frame extent
    (bucket = floor(cents/1000)): every row's frame lies entirely within
    its own bucket plus the one below, so each row is shuffled once as an
    owner and replicated once as a DONOR into the next bucket, and the
    same built-in RANGE window — now partitioned by (event_type, bucket) —
    computes the identical interval sums inside each fine partition.
    Owner rows keep their result; donor rows (frames clipped at the bucket
    floor) are discarded. Cost: 2× shuffle volume and 2× window work, for
    #types × #buckets-way parallelism (~280 partitions at sf0.1, unbounded
    as the value domain grows with data). The whole plan stays JVM-side
    whole-stage + native window — no Python. Plan-gated in
    tests/test_plans.py (partitioning must include the bucket key).

    Exactness uses integer cents, not DEC: Spark recomputes a sliding
    frame's aggregate from its row buffer on every frame move, so per-add
    cost dominates — long adds measured 4× faster than decimal adds
    (value is 2-decimal by construction, so cents are exact and
    order-independent like decimal)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    rows = e.select(
        "event_id", "event_type", "value", cents.alias("cents"),
        F.floor(cents / 1000).alias("bucket"),
    )
    donors = rows.select(
        "event_id", "event_type", "value", "cents",
        (F.col("bucket") + 1).alias("bucket"),
    ).withColumn("is_owner", F.lit(False))
    both = rows.withColumn("is_owner", F.lit(True)).unionByName(donors)
    # Pin the window's exchange: AQE folded the ~280 fine (event_type,
    # bucket) partitions into ONE, serializing the O(n·|frame|)
    # re-aggregation this rung's two-phase design parallelizes.
    both = pin_width(both, "event_type", "bucket")
    # Frame bound stays on the RAW double (value - 10 in IEEE arithmetic,
    # exactly the oracle's boundary semantics; the IEEE error ~1e-13 is
    # 11 orders below the 0.01 value grid, so the two-bucket cover holds).
    w = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("value")
        .rangeBetween(-10, 0)
    )
    return (
        both.withColumn("range_sum", F.sum("cents").over(w) / 100.0)
        .where("is_owner")
        .select("event_id", "event_type", "range_sum")
    )


@query(
    "q_win_topk_group",
    oracle="""
    SELECT user_id, event_id, value, rn
    FROM (SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id) AS rn
          FROM events)
    WHERE rn <= 3
    """,
    category="2.E",
)
def q_win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number + filter. Catalyst rewrites this to a
    WindowGroupLimit (per-partition top-k heap before the shuffle), so the
    exchange carries k rows per group, not the whole table — 100 TB safe."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.select("user_id", "event_id", "value", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


@query(
    "q_win_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
    category="2.E",
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per user over event time — not expressible
    as a native window aggregate in either engine (COUNT(DISTINCT) OVER a
    running frame is unsupported), so it's built from window primitives:
    flag each (user, event_type)'s first occurrence with row_number, then
    running-sum the flags in event-time order. Two window passes over
    different partition keys = two shuffles; at 100 TB both partition on
    user_id-prefixed keys so the second pass can reuse the first's
    clustering (sort within partitions only)."""
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).alias("distinct_types_so_far"),
    )


@query(
    "q_win_pct_change",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lag(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_cents
      FROM events
    )
    SELECT user_id, event_id,
           CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
                THEN ROUND(CAST((cents - prev_cents) * 10000 AS DOUBLE)
                           / prev_cents / 100.0, 4)
           END AS pct_change
    FROM seq
    """,
    category="2.E",
)
def q_win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent change vs the previous event per user — the ticker/metric
    delta transform: (v − lag(v))/lag(v)·100. Exact: both values go
    through integer cents, the scaled numerator (Δcents·10⁴) is exact
    int64, and the two divisions are the identical IEEE sequence on both
    engines; NULL for the first event and for zero baselines (identical
    guard both sides). One window shuffle on user_id."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    seq = e.select(
        "user_id", "event_id", "ts",
        cents.alias("cents"),
        F.lag(cents).over(w).alias("prev_cents"),
    )
    pct = (
        ((F.col("cents") - F.col("prev_cents")) * 10000).cast("double")
        / F.col("prev_cents")
        / F.lit(100.0)
    )
    return seq.select(
        "user_id",
        "event_id",
        F.when(
            F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0),
            F.round(pct, 4),
        ).alias("pct_change"),
    )


@query(
    "q_win_median_sliding",
    oracle="""
    SELECT user_id, event_id,
           median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS med3
    FROM events
    """,
    category="2.E",
)
def q_win_median_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-row median of value per user — the robust-smoothing
    transform (median filters kill single-point spikes that moving
    averages only dilute). Spark has no windowed median, so the frame is
    materialized as collect_list over ROWS 2 PRECEDING, array_sorted, and
    the median picked positionally: middle element for odd n, IEEE mean
    of the two middles for even n — the same interpolation DuckDB's
    windowed median() uses, and (a+b)/2 over identical doubles is one
    deterministic float op. Cost: the frame is O(3) per row, so the
    collect_list is bounded — one window shuffle on user_id, no
    quadratic blowup. At 100 TB the identical plan holds: frame size is
    a constant, partitions are per-user."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    a = F.array_sort(F.collect_list("value").over(w))
    n = F.size(a)
    mid = ((n + 1) / 2).cast("int")
    lo, hi = (n / 2).cast("int"), (n / 2 + 1).cast("int")
    med = F.when(n % 2 == 1, F.element_at(a, mid)).otherwise(
        (F.element_at(a, lo) + F.element_at(a, hi)) / 2
    )
    return e.select("user_id", "event_id", med.alias("med3"))


@query(
    "q_win_nth_value",
    oracle="""
    SELECT user_id, event_id,
           nth_value(value, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_v,
           nth_value(value, 3) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_v
    FROM events
    """,
    category="2.E",
)
def q_win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the running frame: each row sees the 2nd and 3rd
    event values in its user's history so far (NULL until the frame is
    deep enough) — the 'compare against the user's early behavior'
    transform. Deterministic frame order via the event_id tiebreak;
    identical ROWS frame semantics on both engines. One window shuffle
    on user_id."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id", "event_id",
        F.nth_value("value", 2).over(w).alias("second_v"),
        F.nth_value("value", 3).over(w).alias("third_v"),
    )


@query(
    "q_win_cume_dist",
    oracle="""
    SELECT event_type, event_id,
           floor(cume_dist() OVER (
               PARTITION BY event_type ORDER BY value) * 1000000 + 0.5)
               / 1000000 AS cd,
           floor(percent_rank() OVER (
               PARTITION BY event_type ORDER BY value) * 1000000 + 0.5)
               / 1000000 AS pr
    FROM events
    """,
    category="2.E",
)
def q_win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + percent_rank per event_type ordered by value — the
    two normalized-rank transforms (empirical CDF position and
    0-1-scaled rank). Both are pure functions of the ORDER BY key's
    value multiset — peer rows (ties) share one result — so no
    tiebreak column is needed for determinism: cume_dist = n_peers_at_
    or_below / n, percent_rank = (rank-1)/(n-1), identical definitions
    on both engines, single IEEE division each, pinned at floor-6dp.
    One window shuffle on event_type; both functions share the same
    sort order so Spark evaluates them in ONE Window node over one
    exchange — no second sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    six = lambda c: F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return e.select(
        "event_type",
        "event_id",
        six(F.cume_dist().over(w)).alias("cd"),
        six(F.percent_rank().over(w)).alias("pr"),
    )


@query(
    "q_win_time_range_frame",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cents_1h,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_1h
    FROM events
    """,
    category="2.E",
)
def q_win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing TIME-window analytic — each event's rolling 1-hour
    per-user spend and event count — the ops metric behind rate
    limiting and spend alerts, expressed as a RANGE frame over the
    epoch-MICROSECOND axis: both engines order by exact int64 micros
    (unix_micros / epoch_us) and bound the frame at 3.6e9 μs, so frame
    membership is integer comparison — no truncation-at-seconds
    divergence, no timezone exposure. Peer rows (same μs) share the
    frame by RANGE semantics, so no tiebreak is needed. One window
    shuffle on user_id; the frame re-aggregates exact integer cents.
    The value-bucketed de-skew of q_win_range_frame applies verbatim
    if an entity's event rate makes single-partition frames fat — here
    user partitions are small by construction."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600000000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return e.select(
        "user_id",
        "event_id",
        F.sum(cents).over(w).alias("cents_1h"),
        F.count("*").over(w).alias("n_1h"),
    )
