"""Time-series similarity (SURVEY.md §2.J q_ts_zscore_similarity, grounded
in the EDBT'19 distributed-in-memory time-series-similarity line of work —
PAPERS.md).

Shape: per-entity series → z-normalize → one compact array per entity →
block-partitioned all-pairs RMS distance. The all-pairs step uses the
standard distributed blocking scheme: entities hash into B blocks, every
entity is replicated to the B block-pair groups it participates in, and
each group computes its pair distances as ONE vectorized matrix operation
(applyInPandas + numpy GEMM). B(B+1)/2 independent tasks, per-task memory
= two blocks of series, replication factor B — the same layout a 100 TB
run uses, just with bigger B. A per-pair join formulation was measured
10× slower at sf0.1 (1.12M pairs × per-row Python / interpreted lambdas).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.parity import fround
from aws_lambda_stream_processing_spark.registry import query
from aws_lambda_stream_processing_spark.session import pin_width
from aws_lambda_stream_processing_spark.tables import load_table

_N_BLOCKS = 8


def _pairwise_rms(pdf: pd.DataFrame) -> pd.DataFrame:
    """All aligned-prefix RMS distances between users of block ga and block
    gb (one applyInPandas group = the union of both blocks' members).

    Vectorized via the prefix-sum identity: with zero-padded series matrix
    X, lengths l, and P[i,k] = Σ_{t<k} X[i,t]², the aligned-prefix squared
    distance is  D²[i,j] = P[i,m] + P[j,m] − 2·(X Xᵀ)[i,j],  m = min(l_i,
    l_j) — beyond m at least one operand is zero, so the full-width GEMM
    already equals the prefix dot product.
    """
    ga, gb = int(pdf["ga"].iloc[0]), int(pdf["gb"].iloc[0])
    # each user appears once per (partner-block) replica; keep one copy
    pdf = pdf.drop_duplicates(subset=["user_id"])
    ids = pdf["user_id"].to_numpy()
    blocks = pdf["b"].to_numpy()
    series = [np.asarray(s, dtype=np.float64) for s in pdf["zs"]]
    n = len(series)
    lens = np.array([len(s) for s in series])
    L = int(lens.max()) if n else 0
    X = np.zeros((n, L))
    for i, s in enumerate(series):
        X[i, : len(s)] = s
    P = np.concatenate(
        [np.zeros((n, 1)), np.cumsum(X * X, axis=1)], axis=1
    )
    M = np.minimum.outer(lens, lens)  # aligned length per pair
    Pm = np.take_along_axis(P, M, axis=1)  # P[i, m_ij]
    D2 = Pm + Pm.T - 2.0 * (X @ X.T)
    # pairs whose block pair is exactly (ga, gb), each emitted once
    ii, jj = np.where(
        (ids[:, None] < ids[None, :])
        & (
            ((blocks[:, None] == ga) & (blocks[None, :] == gb))
            | ((blocks[:, None] == gb) & (blocks[None, :] == ga))
        )
    )
    m = M[ii, jj]
    return pd.DataFrame(
        {
            "user_a": ids[ii],
            "user_b": ids[jj],
            "n_aligned": m,
            "zdist_raw": np.sqrt(np.maximum(D2[ii, jj], 0.0) / m),
        }
    )


@query(
    "q_ts_zscore_similarity",
    oracle="""
    WITH z AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS idx,
             (value - AVG(value) OVER (PARTITION BY user_id))
               / stddev_samp(value) OVER (PARTITION BY user_id) AS z
      FROM events
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           COUNT(*) AS n_aligned,
           ROUND(SQRT(SUM((a.z - b.z) * (a.z - b.z)) / COUNT(*)), 4)
             AS zdist
    FROM z a JOIN z b ON a.idx = b.idx AND a.user_id < b.user_id
    GROUP BY 1, 2
    """,
    category="2.J",
)
def q_ts_zscore_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise user similarity over z-normalized event-value series:
    normalize within each user, align by sequence index, RMS distance over
    the common prefix, computed with the block-GEMM scheme (module doc).
    sf0.1 = 1500 users → 1.12M pairs in 36 block-pair GEMM tasks."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("user_id").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    z = e.join(F.broadcast(stats), "user_id").select(
        "user_id",
        F.row_number().over(wo).alias("idx"),
        ((F.col("value") - F.col("mu")) / F.col("sd")).alias("z"),
    )
    # one compact ordered z-array per user — all downstream work touches
    # #users rows, never #events rows
    series = z.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("idx", "z"))), lambda s: s.z
        ).alias("zs")
    )
    # replicate each user to its B block-pair groups: (own block b) × every
    # partner block p → group key (min(b,p), max(b,p))
    b = (F.col("user_id") % _N_BLOCKS).cast("int")
    replicated = (
        series.withColumn("b", b)
        .withColumn(
            "p", F.explode(F.sequence(F.lit(0), F.lit(_N_BLOCKS - 1)))
        )
        .withColumn("ga", F.least("b", "p"))
        .withColumn("gb", F.greatest("b", "p"))
        .where((F.col("b") != F.col("p")) | (F.col("ga") == F.col("b")))
    )
    # pin_width: AQE coalesced this exchange to one partition and
    # serialized the 36 block-GEMM kernels (guide §2.5; session.pin_width)
    out = pin_width(replicated, "ga", "gb").groupBy("ga", "gb").applyInPandas(
        _pairwise_rms,
        "user_a long, user_b long, n_aligned long, zdist_raw double",
    )
    return out.select(
        "user_a",
        "user_b",
        "n_aligned",
        F.round("zdist_raw", 4).alias("zdist"),
    )


@query(
    "q_ts_gapfill_locf",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM hourly GROUP BY event_type
    ),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                  AS TIMESTAMP) AS hour
      FROM bounds
    )
    SELECT s.event_type, s.hour,
           h.cents IS NOT NULL AS observed,
           last_value(h.cents IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_locf
    FROM spine s LEFT JOIN hourly h USING (event_type, hour)
    """,
    category="2.J",
)
def q_ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable `time_bucket_gapfill` +
    `locf` shape): build the dense hourly spine per series with
    `sequence()` (no driver loop — the spine generates distributed,
    bounded per series), left-join the observed hourly aggregate, and
    carry the last observation forward with an IGNORE NULLS running
    last(). Exact integer cents make the fill values engine-identical.
    At 100 TB the spine join is per-series-local: partition by series key,
    and the window never crosses series."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour",
        F.col("cents").isNotNull().alias("observed"),
        F.last("cents", ignorenulls=True).over(w).alias("cents_locf"),
    )


@query(
    "q_ts_gapfill_interp",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM hourly GROUP BY event_type
    ),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                  AS TIMESTAMP) AS hour
      FROM bounds
    ),
    ctx AS (
      SELECT s.event_type, s.hour, h.cents,
             last_value(h.cents IGNORE NULLS) OVER w_prev AS prev_c,
             last_value(CASE WHEN h.cents IS NOT NULL THEN s.hour END
                        IGNORE NULLS) OVER w_prev AS prev_h,
             first_value(h.cents IGNORE NULLS) OVER w_next AS next_c,
             first_value(CASE WHEN h.cents IS NOT NULL THEN s.hour END
                         IGNORE NULLS) OVER w_next AS next_h
      FROM spine s LEFT JOIN hourly h USING (event_type, hour)
      WINDOW
        w_prev AS (PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour,
           cents IS NOT NULL AS observed,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                ELSE (prev_c * date_diff('hour', prev_h, next_h)
                      + (next_c - prev_c) * date_diff('hour', prev_h, hour))
                     / date_diff('hour', prev_h, next_h)
           END AS cents_interp
    FROM ctx
    """,
    category="2.J",
)
def q_ts_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap filling (the hypertable `interpolate`
    sibling of q_ts_gapfill_locf): gap hours get the value linearly
    interpolated between the nearest observed hours on each side.

    Float-parity design: the interpolant is computed as ONE division of an
    exact int64 numerator — prev*DT + (next-prev)*dt over hour counts —
    so both engines perform the identical single IEEE rounding (SURVEY §8
    law 5: never round a multi-term double sum). Spine rows at the series
    boundaries are always observed, so prev/next always exist and DT=0
    only at observed rows, which short-circuit to the exact value. Same
    scale posture as LOCF: spine and windows are per-series-local."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("cents").isNotNull(), F.col("hour"))
    ctx = joined.select(
        "event_type",
        "hour",
        "cents",
        F.last("cents", ignorenulls=True).over(w_prev).alias("prev_c"),
        F.last(obs_hour, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.first("cents", ignorenulls=True).over(w_next).alias("next_c"),
        F.first(obs_hour, ignorenulls=True).over(w_next).alias("next_h"),
    )
    dt = F.expr("(unix_timestamp(hour) - unix_timestamp(prev_h)) div 3600")
    big_dt = F.expr(
        "(unix_timestamp(next_h) - unix_timestamp(prev_h)) div 3600"
    )
    return ctx.select(
        "event_type",
        "hour",
        F.col("cents").isNotNull().alias("observed"),
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .otherwise(
            (
                F.col("prev_c") * big_dt
                + (F.col("next_c") - F.col("prev_c")) * dt
            )
            / big_dt
        )
        .alias("cents_interp"),
    )


@query(
    "q_ts_sessionize_batch",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id, sid,
           MIN(ts) AS session_start,
           MAX(ts) AS last_event,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS session_value,
           MIN(event_id) AS first_event_id
    FROM s
    GROUP BY user_id, sid
    """,
    category="2.J",
)
def q_ts_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands — the same 30-min-gap
    session semantics as q_stream_session, but on the BATCH engine path
    (two window passes + hash aggregate, no state store): a session starts
    where the gap from the previous event is >= 30 min; the running sum of
    start flags numbers sessions per user. Complements the streaming
    variant: this is what you run over the historical 100 TB while the
    stream handles the live tail, and the two must agree (both are tested
    against the same gap arithmetic; window ordering is made total by the
    (ts, event_id) tiebreak). Session value uses exact integer cents."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts") >= prev_ts + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    s = e.select(
        "user_id", "ts", "event_id", "value", is_new.alias("is_new")
    ).withColumn("sid", F.sum("is_new").over(run))
    return s.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("last_event"),
        F.count("*").alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.lit(100.0)
        ).alias("session_value"),
        F.min("event_id").alias("first_event_id"),
    )


@query(
    "q_ts_anomaly_zscore",
    oracle="""
    WITH c AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    win AS (
      SELECT event_type, ts, event_id, cents,
             CAST(SUM(cents) OVER w AS BIGINT) AS s1,
             CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id,
           CASE WHEN n * s2 - s1 * s1 > 0
                THEN ROUND((cents * n - s1) /
                           sqrt(CAST((n * s2 - s1 * s1) * n AS DOUBLE)
                                / (n - 1)), 4)
           END AS zscore,
           CASE WHEN n * s2 - s1 * s1 > 0
                THEN abs((cents * n - s1) /
                         sqrt(CAST((n * s2 - s1 * s1) * n AS DOUBLE)
                              / (n - 1))) > 3.0
           END AS is_anomaly
    FROM win WHERE rn >= 24
    """,
    category="2.J",
)
def q_ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per series (24-event window):
    flag events more than 3 sample standard deviations from the rolling
    mean. EXACT despite being statistics: the rolling moments are integer
    cents (s1 = Σc, s2 = Σc² — both exact int64 window sums, order-
    independent), and z = (c·n − s1) / sqrt((n·s2 − s1²)·n / (n−1)) has an
    all-integer numerator and one division + one sqrt of an exact integer
    ratio — the identical IEEE sequence on both engines, so even the
    |z| > 3 flag can't flip (law 5 generalized: push ALL accumulation into
    integers, float only at the last two ops). Zero-variance windows emit
    NULL on both sides. At 100 TB: one shuffle per series key, frame state
    is O(window) per partition."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    wr = Window.partitionBy("event_type").orderBy("ts", "event_id")
    win = c.select(
        "event_type", "event_id", "cents",
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
        F.count("*").over(w).alias("n"),
        F.row_number().over(wr).alias("rn"),
    ).where(F.col("rn") >= 24)
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    dev = F.col("cents") * F.col("n") - F.col("s1")
    denom = F.sqrt(
        (var_num * F.col("n")).cast("double") / (F.col("n") - 1)
    )
    z = dev / denom
    return win.select(
        "event_type",
        "event_id",
        F.when(var_num > 0, F.round(z, 4)).alias("zscore"),
        F.when(var_num > 0, F.abs(z) > 3.0).alias("is_anomaly"),
    )


# --- q_ts_ewma16: deterministic truncated EWMA (round 2) -------------------

# 16-lag EWMA with alpha = 1/2. Weight j is 1/2^(j+1) — a power of two, so
# every product cents/2^(j+1) only shifts the exponent (exact), and every
# partial sum needs <= 15+16 significand bits (< 53): the whole weighted sum
# is computed EXACTLY in doubles on both engines, no summation-order or
# libm-pow hazards. The normalizer sum(1/2^(j+1), j=0..15) = 65535/65536 is
# itself exact. This is the engine's float-parity discipline (SURVEY §8 law
# 5) applied to a sequential smoother: quantize -> exact arithmetic ->
# single division chain -> one final round.
_EWMA_LAGS = 16
_EWMA_TERMS_SQL = " + ".join(f"x{j} / {2 ** (j + 1)}.0" for j in range(_EWMA_LAGS))
_EWMA_LAG_COLS_SQL = ",\n         ".join(
    f"lag(xc, {j}) OVER w AS x{j}" for j in range(_EWMA_LAGS)
)


@query(
    "q_ts_ewma16",
    oracle=f"""
    WITH x AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS xc,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    l AS (
      SELECT event_id, user_id, ts, rn,
         {_EWMA_LAG_COLS_SQL}
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           floor(({_EWMA_TERMS_SQL})
                 / (65535.0 / 65536.0) / 100.0 * 10000.0 + 0.5)
             / 10000.0 AS ewma16
    FROM l WHERE rn >= {_EWMA_LAGS}
    """,
    category="2.J",
)
def q_ts_ewma16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=1/2) of event value per
    user, truncated at 16 lags and renormalized — emitted only once the
    window is full (rn >= 16), so every output is the same fixed-length
    dot product on both engines.

    Why truncated: the closed-form running-EWMA trick (cumsum of x/r^i
    rescaled by r^k) overflows doubles past ~1000 rows per partition and
    leans on libm pow() that IEEE does not require to be correctly
    rounded; a fixed 16-lag frame with power-of-two weights is exact at
    ANY partition size — the 100 TB-safe formulation (residual weight
    2^-16 is below the 4-decimal output quantum). One sort-based window
    pass per user computes all 16 lags; no shuffle beyond user_id."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Lags MUST be projected before the rn filter — a lag computed after
    # the filter would look back over the filtered relation (the removed
    # first 15 rows of each partition) and return nulls.
    l = x.select(
        "event_id",
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        *[
            (F.lag("xc", j).over(w) / float(2 ** (j + 1))).alias(f"x{j}")
            for j in range(_EWMA_LAGS)
        ],
    ).where(F.col("rn") >= _EWMA_LAGS)
    acc = F.col("x0")
    for j in range(1, _EWMA_LAGS):
        acc = acc + F.col(f"x{j}")
    ewma = acc / (65535.0 / 65536.0) / 100.0
    return l.select("event_id", "user_id", "ts", fround(ewma, 4, "ewma16"))


# --- q_ts_downsample_m4 (round 2) ------------------------------------------


@query(
    "q_ts_downsample_m4",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, ts, event_id,
             value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           COUNT(*) AS n,
           MIN(value) AS v_min,
           MAX(value) AS v_max,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS v_last
    FROM b GROUP BY event_type, bucket
    """,
    category="2.J",
)
def q_ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (the error-free line-chart reduction from the M4
    paper / Grafana): per (series, hour pixel-bucket) keep min, max,
    first, last — the four values that reproduce the exact rendered line
    at any zoom. No sums → raw doubles pass the oracle bit-identically;
    first/last are made deterministic with (ts, event_id) tie-breaks.

    One window pass + one hash-agg, both keyed on (event_type, bucket):
    Catalyst plans a single exchange — PROVIDED the bucket is projected
    as a named column BEFORE the window. Partitioning the window on the
    inline date_trunc expression made Catalyst alias it to an internal
    `_w0` attribute the downstream agg key (event_type, bucket) did not
    match, silently doubling the exchange (caught when the r4 repair of
    the plan gate un-vacuoused the exchange count). Output is
    pixel-bounded (series × buckets), independent of input volume — the
    property that makes M4 the standard 100 TB dashboard path."""
    e = load_table(spark, sf_dir, "events")
    eb = e.select(
        "event_type", "value", "ts", "event_id",
        F.date_trunc("hour", "ts").alias("bucket"),
    )
    wa = Window.partitionBy("event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    b = eb.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("v_first"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("v_last"),
    )


# --- q_ts_cross_corr (round 2) ---------------------------------------------


@query(
    "q_ts_cross_corr",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type, bucket
    ),
    lags(lag_h) AS (VALUES (0), (1), (2), (3)),
    pairs AS (
      SELECT l.lag_h,
             c.cents AS x, p.cents AS y
      FROM hourly c
      CROSS JOIN lags l
      JOIN hourly p
        ON p.event_type = 'purchase'
       AND p.bucket = c.bucket + INTERVAL (l.lag_h) HOUR
      WHERE c.event_type = 'click'
    ),
    m AS (
      SELECT lag_h, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag_h
    )
    SELECT lag_h, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
             AS xcorr
    FROM m ORDER BY lag_h
    """,
    category="2.J",
)
def q_ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly click and purchase
    value series (lags 0-3 h) — the does-activity-lead-revenue diagnostic.
    Hourly sums are exact integer cents, so every correlation moment (Σx,
    Σy, Σxy, Σx², Σy²) is exact int64 and the Pearson formula runs ONCE
    on identical integers in both engines (sqrt/division are single
    deterministic IEEE ops). int64 bound: n·Σxy < 2⁶³ holds through
    ~sf1; beyond that drop the cents scale to whole units or use DECIMAL
    moments (dsum).

    Shape: one hash-agg to hourly grain (map-side combining — the raw
    events never leave their scan), a 4-row lag table cross join, an
    hour-shifted self-join on the TINY hourly table, one final agg."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    lags = spark.createDataFrame([(0,), (1,), (2,), (3,)], "lag_h int")
    c = hourly.where(F.col("event_type") == "click").select(
        F.col("bucket").alias("cb"), F.col("cents").alias("x")
    )
    p = hourly.where(F.col("event_type") == "purchase").select(
        F.col("bucket").alias("pb"), F.col("cents").alias("y")
    )
    pairs = (
        c.crossJoin(F.broadcast(lags))
        .join(
            p,
            F.col("pb")
            == F.col("cb") + F.make_interval(hours=F.col("lag_h")),
        )
        .select("lag_h", "x", "y")
    )
    m = pairs.groupBy("lag_h").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt((n * F.col("sxx") - sx * sx).cast("double")) * F.sqrt(
        (n * F.col("syy") - sy * sy).cast("double")
    )
    return m.select(
        "lag_h", "n", F.round(num / den, 4).alias("xcorr")
    ).orderBy("lag_h")


@query(
    "q_ts_anomaly_mad",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med_c
      FROM v GROUP BY event_type
    ),
    dev AS (
      SELECT v.event_type, v.cents, abs(v.cents - m.med_c) AS adev
      FROM v JOIN med m ON v.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad_c
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           MIN(m2.med_c) / CAST(100 AS DOUBLE) AS median_value,
           MIN(mad.mad_c) / CAST(100 AS DOUBLE) AS mad_value,
           CAST(SUM(CASE WHEN d.adev > 3 * mad.mad_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d
    JOIN mad ON d.event_type = mad.event_type
    JOIN med m2 ON d.event_type = m2.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    category="2.J",
)
def q_ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via Median Absolute Deviation — the
    outlier-resistant twin of `q_ts_anomaly_zscore` (a z-score's mean and
    stddev are themselves dragged by the outliers being hunted; the
    median/MAD pair is not). Two exact medians over integer cents
    (linear interpolation at .5 lands on the half-cent grid — exact IEEE
    in both engines), then count of |v - median| > 3*MAD.

    Scale shape: two sorted aggregations on the same event_type key (the
    second over |deviation|), one broadcast attach of the per-type
    medians between them — type cardinality is tiny, so both aggs
    collapse map-side. No row leaves as anything wider than (type,
    cents)."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    med = v.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med_c")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "cents",
        F.abs(F.col("cents") - F.col("med_c")).alias("adev"),
        "med_c",
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad_c")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            (F.min("med_c") / F.lit(100).cast("double")).alias("median_value"),
            (F.min("mad_c") / F.lit(100).cast("double")).alias("mad_value"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad_c"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'click'
      GROUP BY 1
    ),
    hod AS (
      SELECT CAST(EXTRACT(hour FROM h) AS BIGINT) AS hour_of_day,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS sq
      FROM hourly GROUP BY 1
    )
    SELECT hour_of_day, n_hours,
           (CAST(s AS DOUBLE) / n_hours) / 100 AS seasonal_mean,
           (CAST(sq AS DOUBLE) / n_hours
            - (CAST(s AS DOUBLE) / n_hours) * (CAST(s AS DOUBLE) / n_hours))
           / 10000 AS resid_var
    FROM hod
    ORDER BY hour_of_day
    """,
    category="2.J",
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition of the hourly click-revenue
    series: hourly totals in exact integer cents, then per hour-of-day
    the seasonal mean and the residual variance — the classic additive
    seasonal-naive profile (what remains after the seasonal mean is the
    residual; its variance comes from the exact moment identity
    E[x²]−E[x]², so no per-row float subtraction ever happens). Every
    aggregate is integer-exact; the only float ops are the final
    divisions, written in the SAME order in both engines.

    Scale shape: two cascading hash-aggs — (hour) then (hour-of-day) —
    the first collapses map-side per input partition (hours are dense,
    bounded by the time span), the second's output is exactly 24 rows.
    Nothing wider than (hour, cents) shuffles; no window function at
    all."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.where(F.col("event_type") == "click")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("c")
        )
    )
    hod = hourly.groupBy(
        F.hour("h").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count("*").alias("n_hours"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    mean_c = F.col("s").cast("double") / F.col("n_hours")
    return hod.select(
        "hour_of_day",
        "n_hours",
        (mean_c / F.lit(100)).alias("seasonal_mean"),
        (
            (F.col("sq").cast("double") / F.col("n_hours") - mean_c * mean_c)
            / F.lit(10000)
        ).alias("resid_var"),
    ).orderBy("hour_of_day")


@query(
    "q_ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'error'
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS t
      FROM daily
    ),
    cum AS (
      SELECT d,
             SUM(c) OVER (ORDER BY d) AS pre,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k,
             n, t
      FROM daily CROSS JOIN tot
    )
    SELECT CAST(d AS TIMESTAMP) AS change_day,
           CAST(abs(n * pre - k * t) AS BIGINT) AS cusum_abs,
           CAST(pre AS DOUBLE) / k / 100 AS mean_before,
           CAST(t - pre AS DOUBLE) / NULLIF(n - k, 0) / 100 AS mean_after
    FROM cum
    ORDER BY abs(n * pre - k * t) DESC, d ASC
    LIMIT 1
    """,
    category="2.J",
)
def q_ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily error-revenue series:
    the split point k maximizing |S_k| where S_k is the cumulative
    deviation from the global mean. Cleared of divisions, that is the
    PURE-INTEGER statistic |n·P_k − k·T| (P_k prefix sum, T total, n
    days) — argmax, tie-broken to the earliest day, is bit-exact under
    any partitioning. The before/after means are single float divisions
    on exact integers, applied identically in both engines.

    Scale shape: the raw stream collapses to a DAILY series in one
    hash-agg (map-side partials, output bounded by the calendar), so the
    cumulative window runs over days, not events — a global window over
    a calendar-bounded frame is a single-task triviality, and the
    top-1 is a WindowGroupLimit-free orderBy().limit(1) on that same
    tiny frame. The (n, T) scalars attach by broadcast."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "error")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("c")
        )
    )
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("c").alias("t")
    )
    w = Window.orderBy("d")
    cum = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.sum("c").over(w).alias("pre"),
            F.row_number().over(w).cast("bigint").alias("k"),
            "n",
            "t",
        )
    )
    stat = F.abs(F.col("n") * F.col("pre") - F.col("k") * F.col("t"))
    return (
        cum.select(
            # date -> timestamp for cross-engine result parity (the
            # dates.py convention: pandas renders a DuckDB DATE as a
            # Timestamp, Spark's DATE as datetime.date).
            F.col("d").cast("timestamp").alias("change_day"),
            stat.cast("bigint").alias("cusum_abs"),
            (F.col("pre").cast("double") / F.col("k") / F.lit(100)).alias(
                "mean_before"
            ),
            (
                (F.col("t") - F.col("pre")).cast("double")
                / F.nullif(F.col("n") - F.col("k"), F.lit(0))
                / F.lit(100)
            ).alias("mean_after"),
        )
        .orderBy(F.col("cusum_abs").desc(), F.col("change_day").asc())
        .limit(1)
    )


@query(
    "q_ts_hampel",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id, cents,
             list_sort(list(cents) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS frame
      FROM base
    ),
    med AS (
      SELECT user_id, event_id, cents, frame,
             CASE WHEN len(frame) % 2 = 1
                  THEN CAST(frame[(len(frame) + 1) // 2] AS DOUBLE)
                  ELSE (frame[len(frame) // 2]
                        + frame[len(frame) // 2 + 1]) / 2.0
             END AS med
      FROM framed
    ),
    dev AS (
      SELECT user_id, event_id, cents, med,
             list_sort(list_transform(frame, v -> abs(v - med))) AS devs
      FROM med
    )
    SELECT user_id, event_id, cents, med,
           CASE WHEN len(devs) % 2 = 1
                THEN devs[(len(devs) + 1) // 2]
                ELSE (devs[len(devs) // 2] + devs[len(devs) // 2 + 1]) / 2.0
           END AS mad,
           abs(cents - med) > 3 * (CASE WHEN len(devs) % 2 = 1
                THEN devs[(len(devs) + 1) // 2]
                ELSE (devs[len(devs) // 2] + devs[len(devs) // 2 + 1]) / 2.0
           END) AS is_outlier
    FROM dev
    """,
    category="2.J",
)
def q_ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: flag points more than 3 MADs from the sliding
    5-point median — the robust spike detector that, unlike the z-score
    (q_ts_anomaly_zscore), is not itself corrupted by the outliers it
    hunts. Both the median and the MAD are POSITIONAL picks from sorted
    bounded frames (integer cents in, the only non-integers are the
    two-middle averages — one IEEE op on identical operands), so flags
    are bit-deterministic across engines and partitionings. One window
    shuffle on user_id; the frame is O(5) per row — no quadratic
    blowup, the identical plan at any corpus size."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    framed = e.select(
        "user_id", "event_id", cents.alias("cents"),
        F.array_sort(F.collect_list(cents).over(w)).alias("frame"),
    )

    def _pos_median(arr):
        n = F.size(arr)
        mid = ((n + 1) / 2).cast("int")
        lo, hi = (n / 2).cast("int"), (n / 2 + 1).cast("int")
        return F.when(
            n % 2 == 1, F.element_at(arr, mid).cast("double")
        ).otherwise(
            (F.element_at(arr, lo) + F.element_at(arr, hi)) / 2.0
        )

    med = framed.select(
        "user_id", "event_id", "cents", "frame",
        _pos_median(F.col("frame")).alias("med"),
    )
    devs = F.array_sort(
        F.transform(F.col("frame"), lambda v: F.abs(v - F.col("med")))
    )
    dev = med.select(
        "user_id", "event_id", "cents", "med", devs.alias("devs")
    )
    mad = _pos_median(F.col("devs"))
    return dev.select(
        "user_id", "event_id", "cents", "med",
        mad.alias("mad"),
        (F.abs(F.col("cents") - F.col("med")) > 3 * mad).alias("is_outlier"),
    )


@query(
    "q_ts_forecast_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    anchors AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS t,
             CAST(MIN(day) AS TIMESTAMP) AS first_day,
             CAST(MAX(day) AS TIMESTAMP) AS last_day,
             CAST(MAX(CASE WHEN day = (SELECT MIN(d2.day) FROM daily d2
                                       WHERE d2.event_type = daily.event_type)
                           THEN cents END) AS BIGINT) AS y1,
             CAST(MAX(CASE WHEN day = (SELECT MAX(d2.day) FROM daily d2
                                       WHERE d2.event_type = daily.event_type)
                           THEN cents END) AS BIGINT) AS yt
      FROM daily GROUP BY event_type
    )
    SELECT a.event_type, h.h, a.yt, a.t,
           CAST(floor(a.yt + h.h * CAST(a.yt - a.y1 AS DOUBLE) / (a.t - 1)
                      + 0.5) AS BIGINT) AS forecast_cents
    FROM anchors a CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
    ORDER BY a.event_type, h.h
    """,
    category="2.J",
)
def q_ts_forecast_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-method forecast (the classical naive-with-trend baseline,
    Hyndman & Athanasopoulos, public): per event type, project daily
    revenue h=1..7 days past the last observation as
    ŷ(T+h) = y_T + h·(y_T − y₁)/(T−1) — the line through the first and
    last points. Every forecasting pipeline needs this EXACT baseline to
    beat, and unlike ETS/ARIMA it is fully expressible on both engines:
    anchors are exact int64 cents, the slope is ONE IEEE division, and
    the forecast is floor(x+0.5)-rounded to whole cents (positive by
    corpus construction). Scale: daily rollup collapses map-side to
    |types|×|days| rows; anchors and the 7-row horizon table are
    broadcast-sized."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    wfirst = Window.partitionBy("event_type").orderBy("day")
    wlast = Window.partitionBy("event_type").orderBy(F.desc("day"))
    anchors = (
        daily.select(
            "event_type", "day", "cents",
            F.row_number().over(wfirst).alias("rn_f"),
            F.row_number().over(wlast).alias("rn_l"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("t"),
            F.max(F.when(F.col("rn_f") == 1, F.col("cents"))).alias("y1"),
            F.max(F.when(F.col("rn_l") == 1, F.col("cents"))).alias("yt"),
        )
    )
    horizon = spark.range(1, 8).select(F.col("id").cast("long").alias("h"))
    slope = (F.col("yt") - F.col("y1")).cast("double") / (F.col("t") - 1)
    return (
        anchors.crossJoin(F.broadcast(horizon))
        .select(
            "event_type", "h", "yt", "t",
            F.floor(F.col("yt") + F.col("h") * slope + F.lit(0.5)).alias(
                "forecast_cents"
            ),
        )
        .orderBy("event_type", "h")
    )


@query(
    "q_ts_acf_lags",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest([1, 2, 3]) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.cents AS x, b.cents AS y
      FROM hourly a CROSS JOIN lags l
      JOIN hourly b ON b.event_type = a.event_type AND b.hr = a.hr + l.lag
    ),
    m AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 * 1000000 + CAST(0.5 AS DOUBLE))
           / CAST(1000000 AS DOUBLE) AS acf
    FROM m WHERE n >= 3
    ORDER BY event_type, lag
    """,
    category="2.J",
)
def q_ts_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1-3 h of each event type's hourly
    value series — the seasonality probe before any forecast
    (q_ts_forecast_drift) or decomposition (q_ts_seasonal_decompose)
    is trusted. Series points are exact int64 cents per integer hour
    index (epoch_us div 3600e6); lagged pairs come from an equi-join on
    (type, hr+lag) — no window, no spine, sparse hours pair only where
    both ends exist. The Pearson moments are exact int64; the final r
    evaluates in DOUBLES (n·Sxy overflows int64 at this grain — both
    engines cast the SAME int64 to the SAME double first, so parity is
    bit-exact even where the double rounds), floor-rounded half-up to
    6dp. Shape: one hourly hash-agg, a 3-row lag cross join, one
    equi-join on (type, hr) — all map-side-combining aggs."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    lags = spark.range(1, 4).select(F.col("id").alias("lag"))
    a = hourly.alias("a")
    b = hourly.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.hr") == F.col("a.hr") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.cents").alias("x"),
            F.col("b.cents").alias("y"),
        )
    )
    m = pairs.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = (nd * F.col("sxy") - sxd * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - sxd * F.col("sx"))
        * (nd * F.col("syy") - syd * F.col("sy"))
    )
    return (
        m.where(F.col("n") >= 3)
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            F.col("n").alias("n_pairs"),
            (F.floor(r * 1000000 + F.lit(0.5)) / 1000000.0).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@query(
    "q_ts_ohlc_bars",
    oracle="""
    SELECT event_type,
           CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600)
                AS TIMESTAMP) AS bar,
           arg_min(CAST(round(value * 100) AS BIGINT),
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0'))
             AS open_cents,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS high_cents,
           CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS low_cents,
           arg_max(CAST(round(value * 100) AS BIGINT),
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0'))
             AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY event_type, bar
    ORDER BY event_type, bar
    """,
    category="2.J",
)
def q_ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the canonical downsample-for-charting
    aggregation (every metrics/trading store ships it): per event type and
    6-hour bucket, the first/max/min/last value plus volume. First/last
    are min_by/max_by over a zero-padded (epoch-micros, event_id) string
    key — lexicographic order == (ts, id) numeric order, and unlike a
    struct ordering key it is portable to the oracle engine (DuckDB's
    arg_min takes scalar keys only). All measures are exact int64 cents.
    Scale: ONE map-side-combining hash-agg to |types|x|buckets| rows —
    no window, no join, no sort beyond the bounded output."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    okey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bar = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / 21600) * 21600
    )
    return (
        e.select(
            "event_type",
            bar.alias("bar"),
            cents.alias("cents"),
            okey.alias("okey"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.min_by("cents", "okey").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "okey").alias("close_cents"),
            F.count("*").alias("volume"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("event_type", "bar")
    )


@query(
    "q_ts_bollinger",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, ts, cents,
             COUNT(*)    OVER fr AS n,
             CAST(SUM(cents) OVER fr AS BIGINT) AS s1,
             CAST(SUM(cents * cents) OVER fr AS BIGINT) AS s2
      FROM c
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts, cents,
           s1 / 20.0 AS ma_cents,
           CAST(CASE WHEN 20 * cents > s1
                      AND (20 * cents - s1) * (20 * cents - s1)
                          > 4 * (20 * s2 - s1 * s1)
                THEN 1 ELSE 0 END AS INTEGER) AS above_band,
           CAST(CASE WHEN 20 * cents < s1
                      AND (20 * cents - s1) * (20 * cents - s1)
                          > 4 * (20 * s2 - s1 * s1)
                THEN 1 ELSE 0 END AS INTEGER) AS below_band
    FROM w WHERE n = 20
    ORDER BY user_id, ts, event_id
    """,
    category="2.J",
)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout flags — the classic rolling mean +/- 2 sigma
    envelope, per user over a trailing 20-event frame. The breach
    predicate is kept in EXACT int64 by clearing denominators:
    |x - mu| > 2 sigma  <=>  (20x - S1)^2 > 4 (20 S2 - S1^2)  over cents
    (x <= 56k cents -> every product < 2^53, no float enters the
    comparison); the reported moving average is ONE IEEE division of the
    exact integer sum. Scale: the window partitions by user_id — millions
    of small partitions, each a bounded per-user stream; one hash
    exchange, no global sort."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    w = c.select(
        "user_id", "event_id", "ts", "cents",
        F.count("*").over(fr).alias("n"),
        F.sum("cents").over(fr).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(fr).alias("s2"),
    )
    dev = 20 * F.col("cents") - F.col("s1")
    var20 = 4 * (20 * F.col("s2") - F.col("s1") * F.col("s1"))
    breach = (dev * dev) > var20
    return (
        w.where(F.col("n") == 20)
        .select(
            "user_id", "event_id", "ts", "cents",
            (F.col("s1") / 20.0).alias("ma_cents"),
            ((F.col("s1") < 20 * F.col("cents")) & breach)
            .cast("int").alias("above_band"),
            ((F.col("s1") > 20 * F.col("cents")) & breach)
            .cast("int").alias("below_band"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@query(
    "q_ts_rsi",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT user_id, event_id, ts, cents,
             cents - lag(cents) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS diff
      FROM c
    ),
    g AS (
      SELECT user_id, event_id, ts,
             COUNT(diff) OVER fr AS nd,
             CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER fr
                  AS BIGINT) AS gain,
             CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER fr
                  AS BIGINT) AS loss
      FROM d
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts, gain, loss,
           floor(CASE WHEN gain + loss = 0 THEN 50.0
                      ELSE 100.0 * gain / (gain + loss) END
                 * 10000.0 + 0.5) / 10000.0 AS rsi
    FROM g WHERE nd = 14
    ORDER BY user_id, ts, event_id
    """,
    category="2.J",
)
def q_ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Cutler's simple-moving-average form —
    exactly expressible, unlike Wilder's recursive smoothing) over a
    trailing 14-diff frame per user: RSI = 100 G / (G + L) with G/L the
    int64 cent sums of up/down moves; a flat window (G+L=0) pins 50.
    Law-10 discipline: the lag diff is PROJECTED in its own select before
    the frame sums read it, so the frame never looks across the filtered
    relation. ONE user_id exchange feeds both window passes (same
    partition+order spec); the division is a single IEEE op on exact
    integers, floor-rounded to 4dp."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fr = wo.rowsBetween(-13, 0)
    c = e.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d = c.select(
        "user_id", "event_id", "ts",
        (F.col("cents") - F.lag("cents").over(wo)).alias("diff"),
    )
    g = d.select(
        "user_id", "event_id", "ts",
        F.count("diff").over(fr).alias("nd"),
        F.sum(
            F.when(F.col("diff") > 0, F.col("diff")).otherwise(F.lit(0))
        ).over(fr).alias("gain"),
        F.sum(
            F.when(F.col("diff") < 0, -F.col("diff")).otherwise(F.lit(0))
        ).over(fr).alias("loss"),
    )
    tot = F.col("gain") + F.col("loss")
    rsi = F.when(tot == 0, F.lit(50.0)).otherwise(
        100.0 * F.col("gain") / tot
    )
    return (
        g.where(F.col("nd") == 14)
        .select(
            "user_id", "event_id", "ts", "gain", "loss",
            (F.floor(rsi * 10000.0 + F.lit(0.5)) / 10000.0).alias("rsi"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@query(
    "q_ts_seasonal_naive_eval",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    ev AS (
      SELECT cur.event_type,
             cur.cents AS actual,
             prev.cents AS predicted,
             cur.cents - prev.cents AS err
      FROM hourly cur
      JOIN hourly prev
        ON prev.event_type = cur.event_type
       AND prev.hour = cur.hour - INTERVAL 24 HOURS
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(abs(err)) AS BIGINT) AS abs_err_cents,
           CAST(SUM(abs(err)) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
             AS mae_cents,
           CAST(SUM(err) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
             AS bias_cents,
           sqrt(CAST(SUM(err * err) AS BIGINT)
                / CAST(COUNT(*) AS DOUBLE)) AS rmse_cents,
           floor(CAST(SUM(CAST(CASE WHEN actual > 0
                        THEN 100.0 * abs(err) / actual END
                   AS DECIMAL(38, 18))) AS DOUBLE)
                 / nullif(SUM(CASE WHEN actual > 0 THEN 1 ELSE 0 END), 0)
                 * 100000000.0 + 0.5) / 100000000.0 AS mape_pct
    FROM ev GROUP BY event_type ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the standard accuracy floor
    (Hyndman & Athanasopoulos): predict each hour's revenue with the value
    24 hours earlier and score MAE / bias / RMSE / MAPE per event type.
    The 24h shift is an equi-JOIN on (type, hour - 24h), not lag(24) —
    robust to gapped hours, which row-offset lags silently mis-align.
    Exactness: errors are int64 cents; MAE/bias are one division each;
    RMSE is sqrt of an exact ratio (IEEE sqrt is correctly rounded on
    both engines); MAPE's per-row ratios are identical IEEE doubles
    summed in DECIMAL then floor-8dp (law 18 discipline). Scale: hourly
    rollup map-side-combines to |types|x|hours| rows; everything after is
    bounded-size."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    prev = hourly.select(
        "event_type",
        (F.col("hour") + F.expr("INTERVAL 24 HOURS")).alias("hour"),
        F.col("cents").alias("predicted"),
    )
    ev = hourly.join(prev, ["event_type", "hour"]).select(
        "event_type",
        F.col("cents").alias("actual"),
        "predicted",
        (F.col("cents") - F.col("predicted")).alias("err"),
    )
    nd = F.count("*").cast("double")
    ape = F.when(
        F.col("actual") > 0,
        100.0 * F.abs(F.col("err")) / F.col("actual"),
    )
    npos = F.sum(F.when(F.col("actual") > 0, 1).otherwise(0))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(F.abs(F.col("err"))).alias("abs_err_cents"),
            (F.sum(F.abs(F.col("err"))) / nd).alias("mae_cents"),
            (F.sum("err") / nd).alias("bias_cents"),
            F.sqrt(
                F.sum(F.col("err") * F.col("err")) / nd
            ).alias("rmse_cents"),
            (
                F.floor(
                    F.sum(ape.cast("decimal(38,18)")).cast("double")
                    / F.nullif(npos, F.lit(0))
                    * 100000000.0
                    + F.lit(0.5)
                )
                / 100000000.0
            ).alias("mape_pct"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_paa_sax",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    idx AS (
      SELECT event_type, day, cents,
             row_number() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY event_type, day) AS n,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY cents, ts, event_id) AS vrank
      FROM c
      WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id)
    ),
    cuts AS (
      SELECT event_type, day, MAX(n) AS n,
             MAX(CASE WHEN vrank = (n + 3) // 4 THEN cents END) AS q1,
             MAX(CASE WHEN vrank = (n + 1) // 2 THEN cents END) AS q2,
             MAX(CASE WHEN vrank = (3 * n + 3) // 4 THEN cents END) AS q3
      FROM idx WHERE n >= 4 GROUP BY event_type, day
    ),
    seg AS (
      SELECT i.event_type, i.day,
             ((i.rn - 1) * 4) // i.n AS seg,
             CAST(SUM(i.cents) AS BIGINT) AS ssum,
             CAST(COUNT(*) AS BIGINT) AS scnt
      FROM idx i WHERE i.n >= 4
      GROUP BY i.event_type, i.day, ((i.rn - 1) * 4) // i.n
    ),
    sym AS (
      SELECT s.event_type, s.day, s.seg, c.n,
             CASE WHEN s.ssum < c.q1 * s.scnt THEN 'a'
                  WHEN s.ssum < c.q2 * s.scnt THEN 'b'
                  WHEN s.ssum < c.q3 * s.scnt THEN 'c'
                  ELSE 'd' END AS sy
      FROM seg s JOIN cuts c USING (event_type, day)
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, MAX(n) AS n_events,
           string_agg(sy, '' ORDER BY seg) AS sax_word
    FROM sym GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    category="2.J",
)
def q_ts_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolization (Lin/Keogh's Symbolic Aggregate
    approXimation, made engine-exact): each (event_type, day) series
    compresses to a 4-symbol word — 4 equal PAA segments by integer index
    math (seg = (rn-1)*4 div n), each symbolized a-d against the SERIES'
    OWN positional quartiles instead of the textbook Gaussian
    breakpoints. That swap is what makes it bit-portable: segment-mean
    vs quartile compares as  ssum < q * scnt  — pure int64, no
    z-normalization floats anywhere. SAX words feed motif mining,
    similarity hashing, and anomaly grammars downstream. Scale: windows
    partition by (type, day) — calendar-sharded tasks; per-day density
    is the task bound (the standard hypertable chunk grain), and
    everything after the first two windows is segment-grain."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wts = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wval = Window.partitionBy("event_type", "day").orderBy(
        "cents", "ts", "event_id"
    )
    wall = Window.partitionBy("event_type", "day")
    idx = c.select(
        "event_type", "day", "cents",
        F.row_number().over(wts).alias("rn"),
        F.count("*").over(wall).alias("n"),
        F.row_number().over(wval).alias("vrank"),
    ).where(F.col("n") >= 4)
    cuts = idx.groupBy("event_type", "day").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("vrank") == F.expr("(n + 3) div 4"), F.col("cents"))
        ).alias("q1"),
        F.max(
            F.when(F.col("vrank") == F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("q2"),
        F.max(
            F.when(
                F.col("vrank") == F.expr("(3 * n + 3) div 4"), F.col("cents")
            )
        ).alias("q3"),
    )
    seg = idx.groupBy(
        "event_type", "day",
        F.expr("((rn - 1) * 4) div n").alias("seg"),
    ).agg(F.sum("cents").alias("ssum"), F.count("*").alias("scnt"))
    sym = seg.join(cuts, ["event_type", "day"]).select(
        "event_type", "day", "seg", "n",
        F.when(F.col("ssum") < F.col("q1") * F.col("scnt"), F.lit("a"))
        .when(F.col("ssum") < F.col("q2") * F.col("scnt"), F.lit("b"))
        .when(F.col("ssum") < F.col("q3") * F.col("scnt"), F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("sy"),
    )
    return (
        sym.groupBy("event_type", "day")
        .agg(
            F.max("n").alias("n_events"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sy"))),
                    lambda s: s.sy,
                ),
            ).alias("sax_word"),
        )
        .select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            "n_events",
            "sax_word",
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_ts_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY a.event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcorr
      FROM (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY event_type
    )
    SELECT s.event_type, t.n AS n_days, s.s,
           floor(CASE WHEN s.s > 0 THEN (s.s - 1) /
                        sqrt((CAST(t.n AS DOUBLE) * (t.n - 1)
                              * (2 * t.n + 5) - t.tcorr) / 18)
                      WHEN s.s < 0 THEN (s.s + 1) /
                        sqrt((CAST(t.n AS DOUBLE) * (t.n - 1)
                              * (2 * t.n + 5) - t.tcorr) / 18)
                      ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS z
    FROM s JOIN ties t USING (event_type)
    ORDER BY s.event_type
    """,
    category="2.J",
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily revenue
    series — the standard nonparametric "is this metric drifting?"
    monitor (no linearity or normality assumed; pairs with
    q_ts_forecast_drift's slope the way q_agg_mann_whitney pairs with
    the t-test). S sums pairwise signs over the CALENDAR-BOUNDED daily
    rollup (~30 rows/type — the all-pairs join is days², not data²);
    the tie-corrected variance and continuity-corrected z evaluate as
    one identical IEEE tree over exact int64 moments, floor-6dp."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tcorr"),
        )
    )
    var = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tcorr")
    ) / 18
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return (
        s.join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s",
            (F.floor(z * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("z"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_anova_hod",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(EXTRACT(hour FROM date_trunc('hour', ts)) AS BIGINT)
               AS hod,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(c) AS BIGINT) AS sg
      FROM hourly GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(sg) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(sg AS DECIMAL(38, 6)) * sg / ng) AS DOUBLE)
               AS sgg
      FROM g GROUP BY event_type
    ),
    ss AS (
      SELECT h.event_type,
             CAST(SUM(CAST(h.c AS BIGINT) * h.c) AS BIGINT) AS sq
      FROM hourly h GROUP BY 1
    )
    SELECT t.event_type, t.n AS n_hours, t.k AS n_groups,
           floor((t.sgg - CAST(t.s AS DOUBLE) * t.s / t.n)
                 / (CAST(ss.sq AS DOUBLE) - CAST(t.s AS DOUBLE) * t.s / t.n)
                 * 1000000.0 + 0.5) / 1000000.0 AS seasonal_strength,
           floor(((t.sgg - CAST(t.s AS DOUBLE) * t.s / t.n) / (t.k - 1))
                 / ((CAST(ss.sq AS DOUBLE) - t.sgg) / (t.n - t.k))
                 * 1000000.0 + 0.5) / 1000000.0 AS f_stat
    FROM tot t JOIN ss USING (event_type)
    ORDER BY t.event_type
    """,
    category="2.J",
)
def q_ts_anova_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of hourly revenue across hour-of-day, per event
    type — the significance rung above q_ts_seasonal_decompose: eta^2 =
    SSB/SST IS the Wang-Hyndman seasonal-strength statistic for the
    additive hour-of-day model (ANOVA identity: Var(resid) = Var(total)
    - Var(between)), and F = (SSB/(k-1))/(SSW/(n-k)) says whether the
    seasonality is real. SST folds from exact int64 moments; SSB's 24
    per-group terms sg^2/ng accumulate in DECIMAL(38,6) BEFORE the one
    double cast (24 identical rationals, order-proofed), then one IEEE
    tree per statistic, floor-6dp. Scale: hourly rollup map-side, then
    two bounded aggs — nothing beyond (type, hour) ever shuffles."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    ).withColumn("hod", F.hour("h").cast("long"))
    g = hourly.groupBy("event_type", "hod").agg(
        F.count("*").alias("ng"), F.sum("c").alias("sg")
    )
    tot = g.groupBy("event_type").agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.count("*").alias("k"),
        F.sum(
            F.col("sg").cast("decimal(38,6)") * F.col("sg") / F.col("ng")
        ).cast("double").alias("sgg"),
    )
    ss = hourly.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).alias("sq")
    )
    ssb = F.col("sgg") - F.col("s").cast("double") * F.col("s") / F.col("n")
    sst = (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    ssw_over_df = (F.col("sq").cast("double") - F.col("sgg")) / (
        F.col("n") - F.col("k")
    )
    return (
        tot.join(ss, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("k").alias("n_groups"),
            (
                F.floor(ssb / sst * 1000000.0 + F.lit(0.5)) / 1000000.0
            ).alias("seasonal_strength"),
            (
                F.floor(
                    (ssb / (F.col("k") - 1)) / ssw_over_df * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("f_stat"),
        )
        .orderBy("event_type")
    )


@query(
    "q_events_fano_burstiness",
    oracle="""
    WITH per_min AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 60) AS BIGINT) AS minute,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             CAST(MAX(minute) - MIN(minute) + 1 AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS active_minutes,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS sq
      FROM per_min GROUP BY event_type
    )
    SELECT event_type, m AS span_minutes, active_minutes, s AS n_events,
           floor((CAST(m AS DOUBLE) * sq - CAST(s AS DOUBLE) * s)
                 / (CAST(m AS DOUBLE) * s)
                 * 1000000.0 + 0.5) / 1000000.0 AS fano
    FROM agg ORDER BY event_type
    """,
    category="2.J",
)
def q_events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) of per-minute arrival counts
    per event type — the burstiness statistic: 1 = Poisson arrivals,
    >1 = bursty (capacity planning / bot screening both start here).
    Empty minutes enter the variance ONLY through the span M = last −
    first + 1 minute (their zero counts contribute nothing to Σc, Σc²),
    so no calendar spine is ever materialized: Fano = var/mean =
    (M·Σc² − S²)/(M·S) — one identical IEEE tree over exact int64
    moments, floor-6dp. Scale: minute rollup collapses map-side;
    everything after is |types| rows."""
    e = load_table(spark, sf_dir, "events")
    per_min = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 60).cast("long").alias("minute"),
    ).agg(F.count("*").alias("c"))
    agg = per_min.groupBy("event_type").agg(
        (F.max("minute") - F.min("minute") + 1).alias("m"),
        F.count("*").alias("active_minutes"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    md = F.col("m").cast("double")
    sd = F.col("s").cast("double")
    fano = (md * F.col("sq") - sd * F.col("s")) / (md * F.col("s"))
    return agg.select(
        "event_type",
        F.col("m").alias("span_minutes"),
        "active_minutes",
        F.col("s").alias("n_events"),
        (F.floor(fano * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("fano"),
    ).orderBy("event_type")


@query(
    "q_ts_rolling_slope",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, ts,
             COUNT(*) OVER fr AS n,
             CAST(SUM(x) OVER fr AS BIGINT) AS sx,
             CAST(SUM(y) OVER fr AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,
             CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy
      FROM c
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * 3600.0 * 1000000.0 + 0.5) / 1000000.0
             AS slope_cents_per_hour
    FROM w WHERE n = 20
    ORDER BY user_id, ts, event_id
    """,
    category="2.J",
)
def q_ts_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares trend — the per-entity "is this metric
    locally rising?" regression over a trailing 20-event frame: slope =
    (n Sxy - Sx Sy)/(n Sxx - Sx^2), reported in cents/hour. The time
    axis re-bases to the series origin (epoch - 2024-01-01) so every
    frame moment stays exact int64 (raw epoch^2 sums would overflow);
    the slope is one identical IEEE tree over those moments, floor-6dp.
    Pairs with q_ts_bollinger on the SAME user_id window exchange
    pattern: one shuffle, millions of small per-user partitions at
    scale."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "user_id", "event_id", "ts",
        (F.unix_timestamp("ts") - F.lit(1704067200)).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    w = c.select(
        "user_id", "event_id", "ts",
        F.count("*").over(fr).alias("n"),
        F.sum("x").over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(fr).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * F.col("sx")
    )
    return (
        w.where(F.col("n") == 20)
        .select(
            "user_id", "event_id", "ts",
            (
                F.floor(slope * 3600.0 * 1000000.0 + F.lit(0.5))
                / 1000000.0
            ).alias("slope_cents_per_hour"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@query(
    "q_ts_peak_detect",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    hist AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS m
      FROM hourly GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, cents, m,
             CAST(SUM(m) OVER (PARTITION BY event_type ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS hi_rn,
             CAST(SUM(m) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hist
    ),
    p90 AS (
      SELECT event_type,
             MAX(CASE WHEN (9 * n + 9) // 10
                      BETWEEN hi_rn - m + 1 AND hi_rn
                      THEN cents END) AS p90_cents
      FROM ranked GROUP BY event_type
    ),
    nbr AS (
      SELECT event_type, hour, cents,
             lag(cents)  OVER w AS prev_c,
             lead(cents) OVER w AS next_c
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour)
    )
    SELECT n.event_type, n.hour, n.cents, p.p90_cents
    FROM nbr n JOIN p90 p USING (event_type)
    WHERE n.prev_c IS NOT NULL AND n.next_c IS NOT NULL
      AND n.cents > n.prev_c AND n.cents > n.next_c
      AND n.cents > p.p90_cents
    ORDER BY n.event_type, n.hour
    """,
    category="2.J",
)
def q_ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the hourly revenue series per type: strict
    local maxima (greater than BOTH neighbors — plateau edges excluded
    by design) that also clear the series' own positional P90 — the
    prominence guard that keeps noise wiggles out (scipy find_peaks'
    height parameter, engine-exact). The P90 is a position-based pick
    from the (type, cents) histogram — the q_agg_winsorize discipline,
    no float quantiles; neighbor comparisons are lag/lead on the
    calendar-bounded hourly rollup. Exact integers end to end; output
    is the peak rows themselves."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    hist = hourly.groupBy("event_type", "cents").agg(
        F.count("*").alias("m")
    )
    wrank = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    ranked = hist.select(
        "event_type", "cents", "m",
        F.sum("m").over(wrank).alias("hi_rn"),
        F.sum("m").over(wall).alias("n"),
    )
    k90 = F.expr("(9 * n + 9) div 10")
    lo_rn = F.col("hi_rn") - F.col("m") + 1
    p90 = ranked.groupBy("event_type").agg(
        F.max(
            F.when(k90.between(lo_rn, F.col("hi_rn")), F.col("cents"))
        ).alias("p90_cents")
    )
    wh = Window.partitionBy("event_type").orderBy("hour")
    nbr = hourly.select(
        "event_type", "hour", "cents",
        F.lag("cents").over(wh).alias("prev_c"),
        F.lead("cents").over(wh).alias("next_c"),
    )
    return (
        nbr.join(F.broadcast(p90), "event_type")
        .where(
            F.col("prev_c").isNotNull()
            & F.col("next_c").isNotNull()
            & (F.col("cents") > F.col("prev_c"))
            & (F.col("cents") > F.col("next_c"))
            & (F.col("cents") > F.col("p90_cents"))
        )
        .select("event_type", "hour", "cents", "p90_cents")
        .orderBy("event_type", "hour")
    )


@query(
    "q_ts_spectral_power",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    based AS (
      SELECT event_type,
             hidx - MIN(hidx) OVER (PARTITION BY event_type) AS t,
             cents
      FROM hourly
    ),
    terms AS (
      SELECT b.event_type, p.period, b.t, b.cents,
             cos(2 * pi() * (b.t % p.period) / p.period) AS cv,
             sin(2 * pi() * (b.t % p.period) / p.period) AS sv
      FROM based b
      CROSS JOIN (SELECT unnest([24, 12, 6]) AS period) p
    )
    SELECT event_type, CAST(period AS BIGINT) AS period_hours,
           CAST(floor((CAST(SUM(CAST(cents * cv AS DECIMAL(38, 12))) AS DOUBLE)
                  * CAST(SUM(CAST(cents * cv AS DECIMAL(38, 12))) AS DOUBLE)
                  + CAST(SUM(CAST(cents * sv AS DECIMAL(38, 12))) AS DOUBLE)
                    * CAST(SUM(CAST(cents * sv AS DECIMAL(38, 12))) AS DOUBLE))
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*))
                 + 0.5) AS BIGINT) AS power_cents2
    FROM terms GROUP BY event_type, period
    ORDER BY event_type, period_hours
    """,
    category="2.J",
)
def q_ts_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral power at the three candidate seasonal frequencies (24 h /
    12 h / 6 h periods) per event type — the Goertzel-style single-bin
    DFT probe that answers "WHICH period dominates?" before any
    decomposition commits to one: power_P = ((Σ c·cos θ)² + (Σ c·sin θ)²)
    / n², θ = 2π(t mod P)/P. The hour index re-bases per series and
    REDUCES mod P before the trig call, so both engines evaluate
    cos/sin on the same small grid of arguments (P distinct values — the
    1-ulp hazard is bounded to identical inputs, law 18); term sums
    accumulate in DECIMAL and the final power floors to whole cents².
    Scale: hourly rollup map-side, 3× replication of the BOUNDED hourly
    relation, one agg."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long").alias("hidx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    wmin = Window.partitionBy("event_type")
    based = hourly.select(
        "event_type",
        (F.col("hidx") - F.min("hidx").over(wmin)).alias("t"),
        "cents",
    )
    periods = spark.createDataFrame([(24,), (12,), (6,)], "period long")
    theta = (
        2 * F.lit(3.141592653589793) * (F.col("t") % F.col("period"))
        / F.col("period")
    )
    terms = based.crossJoin(F.broadcast(periods)).select(
        "event_type", "period", "cents",
        F.cos(theta).alias("cv"),
        F.sin(theta).alias("sv"),
    )
    sc = F.sum((F.col("cents") * F.col("cv")).cast("decimal(38,12)")).cast(
        "double"
    )
    ss = F.sum((F.col("cents") * F.col("sv")).cast("decimal(38,12)")).cast(
        "double"
    )
    nd = F.count("*").cast("double")
    return (
        terms.groupBy("event_type", "period")
        .agg(
            F.floor((sc * sc + ss * ss) / (nd * F.count("*")) + F.lit(0.5))
            .alias("power_cents2")
        )
        .select(
            "event_type",
            F.col("period").alias("period_hours"),
            "power_cents2",
        )
        .orderBy("event_type", "period_hours")
    )


@query(
    "q_ts_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ),
    m AS (
      SELECT d.event_type, d.day,
             CAST(row_number() OVER w AS BIGINT) AS t,
             CAST(SUM(d.cents) OVER (PARTITION BY d.event_type
                  ORDER BY d.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) * st.n
             - CAST(row_number() OVER w AS BIGINT) * st.s AS mn
      FROM daily d JOIN stats st USING (event_type)
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)
    ),
    ph AS (
      SELECT event_type, day, t, mn,
             CAST(MIN(mn) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS run_min
      FROM m
    )
    SELECT p.event_type, CAST(p.day AS TIMESTAMP) AS day,
           floor(CAST(p.mn - p.run_min AS DOUBLE) / st.n / 100
                 * 10000.0 + 0.5) / 10000.0 AS ph_dollars,
           CAST(CASE WHEN (p.mn - p.run_min) > 50000 * st.n
                THEN 1 ELSE 0 END AS INTEGER) AS alarm
    FROM ph p JOIN stats st USING (event_type)
    ORDER BY p.event_type, p.day
    """,
    category="2.J",
)
def q_ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-changepoint monitor per event type — the
    sequential twin of q_ts_changepoint_cusum (CUSUM localizes one
    retrospective break; PH is the streaming alarm form: PH_t = m_t -
    min_{s<=t} m_s with m_t = sum(x_s - mean)). Kept EXACT by clearing
    the mean's denominator: m_t * n = n*cumsum_t - t*S is pure int64,
    the running min preserves integrality, and the reported statistic
    divides back once (floor-4dp dollars; alarm at $500 * n, also
    integer). Both cumulative windows partition by type over the
    CALENDAR-BOUNDED daily rollup. The two-pass mean is the batch
    formulation; the streaming form maintains (running mean, min)
    state per key in q_stream_running_state's pattern."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, 0)
    m = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        F.row_number().over(wd).cast("long").alias("t"),
        (
            F.sum("cents").over(wcum) * F.col("n")
            - F.row_number().over(wd).cast("long") * F.col("s")
        ).alias("mn"),
        "n",
    )
    ph = m.select(
        "event_type", "day", "mn", "n",
        F.min("mn").over(wcum).alias("run_min"),
    )
    return ph.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        (
            F.floor(
                (F.col("mn") - F.col("run_min")).cast("double")
                / F.col("n")
                / 100
                * 10000.0
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("ph_dollars"),
        (
            (F.col("mn") - F.col("run_min")) > 50000 * F.col("n")
        ).cast("int").alias("alarm"),
    ).orderBy("event_type", "day")


@query(
    "q_ts_peak_concurrency",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id,
             CAST(SUM(new_s) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid,
             ts
      FROM marked
    ),
    iv AS (
      SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, sid
    ),
    pts AS (
      SELECT s AS t, 1 AS delta, user_id, sid FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta, user_id, sid FROM iv
    ),
    sweep AS (
      SELECT t, delta,
             CAST(SUM(delta) OVER (ORDER BY t, delta, user_id, sid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS conc
      FROM pts
    )
    SELECT CAST(CAST(t AS DATE) AS TIMESTAMP) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM sweep GROUP BY 1 ORDER BY day
    """,
    category="2.J",
)
def q_ts_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity question ("how
    many users were on AT ONCE?") answered by the classic sweep line:
    sessionize per user (30-min gap rule, q_ts_sessionize_batch
    semantics), emit +1/-1 at session bounds, and running-sum the
    deltas in global time order. End-at-same-instant counts BEFORE the
    next start (delta asc in the tie-break) — end-exclusive overlap,
    deterministic via the (t, delta, user, sid) total order. The
    global running sum is the dprefix TWO-PHASE cumsum — the sweep
    line is exactly the pattern's home turf: a naive
    Window.orderBy(t) funnels every boundary through one task at
    100 TB. Day-grain maxima are calendar-bounded."""
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_cumsum,
    )

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = (
        F.lag("ts").over(w).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            > 1800000000
        )
    ).cast("int")
    # law 10: project the lag-derived flag BEFORE the cumulative sum
    # reads it — a nested window-in-window expression silently
    # mis-frames at multi-partition scale (bit us here at sf0.01).
    flagged = e.select("user_id", "ts", "event_id", new_s.alias("new_s"))
    sess = flagged.select(
        "user_id", "ts",
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("sid"),
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    pts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionByName(
        iv.select(
            F.col("e").alias("t"), F.lit(-1).alias("delta"),
            "user_id", "sid",
        )
    )
    # materialize=True: the offsets branch re-executes the fork's
    # subtree; with the session's cached base tables in play the two
    # range-shuffle executions can sample DIFFERENT boundaries, and the
    # local/offset pid mapping silently misaligns (caught by driver_sim
    # at sf0.01 — nondeterministic per-day maxima). One bounded
    # localCheckpoint pins both branches to identical input.
    sweep = two_phase_cumsum(
        pts,
        [("t", True), ("delta", True), ("user_id", True), ("sid", True)],
        "delta",
        out="conc",
        inclusive=True,
        materialize=True,
    )
    return (
        sweep.groupBy(
            F.to_date("t").cast("timestamp").alias("day")
        )
        .agg(F.max("conc").cast("long").alias("peak_concurrency"))
        .orderBy("day")
    )


@query(
    "q_ts_record_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, cents,
             CASE WHEN cents > COALESCE(MAX(cents) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS is_record
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(is_record) AS BIGINT) AS n_records,
           CAST(MAX(CASE WHEN is_record = 1 THEN day END) AS TIMESTAMP)
             AS last_record_day
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking days per type — "when did we last set an
    all-time high?" (the streak statistic a metrics page pins next to
    the trend; under exchangeability ~ln(n) records are expected, so an
    excess is itself a trend signal). A running max over the
    calendar-bounded daily rollup flags records; first day is a record
    by convention (COALESCE -1). Exact integers, bounded windows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = daily.select(
        "event_type", "day", "cents",
        (
            F.col("cents")
            > F.coalesce(F.max("cents").over(wprev), F.lit(-1))
        ).cast("long").alias("is_record"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("is_record").alias("n_records"),
            F.max(F.when(F.col("is_record") == 1, F.col("day")))
            .cast("timestamp").alias("last_record_day"),
        )
        .orderBy("event_type")
    )


from aws_lambda_stream_processing_spark.registry import REGISTRY as _REG

_SAX_SQL = _REG["q_ts_paa_sax"].oracle


@query(
    "q_ts_sax_motifs",
    oracle=f"""
    WITH sax AS ({_SAX_SQL})
    SELECT sax_word,
           CAST(COUNT(*) AS BIGINT) AS n_series,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(MIN(day) AS TIMESTAMP) AS first_day,
           CAST(MAX(day) AS TIMESTAMP) AS last_day
    FROM sax
    GROUP BY sax_word
    HAVING COUNT(*) >= 2
    ORDER BY n_series DESC, sax_word
    """,
    category="2.J",
)
def q_ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif discovery — the payoff of symbolization: recurring
    intraday shapes across (type, day) series surface as REPEATED SAX
    words (exact string equality on a 4-symbol alphabet stands in for
    expensive subsequence matching — the whole point of the Lin/Keogh
    representation). Composes ON the registered q_ts_paa_sax query
    (its oracle SQL embeds verbatim as this one's CTE; the Spark side
    calls the registered builder), so motif counting can never drift
    from the symbolization it summarizes. One word-keyed hash agg over
    the calendar-bounded series table."""
    sax = _REG["q_ts_paa_sax"].fn(spark, sf_dir)
    return (
        sax.groupBy("sax_word")
        .agg(
            F.count("*").alias("n_series"),
            F.countDistinct("event_type").alias("n_types"),
            F.min("day").cast("timestamp").alias("first_day"),
            F.max("day").cast("timestamp").alias("last_day"),
        )
        .where(F.col("n_series") >= 2)
        .orderBy(F.desc("n_series"), "sax_word")
    )


@query(
    "q_ts_anomaly_ensemble",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS s,
             CAST(SUM(cnt * cnt) AS BIGINT) AS ss,
             CAST(round(2 * quantile_cont(cnt, 0.5)) AS BIGINT) AS med2
      FROM daily
    ),
    dev AS (
      SELECT d.day, d.cnt, g.n, g.s, g.ss, g.med2,
             abs(2 * d.cnt - g.med2) AS dev2
      FROM daily d, g
    ),
    m AS (
      SELECT CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
      FROM dev
    ),
    w AS (
      SELECT day, cnt, n, s, ss, med2, dev2,
             SUM(cnt) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prev7,
             COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev
      FROM dev
    ),
    f AS (
      SELECT day, cnt,
             ((n * cnt - s) * (n * cnt - s) >= 9 * (n * ss - s * s))
               AS z_flag,
             (m.mad4 > 0 AND 2 * dev2 >= 3 * m.mad4) AS mad_flag,
             (n_prev = 7 AND 7 * cnt >= 2 * prev7) AS spike_flag
      FROM w, m
    )
    SELECT day, cnt, z_flag, mad_flag, spike_flag,
           CAST(CASE WHEN z_flag THEN 1 ELSE 0 END
              + CASE WHEN mad_flag THEN 1 ELSE 0 END
              + CASE WHEN spike_flag THEN 1 ELSE 0 END AS BIGINT) AS votes
    FROM f
    WHERE z_flag OR mad_flag OR spike_flag
    """,
    category="2.J",
)
def q_ts_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly-detector ENSEMBLE over the daily event-count series: three
    independent rules vote — global z-score (|x−μ| ≥ 3σ), MAD
    (|x−med| ≥ 3·MAD), and a trailing spike rule (x ≥ 2× the previous
    7-day mean, only when 7 full days exist) — and days with any vote
    are reported with the per-rule breakdown. Single detectors
    false-positive on their own blind spots (σ inflated by the outliers
    themselves, MAD blind to slow drifts, spike blind to level shifts);
    the consensus column is what a pager should key on. EXACTNESS: every
    rule is integer cross-multiplied — the z rule as (n·x−S)² ≥
    9(n·SS−S²), the MAD chain in doubled units (med2/dev2/mad4) so
    half-integer medians stay integral, the spike rule as 7x ≥ 2·Σ —
    no float ever reaches a comparison. Scale: one day-grain agg
    (map-side collapsing), 1-row global moment broadcasts, and a
    calendar-bounded ordered window (whitelisted class)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    g = daily.agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
        F.round(2 * F.percentile("cnt", F.lit(0.5)))
        .cast("long")
        .alias("med2"),
    )
    dev = daily.crossJoin(F.broadcast(g)).withColumn(
        "dev2", F.abs(2 * F.col("cnt") - F.col("med2"))
    )
    m = dev.agg(
        F.round(2 * F.percentile("dev2", F.lit(0.5)))
        .cast("long")
        .alias("mad4")
    )
    w7 = Window.orderBy("day").rowsBetween(-7, -1)
    w = dev.withColumn("prev7", F.sum("cnt").over(w7)).withColumn(
        "n_prev", F.count("*").over(w7)
    )
    nx_s = F.col("n") * F.col("cnt") - F.col("s")
    f = w.crossJoin(F.broadcast(m)).select(
        "day",
        "cnt",
        (nx_s * nx_s >= 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))).alias("z_flag"),
        ((F.col("mad4") > 0) & (2 * F.col("dev2") >= 3 * F.col("mad4"))).alias("mad_flag"),
        ((F.col("n_prev") == 7) & (7 * F.col("cnt") >= 2 * F.col("prev7"))).alias("spike_flag"),
    )
    votes = (
        F.col("z_flag").cast("int")
        + F.col("mad_flag").cast("int")
        + F.col("spike_flag").cast("int")
    )
    return f.withColumn("votes", votes.cast("long")).where(
        "z_flag OR mad_flag OR spike_flag"
    )


@query(
    "q_ts_calendar_scaffold",
    oracle="""
    WITH b AS (
      SELECT date_trunc('day', MIN(ts)) AS lo,
             date_trunc('day', MAX(ts)) AS hi
      FROM events
    ),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                  AS TIMESTAMP) AS day
      FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT c.day, t.event_type, COALESCE(d.n, 0) AS n,
           (d.n IS NULL) AS zero_filled
    FROM cal c CROSS JOIN types t
    LEFT JOIN daily d ON d.day = c.day AND d.event_type = t.event_type
    """,
    category="2.J",
)
def q_ts_calendar_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar scaffold with zero-fill: generate the COMPLETE
    (day × event_type) grid between the corpus bounds and left-join the
    sparse daily aggregates onto it, flagging synthesized zeros — the
    reporting prerequisite every dashboard and every window function
    over "consecutive days" silently assumes (a missing day makes a
    7-day moving average a 6-day one; q_ts_gapfill_locf carries values
    forward, this rung makes ABSENCE explicit instead). Scale: the
    scaffold is calendar × type-domain sized (bounded), built from a
    1-row bounds agg via sequence + explode and broadcast against the
    daily agg — the fact table is touched once for bounds and once for
    the day-grain agg, both map-side collapsing."""
    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    cal = b.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    return (
        cal.crossJoin(types)
        .join(F.broadcast(daily), ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.col("n").isNull().alias("zero_filled"),
        )
    )


@query(
    "q_ts_outage_report",
    oracle="""
    WITH b AS (
      SELECT date_trunc('minute', MIN(ts)) AS lo,
             date_trunc('minute', MAX(ts)) AS hi
      FROM events
    ),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MINUTE))
                  AS TIMESTAMP) AS hr
      FROM b
    ),
    hourly AS (
      SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS hr,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    flagged AS (
      SELECT c.hr, (h.hr IS NULL) AS empty,
             CASE WHEN (h.hr IS NULL) <> COALESCE(lag(h.hr IS NULL)
                    OVER (ORDER BY c.hr), NOT (h.hr IS NULL))
                  THEN 1 ELSE 0 END AS edge
      FROM cal c LEFT JOIN hourly h ON h.hr = c.hr
    ),
    runs AS (
      SELECT hr, empty,
             SUM(edge) OVER (ORDER BY hr
               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    )
    SELECT * FROM (
      SELECT MIN(hr) AS outage_start,
             MAX(hr) + INTERVAL 1 MINUTE AS outage_end,
             CAST(COUNT(*) AS BIGINT) AS n_minutes
      FROM runs WHERE empty
      GROUP BY run_id
    ) WHERE n_minutes >= 5
    """,
    category="2.J",
)
def q_ts_outage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage report: maximal runs (≥ 5 min) of EMPTY minutes between
    the corpus bounds, each with start / end / duration — the
    ingestion-health question ("when did the pipeline stop receiving?")
    that per-event gap statistics (q_events_gap_stats) answer only in
    aggregate. Scale-safe by construction: the raw stream collapses to
    a minute-grain count first (map-side agg), the dense minute
    calendar comes from a 1-row bounds agg (q_ts_calendar_scaffold
    pattern), and the gaps-and-islands pass runs over the
    CALENDAR-BOUNDED minutely series — the whitelisted global-window
    class — never over events. Exact timestamps and integer run
    lengths; the 5-minute floor is the alerting deadband."""
    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    cal = b.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
        ).alias("hr")
    )
    hourly = e.groupBy(F.date_trunc("minute", "ts").alias("hr")).agg(
        F.count("*").alias("n")
    )
    flagged = cal.join(F.broadcast(hourly), "hr", "left").select(
        "hr", F.col("n").isNull().alias("empty")
    )
    w = Window.orderBy("hr")
    edged = flagged.withColumn(
        "edge",
        (
            F.col("empty")
            != F.coalesce(F.lag("empty").over(w), ~F.col("empty"))
        ).cast("int"),
    )
    runs = edged.withColumn(
        "run_id",
        F.sum("edge").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.where("empty")
        .groupBy("run_id")
        .agg(
            F.min("hr").alias("outage_start"),
            (F.max("hr") + F.expr("INTERVAL 1 MINUTE")).alias(
                "outage_end"
            ),
            F.count("*").alias("n_minutes"),
        )
        .where(F.col("n_minutes") >= 5)
        .drop("run_id")
    )


@query(
    "q_ts_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             (b.cents - a.cents)
               / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor(median(slope) * 1000000 + 0.5) / 1000000 AS ts_slope
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event_type: the median of
    all pairwise slopes (c_j - c_i) / (day_j - day_i) over the daily
    integer-cents series — the slope estimator with a 29% breakdown
    point (vs 0% for OLS, q_agg_linreg_exact's rung), the standard
    trend test companion to q_ts_mann_kendall. Determinism: each slope
    is ONE IEEE division of exact int64 operands, so the per-type
    slope multiset is bit-identical on both engines; the 30-day series
    gives C(30,2)=435 pairs per type — odd — so the median is pure
    selection (no interpolation path), pinned at floor-6dp anyway.

    Scale shape: the pair explosion is C(days, 2) per series AFTER
    daily aggregation — bounded by calendar length squared (~66 K
    pairs for a year), never by event volume: the fact scan collapses
    to |types|x|days| rows first (one hash-agg shuffle), and the
    self-join runs on that tiny relation broadcast per type. At 100 TB
    the identical plan holds because the pair space depends only on
    the calendar."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cents") - F.col("a.cents"))
            / F.datediff(F.col("b.day"), F.col("a.day")).cast("double")
        ).alias("slope"),
    )
    med = F.expr("percentile(slope, 0.5)")
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.floor(med * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
                "ts_slope"
            ),
        )
        .orderBy("event_type")
    )


_DTW_N = 30  # fixed Jan-2024 calendar scaffold → fixed DP size


def _dtw_oracle(n: int = _DTW_N) -> str:
    """Generated anti-diagonal wavefront DTW for DuckDB — the DP
    recurrence D[i][j] = |a_i−b_j| + min(D[i−1][j], D[i][j−1],
    D[i−1][j−1]) unrolled into 2n−1 chained CTEs, one per diagonal;
    cells on a diagonal depend only on the two previous diagonals, so
    each CTE is a single list_transform (same trick as the PageRank
    iteration chain). DuckDB's least() ignores NULLs, which encodes
    the border cases. Validated cell-exact against an independent
    numpy DP on random series before adoption."""
    ctes = []
    for k in range(2 * n - 1):
        lo = max(0, k - n + 1)
        hi = min(k, n - 1)
        width = hi - lo + 1
        if k == 0:
            ctes.append(
                "d0 AS (SELECT *, [abs(a[1] - b[1])] AS diag0 FROM pairs)"
            )
            continue
        lo1 = max(0, k - 1 - n + 1)
        lo2 = max(0, k - 2 - n + 1)
        i = f"({lo} + p - 1)"
        j = f"({k} - {i})"
        up = (
            f"CASE WHEN {i} >= 1 AND {j} <= {n - 1} "
            f"THEN diag{k - 1}[{i} - 1 - {lo1} + 1] END"
        )
        left = (
            f"CASE WHEN {j} >= 1 AND {i} <= {n - 1} "
            f"THEN diag{k - 1}[{i} - {lo1} + 1] END"
        )
        dg = (
            f"CASE WHEN {i} >= 1 AND {j} >= 1 "
            f"THEN diag{k - 2}[{i} - 1 - {lo2} + 1] END"
            if k >= 2
            else "NULL"
        )
        ctes.append(
            f"d{k} AS (SELECT *, list_transform(range(1, {width + 1}), "
            f"p -> abs(a[{i} + 1] - b[{j} + 1]) "
            f"+ least({up}, {left}, {dg})) AS diag{k} FROM d{k - 1})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH cal AS (
        SELECT unnest(generate_series(DATE '2024-01-01',
                                      DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type, cal.day,
               COALESCE(a.cents, 0) AS cents
        FROM types t CROSS JOIN cal
        LEFT JOIN agg a
          ON a.event_type = t.event_type AND a.day = CAST(cal.day AS DATE)
    ),
    series AS (
        SELECT event_type, list(cents ORDER BY day) AS s
        FROM dense GROUP BY event_type
    ),
    pairs AS (
        SELECT o.event_type, o.s AS a, r.s AS b
        FROM series o,
             (SELECT s FROM series WHERE event_type = 'purchase') r
        WHERE o.event_type <> 'purchase'
    ),
    {chain}
    SELECT event_type, CAST(diag{2 * n - 2}[1] AS BIGINT) AS dtw
    FROM d{2 * n - 2}
    ORDER BY event_type
    """


@query("q_ts_dtw", oracle=_dtw_oracle(), category="2.J")
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING distance — the alignment-tolerant series
    similarity the z-score rung (lockstep Pearson) cannot express:
    each event type's daily-revenue curve against the purchase
    reference, full-window DTW with |Δcents| cost. Series are EXACT
    integer cents on a fixed 30-day calendar scaffold (missing cells
    zero-filled identically on both engines), so the whole DP is
    integer arithmetic — no float anywhere, bit-exact on any
    partitioning. The kernel is numpy via applyInPandas, one task per
    pair — the right distributed shape: the heavy fact scan reduces
    to 5 tiny (type, array) rows, the O(n²) DP runs where the data
    already is, and at scale (millions of series, e.g. per-user
    curves) the same groupBy-pairs layout fans out embarrassingly
    parallel with per-task memory O(n²) bounded by the window, not
    the corpus. The ORACLE is the DP itself unrolled as a generated
    anti-diagonal wavefront (59 chained list CTEs — see _dtw_oracle),
    validated against an independent numpy reference — so this rung
    carries a full exact oracle for an algorithm SQL has no native
    spelling for, rather than the weak rows-only check."""
    e = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "INTERVAL 1 DAY)) AS day"
    )
    types = e.select("event_type").distinct()
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    dense = (
        types.crossJoin(cal)
        .join(agg, ["event_type", "day"], "left")
        .select(
            "event_type", "day",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    series = dense.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("s")
    )
    ref = series.where(F.col("event_type") == "purchase").select(
        F.col("s").alias("b")
    )
    pairs = (
        series.where(F.col("event_type") != "purchase")
        .crossJoin(F.broadcast(ref))
        .select("event_type", F.col("s").alias("a"), "b")
    )

    def dtw_kernel(pdfs):
        for pdf in pdfs:
            out = []
            for _, row in pdf.iterrows():
                a = np.asarray(row["a"], dtype=np.int64)
                b = np.asarray(row["b"], dtype=np.int64)
                n, m = len(a), len(b)
                D = np.zeros((n, m), dtype=np.int64)
                for ii in range(n):
                    for jj in range(m):
                        c = abs(int(a[ii]) - int(b[jj]))
                        if ii == 0 and jj == 0:
                            D[ii, jj] = c
                        elif ii == 0:
                            D[ii, jj] = c + D[ii, jj - 1]
                        elif jj == 0:
                            D[ii, jj] = c + D[ii - 1, jj]
                        else:
                            D[ii, jj] = c + min(
                                D[ii - 1, jj],
                                D[ii, jj - 1],
                                D[ii - 1, jj - 1],
                            )
                out.append((row["event_type"], int(D[n - 1, m - 1])))
            yield pd.DataFrame(out, columns=["event_type", "dtw"])

    return pairs.mapInPandas(
        dtw_kernel, "event_type string, dtw bigint"
    ).orderBy("event_type")


_HOLT_N = 30  # the DTW 30-day Jan-2024 scaffold


@query(
    "q_ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE cal AS (
        SELECT unnest(generate_series(DATE '2024-01-01',
                                      DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type,
               ROW_NUMBER() OVER (PARTITION BY t.event_type
                                  ORDER BY cal.day) AS t,
               COALESCE(a.cents, 0) AS y
        FROM types t CROSS JOIN cal
        LEFT JOIN agg a
          ON a.event_type = t.event_type AND a.day = CAST(cal.day AS DATE)
    ),
    hw AS (
        SELECT d1.event_type, 1 AS t,
               CAST(4 AS HUGEINT) * d1.y AS l,
               CAST(4 AS HUGEINT) * (d2.y - d1.y) AS b,
               CAST(2 AS HUGEINT) AS p
        FROM dense d1 JOIN dense d2
          ON d1.event_type = d2.event_type AND d1.t = 1 AND d2.t = 2
        UNION ALL
        SELECT h.event_type, h.t + 1,
               d.y * (4 * h.p) + 2 * h.l + 2 * h.b,
               d.y * (2 * h.p) - h.l + 3 * h.b,
               4 * h.p
        FROM hw h JOIN dense d
          ON d.event_type = h.event_type AND d.t = h.t + 1
        WHERE h.t < {_HOLT_N}
    )
    SELECT event_type,
           ((l * 10000 + 10000000000000 * (2 * p)) // (2 * p)
            - 10000000000000)
               / 10000.0 AS level,
           ((b * 10000 + 10000000000000 * (2 * p)) // (2 * p)
            - 10000000000000)
               / 10000.0 AS trend,
           (((l + 1 * b) * 10000 + 10000000000000 * (2 * p))
            // (2 * p) - 10000000000000) / 10000.0 AS f1,
           (((l + 7 * b) * 10000 + 10000000000000 * (2 * p))
            // (2 * p) - 10000000000000) / 10000.0 AS f7
    FROM hw WHERE t = {_HOLT_N}
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT DOUBLE EXPONENTIAL SMOOTHING (level + trend) — the
    forecasting rung between q_ts_ewma16 (level only) and
    q_ts_seasonal_naive_eval (seasonality, no trend): each type's
    daily-cents series on the fixed 30-day scaffold, alpha = beta =
    1/2, h-step forecast l + h*b. The recursion is ALL-INTEGER: with
    power-of-two gains, level and trend at step t are exact rationals
    with denominator 4^t, so the kernel carries the SCALED integers
    L_t = 4^t*l_t, B_t = 4^t*b_t (L <- y*2^(2t-1) + 2L + 2B, B <-
    y*2^(2t-2) - L + 3B; magnitudes < 2^90, Python bigint / DuckDB
    HUGEINT — the decimal128 discipline applied to a RECURSION), and
    only the final floor-4dp rescale divides — floor via the
    +offset/truncate trick so negative trends floor identically on
    both engines. No float ever enters the state, so the 30-step
    feedback loop cannot amplify a single ulp: bit-exact under any
    partitioning, batch boundary, or engine. Kernel shape is the DTW
    layout: the fact scan reduces to 5 (type, series) rows, the
    recursion runs vectorized-per-group in applyInPandas, and at
    scale (per-user/per-SKU forecasting) the same groupBy fans out
    embarrassingly parallel with O(n) state per series. Oracle: the
    same recursion as a DuckDB recursive CTE carrying (L, B, 4^t) —
    natively recursive, independently derived."""
    e = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "INTERVAL 1 DAY)) AS day"
    )
    types = e.select("event_type").distinct()
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    dense = (
        types.crossJoin(cal)
        .join(agg, ["event_type", "day"], "left")
        .select(
            "event_type", "day",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    series = dense.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("s")
    )

    def holt_kernel(pdfs):
        n = _HOLT_N
        for pdf in pdfs:
            out = []
            for _, row in pdf.iterrows():
                y = [int(v) for v in row["s"]]
                # exact integers at scale 4^t (Python bigint)
                big_l = 4 * y[0]
                big_b = 4 * (y[1] - y[0])
                p = 2  # 2^(2t-1) at t=1
                for t in range(2, n + 1):
                    big_l, big_b, p = (
                        y[t - 1] * (4 * p) + 2 * big_l + 2 * big_b,
                        y[t - 1] * (2 * p) - big_l + 3 * big_b,
                        4 * p,
                    )

                def e4(num, p=p):
                    # floor-4dp: Python // floors natively
                    return (num * 10000) // (2 * p) / 10000.0

                out.append(
                    (
                        row["event_type"],
                        e4(big_l),
                        e4(big_b),
                        e4(big_l + 1 * big_b),
                        e4(big_l + 7 * big_b),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["event_type", "level", "trend", "f1", "f7"],
            )

    return series.mapInPandas(
        holt_kernel,
        schema=(
            "event_type string, level double, trend double, "
            "f1 double, f7 double"
        ),
    ).orderBy("event_type")


@query(
    "q_ts_granger",
    oracle="""
    WITH cal AS (
        SELECT unnest(generate_series(DATE '2024-01-01',
                                      DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type,
               ROW_NUMBER() OVER (PARTITION BY t.event_type
                                  ORDER BY cal.day) AS t,
               COALESCE(a.cents, 0) AS y
        FROM types t CROSS JOIN cal
        LEFT JOIN agg a
          ON a.event_type = t.event_type AND a.day = CAST(cal.day AS DATE)
    ),
    tgt AS (SELECT t, y FROM dense WHERE event_type = 'purchase'),
    rows_ AS (
        SELECT x.event_type AS x_type,
               cur.y AS yt, prev.y AS yl, x.y AS xl
        FROM tgt cur
        JOIN tgt prev ON prev.t = cur.t - 1
        JOIN dense x ON x.t = cur.t - 1
        WHERE x.event_type <> 'purchase' AND cur.t >= 2
    ),
    mom AS (
        SELECT x_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(yt AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(yl AS HUGEINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(xl AS HUGEINT)) AS DOUBLE) AS s2,
               CAST(SUM(CAST(yt AS HUGEINT) * yt) AS DOUBLE) AS syy,
               CAST(SUM(CAST(yl AS HUGEINT) * yl) AS DOUBLE) AS s11,
               CAST(SUM(CAST(xl AS HUGEINT) * xl) AS DOUBLE) AS s22,
               CAST(SUM(CAST(yl AS HUGEINT) * xl) AS DOUBLE) AS s12,
               CAST(SUM(CAST(yl AS HUGEINT) * yt) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(xl AS HUGEINT) * yt) AS DOUBLE) AS s2y
        FROM rows_ GROUP BY x_type
    ),
    cen AS (
        SELECT x_type, n,
               syy - sy * sy / n AS cyy,
               s11 - s1 * s1 / n AS c11,
               s22 - s2 * s2 / n AS c22,
               s12 - s1 * s2 / n AS c12,
               s1y - s1 * sy / n AS c1y,
               s2y - s2 * sy / n AS c2y
        FROM mom
    ),
    fit AS (
        SELECT x_type, n,
               cyy - ((c1y * c22 - c2y * c12)
                      / (c11 * c22 - c12 * c12)) * c1y
                   - ((c2y * c11 - c1y * c12)
                      / (c11 * c22 - c12 * c12)) * c2y AS rss_u,
               cyy - c1y * c1y / c11 AS rss_r,
               (c2y * c11 - c1y * c12)
                   / (c11 * c22 - c12 * c12) AS beta_x
        FROM cen
    )
    SELECT x_type, n,
           floor(beta_x * 1000000.0 + 0.5) / 1000000.0 AS beta_x,
           floor((rss_r - rss_u) * (n - 3) / rss_u * 1000000.0 + 0.5)
               / 1000000.0 AS f_stat
    FROM fit
    ORDER BY x_type
    """,
    category="2.J",
)
def q_ts_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER CAUSALITY (lag-1) — does a driver series' yesterday
    improve the prediction of purchase revenue's today beyond
    purchase's own yesterday? For each non-purchase type: restricted
    AR(1) y_t ~ y_{t-1} vs unrestricted y_t ~ y_{t-1} + x_{t-1},
    F = (RSS_r - RSS_u)(n-3)/RSS_u — the lead-lag screen a metrics
    warehouse runs before any 'X drives Y' claim (the directional
    complement of q_ts_cross_corr, which is symmetric). Exactness is
    the linreg_exact discipline extended to TWO regressors: all ten
    moments are exact integer sums (HUGEINT / 128-bit accumulation —
    cross-products of daily cents pass 2^63 near sf1, the PMI
    overflow class), the normal equations solve in closed form
    (explicit 2x2 determinant, no iterative solver), and every float
    is a single fixed expression tree over those moments, floor-6dp
    at the edge. The 29-row design matrix lives on the 30-day
    scaffold: the fact scan reduces to 5 daily series, the regression
    panel is calendar-bounded, and at 100 TB the same shape runs
    per segment (thousands of independent bounded panels, one
    shuffle on the panel key)."""
    e = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "INTERVAL 1 DAY)) AS day"
    )
    types = e.select("event_type").distinct()
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    dense = (
        types.crossJoin(cal)
        .join(agg, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            ).alias("t"),
            F.coalesce("cents", F.lit(0)).alias("y"),
        )
    )
    tgt = dense.where(F.col("event_type") == "purchase").select("t", "y")
    cur, prev = tgt.alias("cur"), tgt.alias("prev")
    x = dense.where(F.col("event_type") != "purchase").alias("x")
    rows = (
        cur.join(prev, F.col("prev.t") == F.col("cur.t") - 1)
        .join(x, F.col("x.t") == F.col("cur.t") - 1)
        .where(F.col("cur.t") >= 2)
        .select(
            F.col("x.event_type").alias("x_type"),
            F.col("cur.y").alias("yt"),
            F.col("prev.y").alias("yl"),
            F.col("x.y").alias("xl"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = rows.groupBy("x_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("yt")).cast("double").alias("sy"),
        F.sum(dec("yl")).cast("double").alias("s1"),
        F.sum(dec("xl")).cast("double").alias("s2"),
        F.sum(dec("yt") * dec("yt")).cast("double").alias("syy"),
        F.sum(dec("yl") * dec("yl")).cast("double").alias("s11"),
        F.sum(dec("xl") * dec("xl")).cast("double").alias("s22"),
        F.sum(dec("yl") * dec("xl")).cast("double").alias("s12"),
        F.sum(dec("yl") * dec("yt")).cast("double").alias("s1y"),
        F.sum(dec("xl") * dec("yt")).cast("double").alias("s2y"),
    )
    n = F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    rss_u = cyy - b1 * c1y - b2 * c2y
    rss_r = cyy - c1y * c1y / c11
    f_stat = (rss_r - rss_u) * (n - 3) / rss_u
    return mom.select(
        "x_type",
        "n",
        (F.floor(b2 * 1000000.0 + 0.5) / 1000000.0).alias("beta_x"),
        (F.floor(f_stat * 1000000.0 + 0.5) / 1000000.0).alias("f_stat"),
    ).orderBy("x_type")


@query(
    "q_ts_holt_winters",
    oracle="""
    WITH RECURSIVE cal AS (
        SELECT unnest(generate_series(DATE '2024-01-01',
                                      DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type,
               ROW_NUMBER() OVER (PARTITION BY t.event_type
                                  ORDER BY cal.day) AS t,
               COALESCE(a.cents, 0) AS y
        FROM types t CROSS JOIN cal
        LEFT JOIN agg a
          ON a.event_type = t.event_type AND a.day = CAST(cal.day AS DATE)
    ),
    week1 AS (
        SELECT event_type,
               list(CAST(y AS HUGEINT) ORDER BY t) AS ys,
               CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS tot
        FROM dense WHERE t <= 7 GROUP BY event_type
    ),
    hw AS (
        SELECT event_type, 7 AS t,
               tot AS l,
               CAST(0 AS HUGEINT) AS b,
               list_transform(generate_series(1, 7),
                              i -> 7 * ys[i] - tot) AS s,
               CAST(7 AS HUGEINT) AS p
        FROM week1
        UNION ALL
        SELECT h.event_type, h.t + 1,
               2 * h.p * d.y - 2 * h.s[(h.t % 7) + 1]
                   + 2 * h.l + 2 * h.b,
               h.p * d.y - h.s[(h.t % 7) + 1] - h.l + 3 * h.b,
               list_transform(generate_series(1, 7),
                              i -> CASE WHEN i = (h.t % 7) + 1
                                   THEN h.p * d.y + 3 * h.s[i]
                                        - h.l - h.b
                                   ELSE 4 * h.s[i] END),
               4 * h.p
        FROM hw h JOIN dense d
          ON d.event_type = h.event_type AND d.t = h.t + 1
        WHERE h.t < 30
    )
    SELECT event_type,
           ((l * 10000 + 10000000000000 * p) // p - 10000000000000)
               / 10000.0 AS level,
           ((b * 10000 + 10000000000000 * p) // p - 10000000000000)
               / 10000.0 AS trend,
           (((l + 1 * b + s[3]) * 10000 + 10000000000000 * p) // p
            - 10000000000000) / 10000.0 AS f1,
           (((l + 7 * b + s[2]) * 10000 + 10000000000000 * p) // p
            - 10000000000000) / 10000.0 AS f7
    FROM hw WHERE t = 30
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS ADDITIVE TRIPLE SMOOTHING (level + trend + weekly
    seasonality, alpha = beta = gamma = 1/2, m = 7) — the top of the
    forecasting ladder (ewma16: level; holt_linear: +trend; here:
    +seasonal indices), the method that actually fits weekly-cycled
    revenue. The ALL-INTEGER state discipline extends to a 9-element
    state VECTOR: week-1 init divides by 7, every update by 2, so
    state at step t is exact at scale 7*4^(t-7) — the kernel carries
    (L, B, S[7], P) as scaled integers (Python bigint / DuckDB
    HUGEINT; untouched seasonal slots rescale by 4 each step),
    forecasts add the cycled seasonal slot BEFORE the single final
    floor-4dp rescale (offset/truncate floor, negatives agree). 23
    coupled feedback steps, zero floats in the state: bit-exact on
    any partitioning or engine. Kernel shape: fact scan → 5 (type,
    series) rows → applyInPandas O(n+m) state; per-segment series
    fan out embarrassingly parallel at 100 TB. Oracle: the same
    recursion as a DuckDB recursive CTE whose state includes a LIST
    column updated by positional list_transform — natively recursive,
    independently derived."""
    e = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "INTERVAL 1 DAY)) AS day"
    )
    types = e.select("event_type").distinct()
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    dense = (
        types.crossJoin(cal)
        .join(agg, ["event_type", "day"], "left")
        .select(
            "event_type", "day",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    series = dense.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("s")
    )

    def hw_kernel(pdfs):
        for pdf in pdfs:
            out = []
            for _, row in pdf.iterrows():
                y = [int(v) for v in row["s"]]
                tot = sum(y[:7])
                big_l, big_b = tot, 0
                seas = [7 * y[i] - tot for i in range(7)]
                p = 7
                for t in range(8, 31):
                    yt = y[t - 1]
                    j = (t - 1) % 7
                    new_l = 2 * p * yt - 2 * seas[j] + 2 * big_l \
                        + 2 * big_b
                    new_b = p * yt - seas[j] - big_l + 3 * big_b
                    seas = [
                        (p * yt + 3 * seas[i] - big_l - big_b)
                        if i == j else 4 * seas[i]
                        for i in range(7)
                    ]
                    big_l, big_b, p = new_l, new_b, 4 * p

                def e4(num, p=p):
                    return (num * 10000) // p / 10000.0

                out.append(
                    (
                        row["event_type"],
                        e4(big_l),
                        e4(big_b),
                        e4(big_l + 1 * big_b + seas[2]),
                        e4(big_l + 7 * big_b + seas[1]),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["event_type", "level", "trend", "f1", "f7"],
            )

    return series.mapInPandas(
        hw_kernel,
        schema=(
            "event_type string, level double, trend double, "
            "f1 double, f7 double"
        ),
    ).orderBy("event_type")


@query(
    "q_ts_croston",
    oracle="""
    WITH demand AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM events
        WHERE value > 250.0
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
        GROUP BY 1, 2
    ),
    occ AS (
        SELECT event_type, size,
               datediff('day', DATE '2023-12-31', day) AS t,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS k,
               datediff('day',
                        lag(day) OVER (PARTITION BY event_type
                                       ORDER BY day),
                        day) AS q
        FROM demand
    ),
    folded AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(SUM(CASE WHEN k = 1 THEN size
                             ELSE (CAST(1 AS BIGINT) << (k - 2)) * size
                        END) AS BIGINT) AS z_scaled,
               CAST(SUM(CASE WHEN k = 1 THEN t
                             ELSE (CAST(1 AS BIGINT) << (k - 2)) * q
                        END) AS BIGINT) AS p_scaled
        FROM occ
        GROUP BY event_type
        HAVING COUNT(*) >= 2
    )
    SELECT event_type, n_occ,
           (z_scaled * 10000 // (CAST(1 AS BIGINT) << (n_occ - 1)))
               / 10000.0 AS z_hat,
           (p_scaled * 10000 // (CAST(1 AS BIGINT) << (n_occ - 1)))
               / 10000.0 AS p_hat,
           (z_scaled * 1000000 // p_scaled) / 1000000.0 AS demand_rate
    FROM folded
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD — the intermittent-demand member of the
    forecasting ladder (ewma16/holt/holt-winters assume a dense
    series; Croston models SPARSE demand — here days where a type
    sees any >250-value event — as two coupled EWMAs: demand SIZE z
    and inter-demand INTERVAL p, forecast rate z/p). The alpha=1/2
    halving recursion has a CLOSED FORM — state after K occurrences
    is a geometric sum Z = z1 + sum 2^(k-2)*size_k (ditto P over
    intervals, p-init = time to first demand) — so the whole method
    collapses to one per-type window pass (row_number + lag for
    intervals) and ONE integer aggregation with shiftleft weights: no
    kernel, no recursion, exact int64 state at scale 2^(K-1), and
    the scale CANCELS in the z/p forecast ratio (floor-6dp on an
    integer quotient — truncation == floor, all values positive).
    Types with fewer than 2 demand occurrences are excluded by the
    HAVING guard on both engines. One scan, one tiny shuffle on
    event_type — at 100 TB this runs per SKU x warehouse with the
    same two-pass shape, the canonical spare-parts/long-tail-catalog
    forecasting workload."""
    e = load_table(spark, sf_dir, "events")
    demand = (
        e.where(
            (F.col("value") > 250.0)
            & (F.col("ts") < F.lit("2024-01-31 00:00:00").cast("timestamp"))
        )
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count("*").cast("long").alias("size"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    occ = demand.select(
        "event_type",
        "size",
        F.datediff(F.col("day"), F.lit("2023-12-31").cast("date"))
        .alias("t"),
        F.row_number().over(w).alias("k"),
        F.datediff(F.col("day"), F.lag("day").over(w)).alias("q"),
    )
    # shiftleft's bit-count must be an expression here (varies per
    # row), so spell it in SQL — the Column API overload takes only a
    # literal int
    w2 = F.expr("shiftleft(1L, cast(k as int) - 2)")
    folded = (
        occ.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.sum(
                F.when(F.col("k") == 1, F.col("size")).otherwise(
                    w2 * F.col("size")
                )
            ).cast("long").alias("z_scaled"),
            F.sum(
                F.when(F.col("k") == 1, F.col("t")).otherwise(
                    w2 * F.col("q")
                )
            ).cast("long").alias("p_scaled"),
        )
        .where(F.col("n_occ") >= 2)
    )
    return folded.select(
        "event_type",
        "n_occ",
        (
            F.expr(
                "z_scaled * 10000L div "
                "shiftleft(1L, cast(n_occ as int) - 1)"
            ) / 10000.0
        ).alias("z_hat"),
        (
            F.expr(
                "p_scaled * 10000L div "
                "shiftleft(1L, cast(n_occ as int) - 1)"
            ) / 10000.0
        ).alias("p_hat"),
        (F.expr("z_scaled * 1000000L div p_scaled") / 1000000.0)
        .alias("demand_rate"),
    ).orderBy("event_type")


_ACF_SQL_BASE = """
    WITH cal AS (
        SELECT unnest(generate_series(DATE '2024-01-01',
                                      DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type,
               ROW_NUMBER() OVER (PARTITION BY t.event_type
                                  ORDER BY cal.day) AS t,
               COALESCE(a.cents, 0) AS y
        FROM types t CROSS JOIN cal
        LEFT JOIN agg a
          ON a.event_type = t.event_type AND a.day = CAST(cal.day AS DATE)
    ),
    lags AS (SELECT unnest([0, 1, 2, 3, 4]) AS k),
    prods AS (
        SELECT a.event_type, l.k,
               CAST(SUM(CAST(a.y AS HUGEINT) * b.y) AS DOUBLE) AS s,
               CAST(SUM(CAST(a.y AS HUGEINT)) AS DOUBLE) AS ah,
               CAST(SUM(CAST(b.y AS HUGEINT)) AS DOUBLE) AS bh
        FROM dense a CROSS JOIN lags l
        JOIN dense b ON b.event_type = a.event_type AND b.t = a.t + l.k
        GROUP BY 1, 2
    ),
    ybar AS (
        SELECT event_type,
               CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) / 30.0 AS yb
        FROM dense GROUP BY event_type
    ),
    cov AS (
        SELECT p.event_type, p.k,
               p.s - y.yb * p.ah - y.yb * p.bh
                   + (30 - p.k) * y.yb * y.yb AS c
        FROM prods p JOIN ybar y USING (event_type)
    ),
    r AS (
        SELECT c.event_type,
               MAX(CASE WHEN c.k = 1 THEN c.c END)
                   / MAX(CASE WHEN c.k = 0 THEN c.c END) AS r1,
               MAX(CASE WHEN c.k = 2 THEN c.c END)
                   / MAX(CASE WHEN c.k = 0 THEN c.c END) AS r2,
               MAX(CASE WHEN c.k = 3 THEN c.c END)
                   / MAX(CASE WHEN c.k = 0 THEN c.c END) AS r3,
               MAX(CASE WHEN c.k = 4 THEN c.c END)
                   / MAX(CASE WHEN c.k = 0 THEN c.c END) AS r4
        FROM cov c GROUP BY c.event_type
    )
"""


def _daily_acf_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type (r1..r4) biased-ACF row over the 30-day zero-filled
    scaffold: exact HUGEINT/decimal lagged-product moments, covariances
    c_k = S_k - yb*A_k - yb*B_k + (n-k)*yb^2 as ONE fixed tree, r_k =
    c_k/c_0. Shared by the PACF and Ljung-Box rungs."""
    e = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "INTERVAL 1 DAY)) AS day"
    )
    types = e.select("event_type").distinct()
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    dense = (
        types.crossJoin(cal)
        .join(agg, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            ).alias("t"),
            F.coalesce("cents", F.lit(0)).alias("y"),
        )
    )
    lags = spark.range(0, 5).select(F.col("id").cast("int").alias("k"))
    a, b = dense.alias("a"), dense.alias("b")
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    prods = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") == F.col("a.t") + F.col("k")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "k")
        .agg(
            F.sum(dec(F.col("a.y")) * dec(F.col("b.y")))
            .cast("double").alias("s"),
            F.sum(dec(F.col("a.y"))).cast("double").alias("ah"),
            F.sum(dec(F.col("b.y"))).cast("double").alias("bh"),
        )
    )
    ybar = dense.groupBy("event_type").agg(
        (F.sum(dec(F.col("y"))).cast("double") / 30.0).alias("yb")
    )
    cov = prods.join(ybar, "event_type").select(
        "event_type",
        "k",
        (
            F.col("s")
            - F.col("yb") * F.col("ah")
            - F.col("yb") * F.col("bh")
            + (30 - F.col("k")) * F.col("yb") * F.col("yb")
        ).alias("c"),
    )
    wide = cov.groupBy("event_type").agg(
        *[
            (
                F.max(F.when(F.col("k") == i, F.col("c")))
                / F.max(F.when(F.col("k") == 0, F.col("c")))
            ).alias(f"r{i}")
            for i in (1, 2, 3, 4)
        ]
    )
    return wide


@query(
    "q_ts_pacf",
    oracle=_ACF_SQL_BASE + """
    SELECT event_type,
           floor(r1 * 1000000.0 + 0.5) / 1000000.0 AS pacf1,
           floor((r2 - r1 * r1) / (1.0 - r1 * r1)
                 * 1000000.0 + 0.5) / 1000000.0 AS pacf2,
           floor((r3 - ((r1 - (r2 - r1 * r1) / (1.0 - r1 * r1) * r1)
                        * r2
                        + (r2 - r1 * r1) / (1.0 - r1 * r1) * r1))
                 / (1.0 - ((r1 - (r2 - r1 * r1) / (1.0 - r1 * r1) * r1)
                           * r1
                           + (r2 - r1 * r1) / (1.0 - r1 * r1) * r2))
                 * 1000000.0 + 0.5) / 1000000.0 AS pacf3
    FROM r
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation (Durbin-Levinson, lags 1-3) — the AR
    order-identification tool the plain ACF can't be (an AR(1)'s ACF
    decays forever; its PACF CUTS OFF after lag 1 — PACF is what you
    read to pick p): each type's daily-cents series on the 30-day
    scaffold, biased ACF r_k from exact lagged-product moments
    (HUGEINT/decimal128 — the acf_lags overflow discipline), then the
    Durbin-Levinson recursion UNROLLED as literal algebra (phi11=r1;
    phi22=(r2-r1^2)/(1-r1^2); phi21=phi11-phi22*phi11; phi33 from
    those — every phi is a closed-form expression in r1..r3, the same
    tree text on both engines, floor-6dp; no iteration, no state).
    Covariances come from ONE lag equi-join (no window, the acf_lags
    shape) and c_k = S_k - yb*A_k - yb*B_k + (n-k)*yb^2 is a single
    fixed tree per lag. Scale: a 5-row lag cross join against the
    5-type daily panel — constant work after the first agg; per-
    segment PACF at 100 TB fans out on the panel key like every
    scaffold rung."""
    wide = _daily_acf_wide(spark, sf_dir)
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p11 = r1
    p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    p21 = p11 - p22 * p11
    p33 = (r3 - (p21 * r2 + p22 * r1)) / (
        1.0 - (p21 * r1 + p22 * r2)
    )
    f6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return wide.select(
        "event_type",
        f6(p11).alias("pacf1"),
        f6(p22).alias("pacf2"),
        f6(p33).alias("pacf3"),
    ).orderBy("event_type")


@query(
    "q_ts_ljung_box",
    oracle=_ACF_SQL_BASE + """
    SELECT event_type,
           CAST(30 AS BIGINT) AS n,
           CAST(4 AS BIGINT) AS n_lags,
           floor(30.0 * 32.0
                 * (r1 * r1 / 29.0 + r2 * r2 / 28.0
                    + r3 * r3 / 27.0 + r4 * r4 / 26.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS q_lb
    FROM r
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau test (lags 1-4) — 'is this series white
    noise AT ALL?', the gate a pipeline runs before fitting anything:
    Q = n(n+2) * sum r_k^2/(n-k), the small-sample-corrected pooling
    of the first K autocorrelations (vs eyeballing K individual
    bands); compared to chi2(K) downstream. Shares the exact-moment
    ACF machinery with q_ts_pacf (same scaffold, same HUGEINT lagged
    products, same one fixed covariance tree) — Q itself is one more
    literal expression over r1..r4, floor-6dp. The PACF picks the AR
    order; Ljung-Box decides whether there is any structure to order
    — together with acf_lags they complete the Box-Jenkins
    identification shelf."""
    wide = _daily_acf_wide(spark, sf_dir)
    q_lb = (
        30.0 * 32.0
        * (
            F.col("r1") * F.col("r1") / 29.0
            + F.col("r2") * F.col("r2") / 28.0
            + F.col("r3") * F.col("r3") / 27.0
            + F.col("r4") * F.col("r4") / 26.0
        )
    )
    return wide.select(
        "event_type",
        F.lit(30).cast("long").alias("n"),
        F.lit(4).cast("long").alias("n_lags"),
        (F.floor(q_lb * 1000000.0 + 0.5) / 1000000.0).alias("q_lb"),
    ).orderBy("event_type")


@query(
    "q_ts_strength",
    oracle="""
    WITH cal AS (
        SELECT unnest(generate_series(DATE '2024-01-01',
                                      DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type,
               ROW_NUMBER() OVER (PARTITION BY t.event_type
                                  ORDER BY cal.day) AS t,
               COALESCE(a.cents, 0) AS y
        FROM types t CROSS JOIN cal
        LEFT JOIN agg a
          ON a.event_type = t.event_type AND a.day = CAST(cal.day AS DATE)
    ),
    ma AS (
        SELECT event_type, t, y,
               CAST(SUM(CAST(y AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY t
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ) AS BIGINT) AS w7,
               CAST(COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY t
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ) AS BIGINT) AS c7
        FROM dense
    ),
    det AS (
        SELECT event_type, t, (t - 1) % 7 AS dow,
               y - w7 / 7.0 AS d
        FROM ma WHERE c7 = 7
    ),
    seas AS (
        SELECT event_type, dow,
               CAST(SUM(CAST(d AS DECIMAL(38, 18))) AS DOUBLE)
                   / COUNT(*) AS s
        FROM det GROUP BY 1, 2
    ),
    rem AS (
        SELECT d.event_type, d.d, d.d - s.s AS e
        FROM det d JOIN seas s
          ON d.event_type = s.event_type AND d.dow = s.dow
    ),
    v AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(e * e AS DECIMAL(38, 18))) AS DOUBLE) AS see,
               CAST(SUM(CAST(e AS DECIMAL(38, 18))) AS DOUBLE) AS se,
               CAST(SUM(CAST(d * d AS DECIMAL(38, 18))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(d AS DECIMAL(38, 18))) AS DOUBLE) AS sd,
               CAST(SUM(CAST((d - e) * (d - e) AS DECIMAL(38, 18)))
                    AS DOUBLE) AS sss,
               CAST(SUM(CAST(d - e AS DECIMAL(38, 18))) AS DOUBLE) AS ss
        FROM rem GROUP BY event_type
    )
    SELECT event_type, n,
           floor(greatest(0.0,
                 1.0 - (see / n - (se / n) * (se / n))
                     / (sdd / n - (sd / n) * (sd / n)))
                 * 1000000.0 + 0.5) / 1000000.0 AS seasonal_strength,
           floor((sss / n - (ss / n) * (ss / n))
                 * 0.0001 + 0.5) / 0.0001
               / 100000000.0 AS seasonal_var_e8
    FROM v
    ORDER BY event_type
    """,
    category="2.J",
)
def q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-STRENGTH score (Hyndman F_s = max(0, 1 -
    var(remainder)/var(detrended)) over a centered 7-day MA
    decomposition) — the MODEL-ROUTING number the forecasting shelf
    needs: F_s near 1 routes a series to the seasonal models
    (holt_winters, seasonal_naive), near 0 to the non-seasonal ones
    (holt_linear, croston) — without it the ladder is a menu with no
    maitre d'. Decomposition: centered MA(7) trend on the interior 24
    scaffold days (the c7=7 guard keeps only full windows — same
    both engines), seasonal = per-dow mean of the detrended values,
    remainder = detrended - seasonal; var(seasonal component) is
    also reported (in 1e8-cents^2 units) so the strength has its
    absolute scale next to it. Exactness: y and the MA window sum
    are exact int64 (w7/7.0 is ONE deterministic division per row),
    every cross-row SUM wraps its deterministic double terms in
    DECIMAL(38,18) (the chi2 order rule), strengths are fixed trees
    floor-6dp. Shape: one bounded window over the 30-row panel + two
    tiny aggs — per-segment strength scoring fans out on the panel
    key at any scale."""
    e = load_table(spark, sf_dir, "events")
    cal = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "INTERVAL 1 DAY)) AS day"
    )
    types = e.select("event_type").distinct()
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    dense = (
        types.crossJoin(cal)
        .join(agg, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            ).alias("t"),
            F.coalesce("cents", F.lit(0)).alias("y"),
        )
    )
    w7w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(-3, 3)
    )
    ma = dense.select(
        "event_type",
        "t",
        "y",
        F.sum("y").over(w7w).cast("long").alias("w7"),
        F.count("*").over(w7w).cast("long").alias("c7"),
    )
    det = ma.where(F.col("c7") == 7).select(
        "event_type",
        ((F.col("t") - 1) % 7).alias("dow"),
        (F.col("y") - F.col("w7") / 7.0).alias("d"),
    )
    dec = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    seas = det.groupBy("event_type", "dow").agg(
        (F.sum(dec(F.col("d"))).cast("double") / F.count("*"))
        .alias("s")
    )
    rem = det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type", "d", (F.col("d") - F.col("s")).alias("e")
    )
    v = rem.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("e") * F.col("e"))).cast("double").alias("see"),
        F.sum(dec(F.col("e"))).cast("double").alias("se"),
        F.sum(dec(F.col("d") * F.col("d"))).cast("double").alias("sdd"),
        F.sum(dec(F.col("d"))).cast("double").alias("sd"),
        F.sum(dec((F.col("d") - F.col("e")) * (F.col("d") - F.col("e"))))
        .cast("double").alias("sss"),
        F.sum(dec(F.col("d") - F.col("e"))).cast("double").alias("ss"),
    )
    n = F.col("n")
    var_e = F.col("see") / n - (F.col("se") / n) * (F.col("se") / n)
    var_d = F.col("sdd") / n - (F.col("sd") / n) * (F.col("sd") / n)
    var_s = F.col("sss") / n - (F.col("ss") / n) * (F.col("ss") / n)
    fs = F.greatest(F.lit(0.0), 1.0 - var_e / var_d)
    return v.select(
        "event_type",
        "n",
        (F.floor(fs * 1000000.0 + 0.5) / 1000000.0)
        .alias("seasonal_strength"),
        (F.floor(var_s * 0.0001 + 0.5) / 0.0001 / 100000000.0)
        .alias("seasonal_var_e8"),
    ).orderBy("event_type")
