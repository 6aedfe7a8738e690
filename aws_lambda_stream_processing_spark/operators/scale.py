"""Scale-technique operators (SURVEY.md §4 / the 100 TB mandate): the three
layout moves a large deployment lives by, each exercised end-to-end with an
exact oracle so the technique is proven not to change answers.

  partitioned writes  — date/key-partitioned layout ⇒ partition pruning at
                        read time (the scan never opens non-matching dirs);
  bucketed joins      — pre-shuffled table layout ⇒ co-located sort-merge
                        join with NO exchange on either side;
  salted joins        — hot-key fan-out ⇒ no single reducer owns a hot key,
                        same join result by construction.

tests/test_plans.py asserts the plan-level facts (PartitionFilters on the
pruned scan; no Exchange above the bucketed scan).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.registry import query
from aws_lambda_stream_processing_spark.session import conf_scope
from aws_lambda_stream_processing_spark.tables import load_table

_SESSION_SINKS: set[str] = set()


def _cleanup_sink_at_exit(path: str) -> None:
    """Defer removal of a per-applicationId sink dir to interpreter exit.

    The dirs (alsp_dpp_sink_*, alsp_corrupt_scan_*) must OUTLIVE their
    query — plan gates and tests re-read the lazy frames built over
    them — so a finally-block rmtree would break the gates. atexit is
    the earliest safe point; without it repeated sessions accumulate
    orphaned partitioned-parquet dirs under /tmp."""
    if not _SESSION_SINKS:
        import atexit

        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _SESSION_SINKS
            ]
        )
    _SESSION_SINKS.add(path)


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY user_id
    """,
    category="2.A",
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet write + partition-pruned read: events
    land partitioned by event_type (at 100 TB: by date, the same code), the
    reader filters two partitions and Spark prunes the rest at PLANNING
    time — the scan's PartitionFilters handle event_type, no data file of
    any other partition is opened."""
    e = load_table(spark, sf_dir, "events")
    # Fixed path + overwrite: the returned DataFrame must stay lazy (the
    # plan gate asserts PartitionFilters on it), so the sink dir can't be
    # removed here — reusing one fixed dir bounds the leak to a single copy
    # instead of one mkdtemp per run. Keyed by applicationId: two Spark
    # PROCESSES sharing one literal path race on overwrite vs _temporary
    # (observed: concurrent pytest + driver_sim sweep → TASK_WRITE_FAILED
    # Mkdirs); per-app dirs keep runs isolated, still one dir per session.
    out = os.path.join(
        tempfile.gettempdir(),
        f"alsp_part_sink_{spark.sparkContext.applicationId}",
    )
    (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        # cluster by the partition column before the partitioned write
        # (§6 small-files; the q_join_dpp measurement): one file per
        # event_type instead of one per (input partition, type)
        .repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(
        F.col("event_type").isin("click", "error")
    )
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )


@query(
    "q_join_bucketed",
    oracle="""
    WITH totals AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, t.total_cents
    FROM events e JOIN totals t USING (user_id)
    WHERE e.event_type = 'purchase'
    """,
    category="2.C",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides are written bucketed+sorted by
    user_id, so the sort-merge join needs NO exchange and NO sort on
    either side — the shuffle was paid once at write time and every future
    join on the key rides it. This is the bucketing play for recurring
    100 TB fact-fact joins; tests assert the exchange-free plan."""
    e = load_table(spark, sf_dir, "events")
    spark.sql("CREATE DATABASE IF NOT EXISTS alsp_bucketed")
    # Fixed table names, NOT uuid-per-run: uuid names accumulated a full
    # fact-table copy in the warehouse on every invocation. The in-memory
    # catalog forgets tables between sessions while their warehouse dirs
    # persist, so before writing we drop the catalog entry AND remove any
    # stale on-disk dir a previous session left behind.
    ev_tbl = "alsp_bucketed.events_b"
    tot_tbl = "alsp_bucketed.totals_b"
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for tbl in (ev_tbl, tot_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(
            os.path.join(warehouse, "alsp_bucketed.db", tbl.split(".")[1]),
            ignore_errors=True,
        )
    ev = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    (
        ev.write.mode("overwrite")
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable(ev_tbl)
    )
    totals = ev.groupBy("user_id").agg(
        F.sum("cents").alias("total_cents")
    )
    (
        totals.write.mode("overwrite")
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable(tot_tbl)
    )
    eb = spark.table(ev_tbl)
    tb = spark.table(tot_tbl)
    # MERGE hint: the planner would rather broadcast the small side at
    # this SF, which bypasses bucketing entirely; at 100 TB both sides are
    # fact-sized and SMJ is what the layout is for
    return (
        eb.where(F.col("event_type") == "purchase")
        .join(tb.hint("merge"), "user_id")
        .select("user_id", "event_id", "total_cents")
    )


_SALT_BUCKETS = 16


@query(
    "q_join_salted",
    oracle="""
    WITH dim(grp, grp_name) AS (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma')),
    keyed AS (SELECT event_id, user_id % 3 AS grp, value FROM events)
    SELECT k.event_id, k.grp, d.grp_name,
           CAST(round(k.value * 100) AS BIGINT) AS cents
    FROM keyed k JOIN dim d USING (grp)
    """,
    category="2.C",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join, result-identical to the plain join: the fact
    side's hot key space (3 groups over the whole table — maximal skew for
    a shuffle join) is fanned out by a 16-way salt, the dim side is
    replicated across all salts, and the join key becomes (grp, salt) so
    no single reducer owns a hot group. Salting is the manual fallback
    when AQE's skew splitting can't apply (e.g. aggregates after the
    join); the result set provably equals the unsalted join."""
    e = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma")], "grp long, grp_name string"
    )
    fact = e.select(
        "event_id",
        (F.col("user_id") % 3).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % _SALT_BUCKETS).alias("salt"),
    )
    dim_salted = dim.withColumn(
        "salt",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(_SALT_BUCKETS - 1).cast("long")
            )
        ),
    )
    # force a shuffle join — broadcasting the 48-row dim would make the
    # salt moot; the demonstration is 3 hot keys fanning out to 48
    return fact.join(dim_salted.hint("shuffle_hash"), ["grp", "salt"]).select(
        "event_id", "grp", "grp_name", "cents"
    )


@query(
    "q_agg_salted_skew",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="2.D",
)
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-level aggregation over a maximally skewed key space
    (5 event types over the whole table), result-identical to the plain
    groupBy — the round-2 audit's stretch ask, demonstrated once and
    plan-gated. Spark's hash aggregate already does map-side partials,
    but partial rows still converge on ONE reducer per key: with 5 keys
    at 100 TB that is 5 fat reduce tasks no matter the partial combine.
    The salt makes the REDUCE side parallel too:

      level 1  groupBy(event_type, salt = event_id % 16): 80 cells,
               each holding ~1/16 of a hot key's rows — count/sum
               partials, plus per-cell DISTINCT user sets as the
               count-distinct partial (user_id is salted consistently,
               so distinct-merging stays exact via a second-level
               distinct-count over (type, user) pairs);
      level 2  groupBy(event_type): merge 16 cells per key — a
               16-row-per-key reduce, never a data-scaled one.

    Exactness: counts and integer cents are associative; COUNT(DISTINCT)
    does NOT salt-merge directly, so it flows through the exact
    (type, user) pair relation — the same shape a plain distinct-count
    plans, kept here to prove the salted path changes no semantics.
    The plan gate asserts BOTH exchanges: hashpartitioning(.., salt)
    then hashpartitioning(event_type)."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            (F.col("event_id") % _SALT_BUCKETS).alias("salt"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("pn"), F.sum("cents").alias("pcents"))
    )
    merged = cells.groupBy("event_type").agg(
        F.sum("pn").alias("n"), F.sum("pcents").alias("cents")
    )
    users = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    return (
        merged.join(users, "event_type")
        .select("event_type", "n", "cents", "n_users")
        .orderBy("event_type")
    )


@query(
    "q_scale_skew_report",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM c
    )
    SELECT c.user_id, c.cnt,
           floor(c.cnt * 100000000.0 / g.total) / 100000000.0 AS share,
           floor(c.cnt * 1000000.0 * g.n_keys / g.total) / 1000000.0
             AS x_avg,
           g.n_keys, g.max_cnt
    FROM c, g
    ORDER BY c.cnt DESC, c.user_id
    LIMIT 10
    """,
    category="2.D",
)
def q_scale_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic — the report you run BEFORE picking a
    partitioning strategy at 100 TB: the 10 heaviest keys of the
    candidate shuffle key with their absolute counts, corpus share, and
    multiple-of-average (x_avg > ~5 on a head key is the signal to salt,
    cf. q_join_salted / q_agg_salted_skew). Scale shape: one map-side-
    combining hash-agg on the key, a 1-row broadcast of the global
    moments, and a global top-10 that runs as TakeOrderedAndProject —
    10 rows per partition cross the wire, never the key histogram.
    Exact integers; the two ratios are single float divisions of exact
    ints, floor-rounded."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    g = c.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
    )
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            "cnt",
            (
                F.floor(F.col("cnt") * 100000000.0 / F.col("total"))
                / 100000000.0
            ).alias("share"),
            (
                F.floor(
                    F.col("cnt") * 1000000.0 * F.col("n_keys")
                    / F.col("total")
                )
                / 1000000.0
            ).alias("x_avg"),
            "n_keys",
            "max_cnt",
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
    )


# q_scale_zorder_layout: 16 bits per dimension, bucket = top 6 bits of
# the 32-bit z-value (64 buckets).
_Z_BITS = 16
_Z_BUCKET_SHIFT = 26

_Z_SQL = " + ".join(
    f"(((user_id >> {k}) & 1) * {1 << (2 * k)}) + "
    f"(((cents >> {k}) & 1) * {1 << (2 * k + 1)})"
    for k in range(_Z_BITS)
)


@query(
    "q_scale_zorder_layout",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    z AS (
      SELECT user_id, cents, ({_Z_SQL}) AS zval FROM e
    )
    SELECT CAST(zval >> {_Z_BUCKET_SHIFT} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(user_id) AS BIGINT) AS min_u,
           CAST(MAX(user_id) AS BIGINT) AS max_u,
           CAST(MIN(cents) AS BIGINT) AS min_c,
           CAST(MAX(cents) AS BIGINT) AS max_c
    FROM z GROUP BY 1
    """,
    category="2.D",
)
def q_scale_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) clustering layout — the multi-column
    data-skipping organization behind Delta/Iceberg OPTIMIZE ZORDER:
    interleave the bits of (user_id, value-cents), bucket rows by the
    top bits of the 32-bit z-value, and report each bucket's row count
    and per-dimension min/max envelope. Tight envelopes on BOTH columns
    are the point: a z-sorted file layout lets scans with a predicate
    on either column skip most buckets (row groups), where a single-
    column sort only skips for that column. The interleave is pure
    int64 bit arithmetic (16 bits/dimension), identical on both
    engines; at 100 TB this expression is the sort/repartition key of
    the layout-rewrite job, and this query is its audit. One hash-agg
    on the 64-value bucket domain — map-side collapsing, no data-scaled
    shuffle."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    z = None
    for k in range(_Z_BITS):
        u_bit = F.shiftright(F.col("user_id"), k).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * k)
        )
        c_bit = F.shiftright(F.col("cents"), k).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * k + 1)
        )
        term = u_bit + c_bit
        z = term if z is None else z + term
    return (
        e.withColumn("zval", z)
        .groupBy(
            F.shiftright(F.col("zval"), _Z_BUCKET_SHIFT)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("user_id").cast("long").alias("min_u"),
            F.max("user_id").cast("long").alias("max_u"),
            F.min("cents").alias("min_c"),
            F.max("cents").alias("max_c"),
        )
    )


@query(
    "q_agg_log2_histogram",
    oracle="""
    WITH e AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    b AS (
      SELECT CASE WHEN cents <= 0 THEN -1
                  ELSE CAST(floor(log2(cents)) AS BIGINT) END AS bucket,
             cents
      FROM e
    )
    SELECT bucket,
           CASE WHEN bucket < 0 THEN 0
                ELSE CAST(2 ** bucket AS BIGINT) END AS lo_cents,
           CASE WHEN bucket < 0 THEN 0
                ELSE CAST(2 ** (bucket + 1) AS BIGINT) - 1 END AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    category="2.D",
)
def q_agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential (HdrHistogram-style) value histogram: power-of-two
    buckets over integer cents — the fixed-memory latency/size
    distribution every metrics pipeline keeps, where linear bins waste
    resolution at the head and lose the tail. The bucket count is
    log2(domain) ≈ 16 regardless of data volume, so the agg collapses
    map-side and the merged state is a constant few rows — the same
    mergeability argument as q_agg_incremental_merge, with zero sketch
    error. floor(log2(n)) is engine-portable for this domain: log2 is
    exact at powers of two on both engines, and away from them the
    distance to the next integer is ≥ 1/(n·ln2) ≈ 2.5e-5 at the 56k max
    — eleven orders above a double's ulp, so a 1-ulp library
    difference cannot flip the floor. Zero-valued rows get a sentinel
    bucket (-1)."""
    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    bucket = F.when(F.col("cents") <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2("cents")).cast("long")
    )
    b = e.select(bucket.alias("bucket"), "cents")
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "bucket",
            F.when(F.col("bucket") < 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket")).cast("long"))
            .cast("long")
            .alias("lo_cents"),
            F.when(F.col("bucket") < 0, F.lit(0))
            .otherwise(
                F.pow(F.lit(2.0), F.col("bucket") + 1).cast("long") - 1
            )
            .cast("long")
            .alias("hi_cents"),
            "n",
            "sum_cents",
        )
        .orderBy("bucket")
    )


@query(
    "q_ts_heatmap_hod_dow",
    oracle="""
    SELECT dayofweek(ts) + 1 AS dow,
           hour(ts) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    GROUP BY 1, 2
    """,
    category="2.D",
)
def q_ts_heatmap_hod_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap — the first seasonal
    picture anyone draws of an event stream (complements q_ts_anova_hod's
    formal test with the full 7×24 grid). Calendar-convention hazard
    pinned by the property gate: Spark dayofweek is 1=Sunday, DuckDB's
    is 0=Sunday, so the oracle adds 1. Bounded 168-cell output — the agg
    collapses map-side, no data-scaled shuffle; exact integer cents."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


# --- AQE skew-join rung (r5 verdict item 6) --------------------------------

_AQE_SKEW_CONFS = {
    # force the sort-merge path: broadcast (static AND AQE's runtime
    # re-check) would absorb the 997-row dim and there'd be no shuffle
    # partition to split
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # thresholds sized so the hot partition (~85% of events on one key:
    # a few KB compressed at sf0.001, ~1 MB at sf0.1) is skewed at
    # EVERY test SF while the 996 cold keys stay far below; at
    # production scale the defaults (256 MB / factor 5) play the same
    # role
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    # keep all reduce partitions so skew detection sees per-partition
    # map-output sizes, not post-coalesce ones
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _skewed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deliberately skewed join: ~85% of events collapse onto key 0
    (user_id % 20 < 17), the rest spread over 996 cold keys; the dim is
    a derived 997-row weight table, merge-hinted so the plan is a
    sort-merge join whose key-0 reduce partition dwarfs the median."""
    e = load_table(spark, sf_dir, "events")
    # 16 upstream map tasks: AQE splits a skewed reduce partition along
    # MAP-OUTPUT boundaries, so a single-mapper stage (one small parquet
    # file at test SFs) is unsplittable no matter how skewed — the
    # repartition models the thousands-of-mappers reality of a real
    # scan and caps the split fan-out at 16.
    fact = e.repartition(16).select(
        F.when(F.col("user_id") % 20 < 17, F.lit(0))
        .otherwise(F.col("user_id") % 997)
        .alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = spark.range(997).select(
        F.col("id").alias("k"), (F.col("id") % 50 + 1).alias("w")
    )
    return (
        fact.join(dim.hint("merge"), "k")
        .groupBy((F.col("k") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents") * F.col("w")).alias("weighted_cents"),
        )
        .orderBy("bucket")
    )


@query(
    "q_join_skew_aqe",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN user_id % 20 < 17 THEN 0 ELSE user_id % 997 END AS k,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    dim AS (SELECT range AS k, range % 50 + 1 AS w FROM range(997))
    SELECT k % 10 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents * w) AS BIGINT) AS weighted_cents
    FROM fact JOIN dim USING (k)
    GROUP BY 1 ORDER BY 1
    """,
    category="2.C",
)
def q_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native skew handling — the third rung of the skew ladder
    after diagnosis (q_scale_skew_report) and manual salting
    (q_join_salted / q_agg_salted_skew): the same hot-key join, handed
    to AQE's OptimizeSkewedJoin instead of a hand-rolled salt. Under
    `spark.sql.adaptive.skewJoin.enabled`, the runtime re-planner sees
    the key-0 reduce partition exceed the skew threshold, SPLITS it
    into advisory-sized sub-partitions, and replicates the matching dim
    partition — the executed sort-merge join carries `skew=true` on the
    hot side (plan-gated, non-vacuously, in tests/test_plans.py:
    present under this conf ladder, absent without it).

    The join runs EAGERLY inside the conf context (restored before
    returning, so the driver's session is untouched) because skew
    splitting exists only in the executed adaptive plan; the returned
    frame is the materialized 10-row per-bucket aggregate,
    result-identical to the plain join by exact integer oracle. Salting
    remains the fallback where AQE can't apply (aggregation reusing the
    join partitioning); where it can, the engine-native path wins: no
    key-space fan-out, no dim replication factor to tune, thresholds
    instead of guesses. At 100 TB this is the default posture — AQE on,
    skew thresholds at defaults — and the manual ladder is the escape
    hatch."""
    with conf_scope(spark, _AQE_SKEW_CONFS):
        df = _skewed_join_frame(spark, sf_dir)
        rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


@query(
    "q_scale_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT l_returnflag AS part_key,
             CAST(date_trunc('month', l_shipdate) AS DATE) AS file_id,
             CAST(COUNT(*) * 128 AS BIGINT) AS bytes
      FROM lineitem
      GROUP BY 1, 2
    ),
    planned AS (
      SELECT part_key, file_id, bytes,
             CAST(FLOOR(
               (SUM(bytes) OVER (
                  PARTITION BY part_key ORDER BY file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - bytes) / 4194304.0) AS BIGINT) AS target_file
      FROM files
    )
    SELECT part_key, target_file,
           CAST(COUNT(*) AS BIGINT) AS n_inputs,
           CAST(SUM(bytes) AS BIGINT) AS out_bytes
    FROM planned
    GROUP BY part_key, target_file
    ORDER BY part_key, target_file
    """,
    category="2.D",
)
def q_scale_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the maintenance op every 100 TB
    lake needs: given a file inventory (here derived deterministically
    from lineitem: one 'file' per (returnflag, ship-month), sized
    128 B/row), assign input files to ~4 MiB output files by
    first-fit-in-order bin packing: target = floor(cumulative_bytes_
    BEFORE_this_file / target_size) within each table partition,
    ordered by file id. The cumsum formulation makes greedy packing a
    single window expression — no iterative allocator, no driver loop —
    which is what lets the planner itself scale: planning 100 M files
    is one window over the (partition, file) inventory, shuffled by
    partition key only. Exact integer bytes end to end. Output: one
    row per planned output file with its input count and final size —
    exactly the manifest a rewrite job consumes. Spark-side: inventory
    agg (one shuffle) |> running-sum window reusing the SAME partition
    key (no second exchange) |> final hash-agg."""
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.col("l_returnflag").alias("part_key"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("file_id"),
    ).agg((F.count("*") * 128).alias("bytes"))
    w = (
        Window.partitionBy("part_key")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.withColumn(
        "target_file",
        F.floor(
            (F.sum("bytes").over(w) - F.col("bytes")) / F.lit(4194304.0)
        ),
    )
    return (
        planned.groupBy("part_key", "target_file")
        .agg(
            F.count("*").alias("n_inputs"),
            F.sum("bytes").alias("out_bytes"),
        )
        .orderBy("part_key", "target_file")
    )


@query(
    "q_join_dpp",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CASE WHEN date_part('isodow', CAST(ts AS DATE)) = 6 THEN 7
                  WHEN date_part('isodow', CAST(ts AS DATE)) = 7 THEN 1
             END AS dow
      FROM events
      WHERE date_part('isodow', CAST(ts AS DATE)) IN (6, 7)
    )
    SELECT d.dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.day
    GROUP BY d.dow
    ORDER BY d.dow
    """,
    category="2.C",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime sibling of static
    partition pruning (q_sink_partitioned) and THE star-join scale
    feature: the fact lands partitioned by day, the dim is the weekend
    calendar (unknowable at planning time — it comes from data), and
    Spark injects a dynamicpruningexpression into the fact scan's
    PartitionFilters so only the ~2/7 of partitions matching the
    broadcast dim's keys are ever READ. The plan gate asserts the
    pruning subquery non-vacuously. At 100 TB this is the difference
    between scanning a month and scanning the two weekend-days the dim
    selects — the fact I/O scales with the dim's selectivity, not the
    table. Weekend sets are identical on both engines (Spark dayofweek
    1/7 = DuckDB isodow 7/6, mapped explicitly); exact integer cents.
    The sink dir is fixed per applicationId (the q_sink_partitioned
    isolation note) and the returned frame stays LAZY so the gate sees
    the pruned scan."""
    e = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        f"alsp_dpp_sink_{spark.sparkContext.applicationId}",
    )
    _cleanup_sink_at_exit(out)
    (
        e.select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.col("ts").cast("date").alias("day"),
        )
        # cluster by the partition column before the partitioned write
        # (§6 small-files): each writer task otherwise opens one file
        # per day it holds — 32 input partitions x 30 days ≈ 1.9k tiny
        # files (measured 13.7 s vs 1.3 s clustered, sf0.1). Same rows,
        # same layout, ~one file per day.
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    dim = (
        e.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .withColumn("dow", F.dayofweek("day"))
        .where(F.col("dow").isin(1, 7))
    )
    return (
        fact.join(F.broadcast(dim), "day")
        .groupBy("dow")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .orderBy("dow")
    )


# Knuth multiplicative constant. doc_id * _HRW_A overflows int64 once
# doc_id exceeds ~3.5e9 — non-ANSI Spark would wrap silently while DuckDB
# raises, so BOTH engines compute the product in 128-bit (DECIMAL(38,0) /
# HUGEINT, the bigram-PMI guard pattern) and only the bounded %-residue
# (< 2^31) comes back down to int64.
_HRW_A = 2654435761
_HRW_B = 40503
_HRW_M = 2147483647


def _hrw_key(n_shards: int) -> str:
    """Portable max-of-(h*16+s) rendezvous key over s in [0, n)."""
    h = (
        f"CAST((CAST(doc_id AS HUGEINT) * {_HRW_A} + s * {_HRW_B})"
        f" % {_HRW_M} AS BIGINT)"
    )
    return (
        f"list_max(list_transform(generate_series(0, {n_shards - 1}), "
        f"s -> {h} * 16 + s))"
    )


@query(
    "q_scale_rendezvous_shard",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             {_hrw_key(8)} % 16 AS shard8,
             {_hrw_key(9)} % 16 AS shard9
      FROM documents
    )
    SELECT shard8,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM assigned
    GROUP BY shard8
    ORDER BY shard8
    """,
    category="2.D",
)
def q_scale_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — stable shard
    assignment under resharding: each doc goes to argmax_s h(doc, s),
    so growing 8 → 9 shards moves ONLY the docs the new shard wins
    (~1/9 of them), never a wholesale rehash (the mod-N pitfall where
    adding one shard moves 8/9 of the corpus). The argmax is computed
    portably as max over the packed key h·16 + s (lexicographic
    (h, s) with the id tiebreak embedded — no struct-comparison
    semantics to trust), with h a Knuth multiplicative hash whose
    product runs in 128-bit on BOTH engines (DECIMAL(38,0) here,
    HUGEINT in the oracle) so doc_id is unbounded — int64 would wrap
    on Spark but raise on DuckDB past doc_id ≈ 3.5e9, the same
    engine-divergence class the bigram-PMI guard closed. Only the
    %-residue (< 2^31) returns to int64. Output: per-shard doc
    counts under 8 shards and how many of each shard's docs the 9th
    shard steals — the minimal-movement property, measured. Shuffle-
    free per-row math + one hash agg; the shard count is a constant,
    so the transform costs one bounded array per row at any corpus
    size."""
    d = load_table(spark, sf_dir, "documents")
    h128 = (
        f"CAST((CAST(doc_id AS DECIMAL(38,0)) * {_HRW_A} + s * {_HRW_B})"
        f" % {_HRW_M} AS BIGINT)"
    )
    k8 = F.expr(
        f"array_max(transform(sequence(0, 7), s -> {h128} * 16 + s))"
    )
    k9 = F.expr(
        f"array_max(transform(sequence(0, 8), s -> {h128} * 16 + s))"
    )
    assigned = d.select(
        (k8 % 16).alias("shard8"), (k9 % 16).alias("shard9")
    )
    return (
        assigned.groupBy("shard8")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("shard8") != F.col("shard9")).cast("bigint")
            ).alias("n_moved"),
        )
        .orderBy("shard8")
    )


_AQE_COALESCE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # the oversized pre-shuffle partition count AQE is expected to repair
    "spark.sql.shuffle.partitions": "200",
}


@query(
    "q_scale_aqe_coalesce",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(MAX(n) AS BIGINT) AS max_user_events
    FROM per_user
    """,
    category="2.D",
)
def q_scale_aqe_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE partition coalescing — the other half of the adaptive story
    next to q_join_skew_aqe: a per-user aggregate deliberately planned
    with 200 shuffle partitions (the classic oversized static default)
    runs under adaptive.coalescePartitions, and the runtime re-planner
    merges the undersized post-shuffle partitions into a few
    advisory-sized reads — the executed plan carries an AQEShuffleRead
    with `coalesced` (plan-gated non-vacuously: present under the conf
    ladder, absent with coalescing disabled). This is the 100 TB
    posture in miniature: pick shuffle.partitions for the biggest
    stage and let AQE shrink every smaller one, instead of hand-tuning
    per query. Runs EAGERLY inside the restored conf context
    (q_join_skew_aqe discipline); exact integer result, identical to
    the static plan's."""
    with conf_scope(spark, _AQE_COALESCE_CONFS):
        per_user = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("bigint")
                ).alias("cents"),
            )
        )
        df = per_user.agg(
            F.count("*").alias("n_users"),
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("cents"),
            F.max("n").alias("max_user_events"),
        )
        rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


@query(
    "q_scale_hll_partitioned",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_within_3pct
    FROM events
    GROUP BY event_type
    """,
    category="2.D",
)
def q_scale_hll_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise HLL sketch merge (Spark 4 Datasketches HLL) — the
    re-aggregatable-rollup posture that makes 100 TB distinct counts
    incremental: each (event_type, shard) group builds its own
    hll_sketch_agg(user_id) — in production these are the per-partition
    / per-day sketches a materialized rollup stores — and the final
    distinct-per-type is hll_union_agg over the 8 shard sketches, never
    a re-scan of raw data. HLL register updates are max() operations,
    so the sketch is insertion-order- and partitioning-invariant: the
    estimate is DETERMINISTIC for fixed data and lgConfigK, which is
    what lets the oracle pin `est_within_3pct` as a literal TRUE next
    to the exact count (the q_llm_ann_recall evaluation-rung pattern:
    the approximate path is judged against exact truth inside the
    query, and the verdict itself is hashed). Standard error at
    lgConfigK=12 is ~1.6%, so the 3% gate holds with margin at every
    test SF."""
    e = load_table(spark, sf_dir, "events")
    shard_sketches = (
        e.select(
            "event_type", "user_id",
            (F.col("user_id") % 8).alias("shard"),
        )
        .groupBy("event_type", "shard")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    merged = shard_sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(F.broadcast(merged), "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                / F.col("exact_users")
                < 0.03
            ).alias("est_within_3pct"),
        )
    )


# Static broadcast OFF, runtime (AQE) broadcast ON: the planner must pick
# sort-merge from static estimates, then convert to broadcast-hash after
# the map stage reveals the dim's true shuffle size. localShuffleReader
# turns the already-mapped fact side into mapper-local reads so the
# conversion also deletes the fact-side network shuffle.
_AQE_RUNTIME_BHJ_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "10m",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
}


def _runtime_bhj_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        e.join(c, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_scale_aqe_runtime_broadcast",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    category="2.D",
)
def q_scale_aqe_runtime_broadcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AQE runtime join-strategy conversion — the third adaptive rung
    beside skew splitting (q_join_skew_aqe) and partition coalescing
    (q_scale_aqe_coalesce): with STATIC broadcast disabled (the
    estimate-unavailable posture — think a filtered subquery or a JDBC
    source whose stats the planner can't see), the initial plan is a
    sort-merge join; after the dim's map stage runs, AQE reads the TRUE
    shuffle size, converts the join to broadcast-hash, and the
    localShuffleReader replaces the fact side's network shuffle with
    mapper-local reads. Runtime statistics beating static estimates is
    the core AQE bet, and this rung pins it in both directions
    (tests/test_plans.py: BroadcastHashJoin in the executed adaptive
    plan under the ladder, SortMergeJoin with runtime conversion also
    disabled — results identical). Runs EAGERLY inside the restored
    conf context (q_join_skew_aqe discipline). At 100 TB this is why
    you leave AQE on instead of hand-placing broadcast() on every
    filtered dim: the 10 MB runtime check is made against reality, not
    against a cardinality guess that degrades with every stacked
    filter."""
    with conf_scope(spark, _AQE_RUNTIME_BHJ_CONFS):
        df = _runtime_bhj_frame(spark, sf_dir)
        rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


@query(
    "q_agg_approx_top_k",
    oracle="""
    -- dayofweek: Spark is 1=Sunday..7, DuckDB 0=Sunday..6 — shift +1
    SELECT event_type || '|' || CAST(dayofweek(ts) + 1 AS VARCHAR) AS item,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS est_exact
    FROM events
    GROUP BY 1
    ORDER BY n DESC, item
    """,
    category="2.D",
)
def q_agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches frequent-items heavy hitters (Spark 4
    `approx_top_k`) run in its EXACT regime: maxItemsTracked (100) is
    sized above the item cardinality (35 (type, dow) composites), so
    the sketch never evicts, every returned count is exact, and the
    result is insertion-order-invariant — which is what lets the
    verdict be hashed (the q_scale_hll_partitioned evaluation-rung
    pattern: the approximate operator judged in-query against exact
    truth, here per item via a broadcast join). Below capacity this IS
    the exact answer computed in one pass with bounded memory; above
    capacity the same call degrades gracefully to guaranteed-error
    heavy hitters — the knob a 100 TB top-k dashboard turns, keeping
    one code path for both regimes. Ranking ties are broken by item in
    BOTH engines before comparison, so equal counts can never reorder
    the hash."""
    e = load_table(spark, sf_dir, "events")
    e.select(
        F.concat(
            F.col("event_type"), F.lit("|"),
            F.dayofweek("ts").cast("string"),
        ).alias("item")
    ).createOrReplaceTempView("atk_items")
    est = spark.sql(
        """
        SELECT t.entry.item AS item, t.entry.count AS est
        FROM (SELECT approx_top_k(item, 40, 100) AS tk FROM atk_items) s
        LATERAL VIEW explode(s.tk) t AS entry
        """
    )
    exact = (
        spark.table("atk_items")
        .groupBy("item")
        .agg(F.count("*").alias("n"))
    )
    return (
        exact.join(F.broadcast(est), "item")
        .select(
            "item", "n", (F.col("est") == F.col("n")).alias("est_exact")
        )
        .orderBy(F.desc("n"), "item")
    )


# Runtime bloom-filter semi-join reduction. The scan-size gate defaults
# to 10 GB — sized for real tables, far above any test SF — so the
# ladder zeroes it; production keeps the default and the 10 MB creation
# cap so filters are only built from genuinely selective build sides.
# Broadcast stays off: the bloom filter targets SHUFFLE joins (a
# broadcast join already prunes at the probe).
_RUNTIME_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter"
    ".applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _runtime_bloom_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 500000.0)
        .select(F.col("o_custkey").alias("user_id"), "o_orderkey")
    )
    return (
        e.join(o, "user_id")
        .groupBy("user_id")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count("*").alias("n_pairs"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("user_id")
    )


@query(
    "q_scale_runtime_bloom_filter",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events) e
    JOIN (SELECT o_custkey AS user_id, o_orderkey
          FROM orders WHERE o_totalprice > 500000.0) o
    USING (user_id)
    GROUP BY user_id ORDER BY user_id
    """,
    category="2.D",
)
def q_scale_runtime_bloom_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Runtime bloom-filter semi-join reduction — the optimizer-injected
    row-level runtime filter (Spark's InjectRuntimeFilter): the
    selective orders side builds a bloom_filter_agg over its join keys
    and the events scan is pre-filtered with might_contain BEFORE its
    shuffle, so fact rows that cannot join never cross the wire. This
    is the fourth runtime-adaptivity rung (after AQE skew / coalesce /
    broadcast-conversion) and the one that attacks SHUFFLE VOLUME
    rather than partitioning: at 100 TB a 1%-selective dim filter means
    ~99% of the fact shuffle evaporates for the cost of one ~8 MB
    bloom broadcast. The ladder zeroes the application-side scan-size
    gate (defaults to 10 GB, far above any test SF — production keeps
    it so small scans skip the overhead); results are
    filter-transparent by construction (bloom false positives only
    pass extra rows INTO the exact join), pinned by the exact oracle,
    and the injection is plan-gated in both directions
    (tests/test_plans.py)."""
    with conf_scope(spark, _RUNTIME_BLOOM_CONFS):
        df = _runtime_bloom_frame(spark, sf_dir)
        rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


@query(
    "q_scale_cbo_stats",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           CAST(MIN(o_custkey) AS BIGINT) AS min_v,
           CAST(MAX(o_custkey) AS BIGINT) AS max_v,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulls,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(MIN(o_orderkey) AS BIGINT),
           CAST(MAX(o_orderkey) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    ORDER BY col_name
    """,
    category="2.F",
)
def q_scale_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics layer the cost-based optimizer feeds on, certified
    for EXACTNESS: the orders fact is registered as an external parquet
    catalog table, `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` runs
    the distributed stats job, and the rung's RESULT is the catalog's
    recorded per-column min / max / null-count + table row count, read
    back via DESCRIBE EXTENDED and compared against the oracle's direct
    aggregation of the same parquet. That is the trust chain for every
    CBO decision (join reordering, broadcast selection, filter
    selectivity): stats that drive plans must equal the data, and this
    pins the exact fields (distinct_count is HLL-approximate by design
    and deliberately NOT compared). Scale: ANALYZE is itself a
    distributed one-pass agg (min/max/null partials per partition); the
    catalog keeps O(columns) bytes per table — the 100 TB pattern is
    nightly ANALYZE on hot facts so Catalyst plans from yesterday's
    truth instead of rowcount guesses. Catalog object is per-run-unique
    and dropped in a finally block (idempotent under re-run)."""
    out = tempfile.mkdtemp(prefix="alsp_cbo_")
    tbl = "alsp_cbo_orders"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    o.write.mode("overwrite").parquet(out)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        spark.sql(f"CREATE TABLE {tbl} USING PARQUET LOCATION '{out}'")
        spark.sql(
            f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
            "FOR COLUMNS o_orderkey, o_custkey"
        )
        n_rows = None
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect():
            if r["col_name"] == "Statistics":
                # "N bytes, M rows"
                n_rows = int(r["data_type"].split(",")[1].split()[0])
        rows = []
        for col in ("o_custkey", "o_orderkey"):
            info = {
                r["info_name"]: r["info_value"]
                for r in spark.sql(
                    f"DESCRIBE TABLE EXTENDED {tbl} {col}"
                ).collect()
            }
            rows.append(
                (col, int(info["min"]), int(info["max"]),
                 int(info["num_nulls"]), n_rows)
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "col_name string, min_v bigint, max_v bigint, "
        "n_nulls bigint, n_rows bigint",
    ).orderBy("col_name")


@query(
    "q_scale_manifest_pruning",
    oracle="""
    WITH yrs AS (
        SELECT DISTINCT CAST(year(l_shipdate) AS BIGINT) AS y FROM lineitem
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs) AS n_files_total,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs WHERE y >= 1997)
               AS n_files_read,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    """,
    category="2.F",
)
def q_scale_manifest_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-LEVEL manifest pruning — the Iceberg/Delta mechanism, built
    from parts: lineitem lands as one file per ship-year (repartition
    by the derived column so each partition value is exactly one
    writer task → exactly one file), a MANIFEST of per-file
    min/max(l_shipdate) is read from the parquet FOOTERS (pyarrow,
    metadata-only — zero data pages touched), and the 1997+ query plans
    its scan from the manifest: only files whose max reaches the cutoff
    are passed to the reader at all. The oracle recomputes the file
    arithmetic from year cardinalities plus the aggregate over the
    surviving rows — matching n_files_read proves the skip decision
    exact, matching the aggregate proves the skipped files contained
    nothing relevant (pruning is conservative: the in-query filter
    still runs). Scale: THIS is the difference between 'scan 100 TB,
    filter to 2 TB' and 'open 2 TB': footer stats are O(files) bytes,
    the manifest build distributes trivially (it IS a metadata table),
    and sort-on-write (here: cluster-by-year) is what makes min/max
    ranges tight enough to skip — random layout gives every file the
    full value range and zero skips, which is also why Z-order
    (q_scale_zorder_layout) exists for multi-column predicates."""
    import pyarrow.parquet as papq

    out = tempfile.mkdtemp(prefix="alsp_manifest_") + "/t"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_shipdate",
        F.year("l_shipdate").alias("ship_year"),
    )
    # Spark's default parquet timestamp encoding is INT96, which carries
    # NO min/max statistics — the manifest would see None and could never
    # skip. TIMESTAMP_MICROS is the stats-bearing (and modern-reader)
    # encoding; at 100 TB this conf is table-format policy, not a tweak.
    with conf_scope(
        spark,
        {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"},
    ):
        li.repartition("ship_year").write.mode("overwrite").partitionBy(
            "ship_year"
        ).parquet(out)
    try:
        manifest = []  # (path, max_shipdate) — the skip-relevant stat
        for root, _dirs, files in os.walk(out):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(root, fn)
                md = papq.read_metadata(path)
                idx = md.schema.names.index("l_shipdate")
                mx = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                manifest.append((path, mx))
        import datetime

        cutoff = datetime.datetime(1997, 1, 1, tzinfo=datetime.timezone.utc)

        def aware(t):  # footer stats may come back naive or UTC-aware
            return t if t.tzinfo else t.replace(tzinfo=datetime.timezone.utc)

        keep = [p for p, mx in manifest if aware(mx) >= cutoff]
        result = (
            spark.read.option("basePath", out)
            .parquet(*keep)
            .where(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint").alias("sum_qty"),
            )
            .select(
                F.lit(len(manifest)).cast("bigint").alias("n_files_total"),
                F.lit(len(keep)).cast("bigint").alias("n_files_read"),
                "n_rows", "sum_qty",
            )
        )
        rows = result.collect()
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


@query(
    "q_scale_cache_table",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE value > 100.0
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.F",
)
def q_scale_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL caching surface (`CACHE TABLE` / `UNCACHE TABLE`) — the
    user-facing spelling of the columnar in-memory layer every
    interactive 100 TB workload leans on: an eager CACHE TABLE over the
    filtered projection materializes Spark's compressed columnar
    InMemoryRelation ONCE; the report aggregate then reads
    InMemoryTableScan batches instead of re-scanning parquet (plan-
    gated in tests/test_plans.py, including catalog.isCached
    transitions). Caching is semantically transparent — the oracle is
    the plain aggregate and the result is collected WHILE cached, so
    the match certifies the cached read path byte-for-byte. UNCACHE in
    a finally block: the engine never leaks storage into the driver's
    session (same discipline as the cache janitor). Scale notes: cache
    AFTER filter/projection (cache what you'll re-read, not the raw
    fact), and treat MEMORY_AND_DISK as the default posture — an
    evicted block silently recomputes, which is correctness-neutral
    but latency-fatal if the upstream was expensive."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "ct_events"
    )
    spark.sql("DROP VIEW IF EXISTS ct_hot")
    spark.sql(
        """
        CACHE TABLE ct_hot AS
        SELECT event_type, value FROM ct_events WHERE value > 100.0
        """
    )
    try:
        result = spark.sql(
            """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM ct_hot
            GROUP BY event_type
            ORDER BY event_type
            """
        )
        rows = result.collect()
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS ct_hot")
        spark.sql("DROP VIEW IF EXISTS ct_hot")
    return spark.createDataFrame(rows, result.schema)


@query(
    "q_scale_exchange_reuse",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        GROUP BY 1
    ),
    peak AS (SELECT CAST(MAX(cents) AS BIGINT) AS peak_cents FROM daily)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           d.cents,
           CAST(d.cents * 1000000 // p.peak_cents AS BIGINT) AS share_ppm
    FROM daily d CROSS JOIN peak p
    ORDER BY 1
    """,
    category="2.F",
)
def q_scale_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCHANGE REUSE — the Catalyst dedup that makes self-referential
    analytics affordable: share-of-peak-day needs the daily aggregate
    TWICE (the report rows, and the max over them), and instead of
    scanning + shuffling + aggregating events twice the planner
    materializes the aggregate's shuffle ONCE and wires the second
    branch to a ReusedExchange node (plan-gated in tests/test_plans.py
    on the EXECUTED adaptive plan, with a negative control). Reuse
    keys on CANONICAL SUBTREE EQUALITY, which is fragile in a
    measured way: a self-join whose b-branch PROJECTS a shifted key
    (day+1) gets isnotnull(date_add(day,1)) pushed into it —
    unsimplified, unlike the in-condition shift, which folds back to
    isnotnull(day) — so the branches' canonical forms diverge and
    reuse silently dies (the first draft measured exactly that: 4
    exchanges, 0 reused); a global-aggregate second branch like this
    one keeps the subtrees identical. Share is exact integer parts-per-million
    (floor division) — no float in the result. At 100 TB this is one
    pass over the fact instead of two for every share-of-total /
    vs-peak / vs-cohort-all report."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents")
    )
    peak = daily.agg(F.max("cents").cast("bigint").alias("peak_cents"))
    return (
        daily.crossJoin(F.broadcast(peak))
        .select(
            # DATE output canonicalizes engine-differently; TIMESTAMP
            # on both sides (the q_events_sequence_match discipline)
            F.col("day").cast("timestamp").alias("day"),
            "cents",
            # integer `div`, not double /: a correctly-rounded float
            # quotient 1 ulp under an integer would truncate differently
            # than the oracle's floor division
            F.expr("cents * 1000000L div peak_cents")
            .cast("bigint").alias("share_ppm"),
        )
        .orderBy("day")
    )


_RB_K = 32  # target partition count for the boundary plan


@query(
    "q_scale_range_boundaries",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM cents),
    grid AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(COUNT(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      FROM cents GROUP BY v
    ),
    targets AS (
      SELECT i, (i * n.n_rows + {_RB_K} - 1) // {_RB_K} AS t
      FROM range(1, {_RB_K}) r(i), n
    ),
    bounds AS (
      SELECT t.i, MIN(g.v) AS b FROM targets t JOIN grid g ON g.cum >= t.t
      GROUP BY t.i
    ),
    bucketed AS (
      SELECT g.v, g.cnt,
             1 + CAST(COALESCE(SUM(CASE WHEN b.b < g.v THEN 1 END), 0)
                      AS INTEGER) AS bucket
      FROM grid g LEFT JOIN bounds b ON b.b < g.v
      GROUP BY g.v, g.cnt
    )
    SELECT bucket, CAST(MIN(v) AS BIGINT) AS lo_cents,
           CAST(MAX(v) AS BIGINT) AS hi_cents,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST((2 * SUM(cnt) * {_RB_K} * 1000000 + n.n_rows)
                // (2 * n.n_rows) AS BIGINT) AS balance6
    FROM bucketed, n
    GROUP BY bucket, n.n_rows
    ORDER BY bucket
    """,
    category="2.F",
)
def q_scale_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition boundary PLANNING — the job a 100 TB
    engine runs before a repartitionByRange/sort-on-write: pick K-1
    split points so every downstream range partition holds ~N/K rows,
    then certify the achieved balance per bucket (balance6 = bucket
    share × K at 6dp fixed point; 1,000,000 = perfectly level). Spark's
    own RangePartitioner does this by SAMPLING; this rung computes the
    EXACT boundaries, which is what you persist as table metadata when
    the layout must be reproducible (sort keys for compaction, Z-order
    tiles, shard manifests).

    Scale shape: the corpus-sized relation is touched ONCE, by the
    grid hash-agg onto DISTINCT price cents — everything after runs on
    the value-domain grid (bounded by the cents domain, the q_agg_ks_test
    argument), where the cumulative count comes from the dprefix
    two-phase cumsum (no partition-less window over anything
    data-scaled), boundary selection is a broadcast join of the K-row
    target-rank table against the grid, and bucket assignment folds the
    grid's counts — the raw rows are never rescanned. Ties are
    well-defined: b_i = MIN v with cum ≥ ⌈i·N/K⌉ and rows equal to a
    boundary close the LOWER bucket, identically in both engines."""
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_cumsum,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    grid = cents.groupBy("v").agg(F.count("*").cast("long").alias("cnt"))
    grid = two_phase_cumsum(
        grid, [("v", True)], "cnt", out="cum", total="n_total"
    )
    from aws_lambda_stream_processing_spark.registry import (
        tracked_local_checkpoint,
    )

    grid = tracked_local_checkpoint(grid)
    targets = spark.range(1, _RB_K).select(
        F.col("id").cast("long").alias("i")
    )
    bounds = (
        grid.crossJoin(F.broadcast(targets))
        .where(
            F.col("cum")
            >= F.expr(f"(i * n_total + {_RB_K - 1}) DIV {_RB_K}")
        )
        .groupBy("i")
        .agg(F.min("v").alias("b"))
    )
    bucketed = (
        grid.join(F.broadcast(bounds), F.col("b") < F.col("v"), "left")
        .groupBy("v", "cnt", "n_total")
        .agg(
            (1 + F.coalesce(F.count("b"), F.lit(0))).cast("int").alias(
                "bucket"
            )
        )
    )
    return (
        bucketed.groupBy("bucket", "n_total")
        .agg(
            F.min("v").cast("long").alias("lo_cents"),
            F.max("v").cast("long").alias("hi_cents"),
            F.sum("cnt").cast("long").alias("n_rows"),
        )
        .select(
            "bucket", "lo_cents", "hi_cents", "n_rows",
            F.expr(
                f"CAST((2 * n_rows * {_RB_K} * 1000000 + n_total) "
                "DIV (2 * n_total) AS BIGINT)"
            ).alias("balance6"),
        )
        .orderBy("bucket")
    )
