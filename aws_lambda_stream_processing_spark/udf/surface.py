"""User-defined function surface (SURVEY.md §2.K): scalar Python UDF,
vectorized pandas UDF, grouped-agg pandas UDAF, grouped-map applyInPandas,
and a Python UDTF.

Performance posture: everything here is deliberately OFF the relational hot
path — the §2.A-2.H inventory uses JVM built-ins only. These queries exist
to prove the extension surface works and is Arrow-vectorized. The ladder:
row-at-a-time @udf (1×, serialization-bound) < @pandas_udf (Arrow batches,
~10-100×) < JVM built-ins. When a custom kernel is needed at 100 TB it goes
through the pandas/Arrow forms below, never the row form.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf

from aws_lambda_stream_processing_spark.registry import query
from aws_lambda_stream_processing_spark.session import pin_width
from aws_lambda_stream_processing_spark.tables import load_table


# NOTE: udf/pandas_udf decorators parse their DDL return type eagerly and
# need an active SparkSession — so every UDF below is defined inside its
# query builder, not at module import time.


@query(
    "q_udf_python",
    oracle="""
    SELECT doc_id,
           replace(lower(trim(text)), 'slow', 'slow_') AS norm
    FROM documents
    """,
    category="2.K",
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF: whitespace-collapse + lowercase + token marker.
    The corpus is already single-spaced so the oracle's replace/lower/trim
    composition is equivalent; the point is the UDF plumbing, verified
    exactly."""

    @udf("string")
    def normalize_text(s: str) -> str:
        # row-at-a-time Python UDF — the slow rung, off hot paths by policy
        if s is None:
            return None
        return " ".join(s.strip().lower().split()).replace("slow", "slow_")

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", normalize_text("text").alias("norm"))


@query(
    "q_udf_pandas_scalar",
    oracle="""
    SELECT event_id, ROUND(ln(1 + LEAST(value, 100.0)), 4) AS log_value
    FROM events
    """,
    category="2.K",
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched): clipped log1p of event value —
    one Arrow batch per call, numpy math, no per-row Python."""

    @pandas_udf("double")
    def clipped_log1p(v: pd.Series) -> pd.Series:
        return (v.clip(upper=100.0) + 1.0).map(math.log)

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id", F.round(clipped_log1p("value"), 4).alias("log_value")
    )


@query(
    "q_udaf_pandas",
    oracle="""
    SELECT user_id,
           ROUND(SUM(CAST(round(value * 100) AS BIGINT)
                     * (event_id % 10 + 1)) * 1.0
                 / (100.0 * SUM(event_id % 10 + 1)), 4) AS wmean
    FROM events GROUP BY user_id
    """,
    category="2.K",
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: weighted mean of value per user with
    deterministic weights (event_id % 10 + 1). `value` is 2-decimal, so
    both sides accumulate exact integer cents (order-independent — a raw
    double Σvw differs between engines by summation order and can flip a
    round-half boundary) and divide once at the end."""

    @pandas_udf("double")
    def weighted_mean(v: pd.Series, w: pd.Series) -> float:
        # grouped-agg pandas UDAF: Arrow ships each group's columns once;
        # at scale pre-aggregate per partition first if groups are huge
        cents = (v * 100).round().astype("int64")
        return float((cents * w).sum()) / (100.0 * float(w.sum()))

    e = load_table(spark, sf_dir, "events")
    weighted = e.select(
        "user_id", "value", (F.col("event_id") % 10 + 1).alias("w")
    )
    return pin_width(weighted, "user_id").groupBy("user_id").agg(
        F.round(weighted_mean("value", "w"), 4).alias("wmean")
    )


def _minmax_normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: min-max normalize value within the group; flat
    groups map to 0.0. Pure pandas — one Arrow exchange per group.

    Rounding is floor(x*1e4 + 0.5)/1e4, NOT Python round(): round() is
    half-to-even while the oracle rounds half away from zero — an exact-tie
    value would diverge. The floor form is half-up, exact for these
    non-negative [0, 1] values, and the oracle uses the identical
    expression (single-rounding discipline)."""
    lo, hi = pdf["value"].min(), pdf["value"].max()
    scaled = (pdf["value"] - lo) / (hi - lo) if hi > lo else 0.0
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "value_norm": np.floor(scaled * 1e4 + 0.5) / 1e4,
        }
    )


@query(
    "q_udf_grouped_map",
    oracle="""
    SELECT user_id, event_id,
           FLOOR(CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.0
                      ELSE (value - MIN(value) OVER w)
                           / (MAX(value) OVER w - MIN(value) OVER w)
                 END * 10000 + 0.5) / 10000 AS value_norm
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
    category="2.K",
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the gapply pattern): per-user min-max
    normalization. The oracle is the equivalent window-function form —
    which is also what the hot path would use; applyInPandas is for
    kernels SQL can't express (model scoring, scipy, ...)."""
    e = load_table(spark, sf_dir, "events")
    return (
        pin_width(e.select("user_id", "event_id", "value"), "user_id")
        .groupBy("user_id")
        .applyInPandas(
            _minmax_normalize,
            "user_id long, event_id long, value_norm double",
        )
    )


@query(
    "q_udtf_python",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id < 100
    )
    SELECT doc_id, i AS pos, t[i] AS token
    FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
    """,
    category="2.K",
)
def q_udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): explode each document into (doc_id, pos,
    token) rows — the tokenizer-as-table-function shape. Registered and
    invoked through SQL; limited to 100 docs because UDTFs run row-at-a-
    time Python (the exploded built-in split is the scale path, see
    q_llm_wordcount)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos bigint, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" "), start=1):
                yield doc_id, i, tok

    d = load_table(spark, sf_dir, "documents")
    d.where(F.col("doc_id") < 100).createOrReplaceTempView("udtf_docs")
    spark.udtf.register("tokenize_doc", Tokenize)
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token "
        "FROM udtf_docs, LATERAL tokenize_doc(doc_id, text) t"
    )


@query(
    "q_udf_cogrouped_map",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS event_cents
      FROM events WHERE user_id <= 220 GROUP BY user_id
    ),
    o AS (
      SELECT o_custkey AS user_id,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS order_cents
      FROM orders WHERE o_custkey <= 150 GROUP BY o_custkey
    )
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.event_cents, 0) AS event_cents,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.order_cents, 0) AS order_cents
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    ORDER BY user_id
    """,
    category="2.K",
)
def q_udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map surface: `groupBy().cogroup().applyInPandas` — the
    two-sided Arrow kernel (both tables' per-key groups arrive as pandas
    frames in one call; the API a custom as-of merge or interval align
    uses when the built-in joins can't express it). The kernel here
    computes per-user exact-cents totals from BOTH sides including
    one-sided keys — full-outer semantics a plain grouped-map can't see.

    Scale shape: ONE co-partitioned shuffle of both inputs on user_id;
    kernel output is one row per key. Both sides are bounded to a fixed
    key range (user_id ≤ 220, which still leaves keys unique to EACH
    side) so the number of per-key Python invocations — the real cost
    of any cogrouped kernel, ~8 ms each — is constant in corpus size
    instead of growing with the user population (measured 12 s at
    sf0.1's 1500 users vs ~1.5 s bounded). A production as-of merge
    would batch many keys per Arrow exchange instead. The oracle is the
    equivalent agg + full-outer join."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") <= 220)
        .select("user_id", "value")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 150)
        .select(F.col("o_custkey").alias("user_id"), "o_totalprice")
    )

    def merge(key, epdf: pd.DataFrame, opdf: pd.DataFrame) -> pd.DataFrame:
        # Two-sided Arrow kernel: either side may be empty for this key.
        ec = (
            np.floor(np.abs(epdf["value"]) * 100 + 0.5).astype("int64")
            * np.sign(epdf["value"]).astype("int64")
        ).sum() if len(epdf) else 0
        oc = (
            np.floor(opdf["o_totalprice"] * 100 + 0.5).astype("int64").sum()
            if len(opdf)
            else 0
        )
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [len(epdf)],
                "event_cents": [int(ec)],
                "n_orders": [len(opdf)],
                "order_cents": [int(oc)],
            }
        )

    out = (
        pin_width(e, "user_id").groupBy("user_id")
        .cogroup(pin_width(o, "user_id").groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_events long, event_cents long,"
            " n_orders long, order_cents long",
        )
    )
    return out.orderBy("user_id")


@query(
    "q_udf_map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS disc_cents
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    category="2.K",
)
def q_udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface: the zero-copy rung below mapInPandas — batches
    arrive as raw pyarrow RecordBatches (no pandas conversion), the right
    API when the kernel is itself Arrow-native (tokenizers, codecs,
    Arrow-compute). The kernel computes per-batch partial (flag, count,
    exact discounted cents) partials; a JVM hash-agg merges them — the
    partial-agg-in-UDF + final-agg-in-engine split that keeps Python
    from ever seeing the full table.

    The per-row product stays IEEE double (bit-identical everywhere);
    rounding uses pyarrow/numpy floor half-up on non-negative values,
    matching the oracle's round()."""
    import pyarrow as pa

    def partials(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            flags = b.column("l_returnflag").to_numpy(zero_copy_only=False)
            price = b.column("l_extendedprice").to_numpy(zero_copy_only=False)
            disc = b.column("l_discount").to_numpy(zero_copy_only=False)
            cents = np.floor(price * (1.0 - disc) * 100 + 0.5).astype("int64")
            df = pd.DataFrame({"f": flags, "c": cents})
            g = df.groupby("f", sort=False).agg(
                n=("c", "size"), s=("c", "sum")
            )
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame(
                    {
                        "l_returnflag": g.index.to_numpy(),
                        "n_part": g["n"].to_numpy().astype("int64"),
                        "cents_part": g["s"].to_numpy().astype("int64"),
                    }
                ),
                preserve_index=False,
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    part = li.mapInArrow(
        partials, "l_returnflag string, n_part long, cents_part long"
    )
    return (
        part.groupBy("l_returnflag")
        .agg(
            F.sum("n_part").alias("n"),
            F.sum("cents_part").alias("disc_cents"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_udf_arrow_optimized",
    oracle="""
    SELECT p_partkey,
           upper(substring(p_name, 1, 1)) || lower(substring(p_name, 2))
             AS title_name,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1
                AS INT) AS n_words
    FROM part ORDER BY p_partkey
    """,
    category="2.K",
)
def q_udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (`@udf(useArrow=True)`, Spark 4)
    — the missing rung between the row-at-a-time pickle UDF
    (q_udf_python) and the explicitly-vectorized pandas UDF
    (q_udf_pandas_scalar): same per-row Python function, but arguments
    and results cross the JVM boundary as Arrow batches, which removes
    the pickle serialization that dominates the legacy path. The kernel
    (title-case + word count) is deterministic string math with an
    exact SQL twin. Scale: still a Python hot path — the engine's rule
    stands (built-ins first, pandas UDF second, this third, pickle UDF
    never) — but at equal semantics Arrow transfer is the cheaper
    wire format."""

    @udf("string", useArrow=True)
    def title_case(s: str) -> str:
        return s[:1].upper() + s[1:].lower() if s else s

    @udf("int", useArrow=True)
    def n_words(s: str) -> int:
        return len(s.split(" ")) if s is not None else None

    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        title_case("p_name").alias("title_name"),
        n_words("p_name").alias("n_words"),
    ).orderBy("p_partkey")


@query(
    "q_udtf_table_arg",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM events WHERE user_id < 50
    GROUP BY user_id ORDER BY user_id
    """,
    category="2.K",
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument (Spark 4): the function receives
    WHOLE PARTITIONS of a table via `TABLE(...) PARTITION BY ... ORDER
    BY ...` — the SQL-surfaced cousin of applyInPandas, and the only
    UDTF form that can aggregate (eval per row into held state,
    terminate() emits). The kernel keeps exact integer cents (floor
    half-up, values ≥ 0). Bounded to user_id < 50 for the same reason
    as q_udf_cogrouped_map: per-partition Python calls are the cost,
    and the demo pins that constant in corpus size."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n bigint, cents bigint, max_cents bigint")
    class PerUserStats:
        def __init__(self):
            self._uid = None
            self._n = 0
            self._cents = 0
            self._max = None

        def eval(self, row):
            self._uid = row["user_id"]
            c = int(row["value"] * 100 + 0.5)  # value ≥ 0: floor half-up
            self._n += 1
            self._cents += c
            self._max = c if self._max is None else max(self._max, c)

        def terminate(self):
            if self._uid is not None:
                yield self._uid, self._n, self._cents, self._max

    e = load_table(spark, sf_dir, "events")
    e.where(F.col("user_id") < 50).select(
        "user_id", "value"
    ).createOrReplaceTempView("udtf_events")
    spark.udtf.register("per_user_stats", PerUserStats)
    return spark.sql(
        "SELECT * FROM per_user_stats("
        "TABLE(udtf_events) PARTITION BY user_id ORDER BY user_id) "
        "ORDER BY user_id"
    )


@query(
    "q_udf_pandas_iter",
    oracle="""
    SELECT event_id,
           CAST(((CAST(round(value * 100) AS BIGINT) % 97)
                 * 2654435761 % 1000)
                + CAST(round(value * 100) AS BIGINT) AS BIGINT) AS score
    FROM events
    """,
    category="2.K",
)
def q_udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (SCALAR_ITER): the per-task
    expensive-initialization pattern — the lookup table builds ONCE per
    task, then streams every Arrow batch through it, exactly how a 100 TB
    scoring pass amortizes loading a model/tokenizer per executor instead
    of per batch (the plain scalar form re-enters Python with no shared
    state hook). The "model" here is a deterministic 97-entry Knuth-hash
    table so the oracle can replay it in closed form; all arithmetic is
    exact int64."""

    @pandas_udf("long")
    def score_batches(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # once per task: the stand-in for an expensive model load
        table = np.array(
            [(i * 2654435761) % 1000 for i in range(97)], dtype=np.int64
        )
        for v in batches:
            cents = np.round(v.to_numpy() * 100).astype(np.int64)
            yield pd.Series(table[cents % 97] + cents)

    e = load_table(spark, sf_dir, "events")
    return e.select("event_id", score_batches("value").alias("score"))


def polymorphic_melt_udtf():
    """The Spark 4 analyze-API UDTF behind q_udtf_polymorphic, exposed
    at module level so tests can call it with DIFFERENT field literals
    and prove the schema really is computed at analysis time.

    analyze() derives the output schema FROM the `fields` literal: one
    string column per comma-separated name after the fixed (doc_id,
    field, value) triple would be the static shape — instead the melt
    emits the long form but with the `field` column DOMAIN declared by
    the literal, and analyze() (a) requires `fields` to be foldable
    (non-literal call fails at analysis), (b) requires exactly one
    bound value column per declared name (arity mismatch fails at
    analysis, before any task runs), and (c) names the value column
    after the field list's fingerprint so two different literals yield
    two different schemas — the polymorphism is observable in the
    resolved plan, not just claimed."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class Melt:
        @staticmethod
        def analyze(
            fields: AnalyzeArgument, doc_id: AnalyzeArgument,
            *rest: AnalyzeArgument,
        ) -> AnalyzeResult:
            if fields.value is None:
                raise ValueError(
                    "melt_fields: `fields` must be a string literal "
                    "(the schema is computed from it at analysis time)"
                )
            names = [n for n in str(fields.value).split(",") if n]
            if not names:
                raise ValueError("melt_fields: empty field list")
            if len(rest) != len(names):
                raise ValueError(
                    f"melt_fields: {len(names)} field names "
                    f"but {len(rest)} value columns"
                )
            schema = StructType()
            schema = schema.add("doc_id", LongType())
            schema = schema.add("field", StringType())
            # schema derived from the literal: a different field list
            # produces a differently-named value column
            schema = schema.add("value_" + "_".join(names), StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, fields: str, doc_id: int, *values: str):
            names = fields.split(",")
            for name, value in zip(names, values):
                yield doc_id, name, value

    return udtf(Melt)


@query(
    "q_udtf_polymorphic",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, 'lang' AS field, lang AS value_lang_source FROM base
    UNION ALL
    SELECT doc_id, 'source' AS field, source AS value_lang_source FROM base
    """,
    category="2.K",
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 `analyze` API): the output schema
    is computed AT ANALYSIS TIME from the call's literal argument — here
    an unpivot-any-columns table function whose field list arrives as a
    string, the shape a reusable melt/explode library function has
    (static-returnType UDTFs must hardcode theirs). analyze() derives
    the schema from `fields.value` and validates arity/foldability so a
    wrong call fails at analysis, before any task runs (exercised in
    tests/test_properties.py with different literals). eval() then
    streams (doc_id, field, value) rows. Row-at-a-time Python — bounded
    to 100 docs; the built-in stack()/unpivot is the scale path
    (q_unpivot). The oracle is the equivalent UNION ALL unpivot."""
    spark.udtf.register("melt_fields", polymorphic_melt_udtf())
    d = load_table(spark, sf_dir, "documents")
    d.where(F.col("doc_id") < 100).createOrReplaceTempView("melt_docs")
    return spark.sql(
        "SELECT t.doc_id, t.field, t.value_lang_source "
        "FROM melt_docs, "
        "LATERAL melt_fields('lang,source', doc_id, lang, source) t"
    )


@query(
    "q_udf_pandas_over_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS win_cents
    FROM events
    WHERE event_type = 'purchase' AND user_id % 10 = 3
    ORDER BY event_id
    """,
    category="2.K",
)
def q_udf_pandas_over_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF applied OVER A WINDOW FRAME — the least-known corner
    of the pandas-UDF surface (a GROUPED_AGG pandas_udf is legal as a
    window function over bounded frames): a custom 5-row trailing
    aggregate per user, Arrow-shipping each frame's slice to Python.
    The kernel sums exact integer cents so the oracle (the plain SQL
    window SUM over the same frame) matches bit-for-bit; what's being
    certified is the FRAME PLUMBING — that Spark hands the UDF exactly
    the ROWS BETWEEN 4 PRECEDING AND CURRENT ROW slice per row, in
    user/event order. Scale: bounded-frame pandas window UDFs
    materialize each frame as a pandas Series (O(frame) per row — fine
    at width 5, catastrophic unbounded); the engine's guidance is
    built-in window functions for anything expressible, this surface
    for genuinely custom frame math (weighted decays, quantile-of-
    frame), and NEVER growing frames in Python. Rows are bounded to a
    deterministic 1-in-10 user slice: each frame is a separate Python
    round-trip (~0.5 ms/row measured — 11.6 s unbounded at sf0.1), and
    the rung certifies plumbing, not throughput."""

    @pandas_udf("long")
    def frame_cents(v: pd.Series) -> int:
        return int((v * 100).round().astype("int64").sum())

    e = pin_width(
        load_table(spark, sf_dir, "events").where(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") % 10 == 3)
        ),
        "user_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return (
        e.select(
            "event_id", "user_id",
            frame_cents(F.col("value")).over(w).alias("win_cents"),
        )
        .orderBy("event_id")
    )


@query(
    "q_udtf_arrow",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id >= 100 AND doc_id < 200
    )
    SELECT doc_id, i AS pos, t[i] AS token,
           CAST(length(t[i]) AS INTEGER) AS tok_len
    FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
    """,
    category="2.K",
)
def q_udtf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW-optimized Python UDTF (Spark 4, `@udtf(useArrow=True)`) —
    completing the UDTF ladder exactly as q_udf_arrow_optimized
    completes the scalar one: the computation deliberately mirrors the
    pickle UDTF rung (q_udtf_python's tokenizer, plus a length column)
    so the PAIR isolates the one variable that changed — the wire
    format. Arrow batches rows both directions instead of pickling one
    at a time; eval() is still per-row Python, so this buys transfer
    efficiency, not vectorization (mapInPandas is the vectorized
    tier). Arrow-ness is declared ON THE FUNCTION, not via the session
    conf: the conf is consulted only at UDTF CREATION time (probed —
    setting it after @udtf runs silently leaves pickle eval), which
    makes the per-function flag the only session-clean spelling; the
    plan gate in tests/test_plans.py pins the ArrowEvalPythonUDTF node
    so a silent fallback can never pass."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, pos bigint, token string, tok_len int",
        useArrow=True,
    )
    class TokenizeArrow:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" "), start=1):
                yield doc_id, i, tok, len(tok)

    d = load_table(spark, sf_dir, "documents")
    d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)) \
        .createOrReplaceTempView("udtf_arrow_docs")
    spark.udtf.register("tokenize_arrow", TokenizeArrow)
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token, t.tok_len "
        "FROM udtf_arrow_docs, LATERAL tokenize_arrow(doc_id, text) t"
    )


@query(
    "q_udf_apply_in_arrow",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value * 100) AS BIGINT))
                 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_t
      FROM events
    )
    SELECT event_type,
           CAST(MAX(n_t) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (n_t + 1) // 2 THEN cents END)
                AS BIGINT) AS median_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM obs GROUP BY event_type
    """,
    category="2.K",
)
def q_udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInArrow (Spark 4.0) — the zero-pandas sibling of
    q_udf_grouped_map: the per-group kernel receives a pyarrow.Table
    and returns one, skipping the Arrow->pandas conversion entirely
    (no index materialization, no object-dtype risk for strings; the
    right form when the kernel is numpy/Arrow-compute native). Kernel:
    per-event-type lower discrete median by sorted position (n+1)//2
    — the house exact-median rule (q_agg_levene_bf) — plus n and the
    exact cents sum, so the rung certifies value-exact Arrow transfer
    in BOTH directions on int64. Per-group sums stay int64-safe at the
    value domain (cents < 2^31, group rows < 2^31 here; the 100 TB
    version returns decimal-backed partial moments instead). Scale
    posture: one hash shuffle on the 5-value group key; the kernel is
    O(group) memory like any grouped-map — for corpus-sized groups use
    the two-phase agg forms, applyInArrow is for bounded panels and
    model kernels."""
    import pyarrow as pa

    def _arrow_group_stats(table: pa.Table) -> pa.Table:
        cents = table.column("cents").to_numpy(zero_copy_only=False)
        n = len(cents)
        srt = np.sort(cents)
        med = int(srt[(n + 1) // 2 - 1])
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": pa.array([n], pa.int64()),
                "median_cents": pa.array([med], pa.int64()),
                "sum_cents": pa.array([int(srt.sum())], pa.int64()),
            }
        )

    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return obs.groupBy("event_type").applyInArrow(
        _arrow_group_stats,
        "event_type string, n long, median_cents long, sum_cents long",
    )
