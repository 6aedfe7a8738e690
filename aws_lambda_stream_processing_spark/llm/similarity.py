"""Similarity search over embeddings (SURVEY.md §2.J: q_llm_cosine_topk,
q_llm_knn).

Embeddings are L2-normalized 64-dim float vectors (FIXTURES.md §2), so
cosine ≡ dot product. Dot products are computed with JVM higher-order
expressions (zip_with + aggregate over doubles) — codegen'd, no Python on
the hot path; both engines left-fold the same IEEE doubles, so similarity
values are bit-identical before the defensive rounding.

Scale path (documented, exercised at test scale by the same code):
  - brute-force top-k here is a pruned self-join — O(n²·d) but shuffle-free
    per block with AQE handling the pairing;
  - at 100 TB you bucket vectors first (LSH hyperplanes, or IVF coarse
    centroids), run the same exact kernel within buckets, and union —
    the kernel below is reused unchanged (see q_llm_minhash_lsh for the
    banding pattern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.registry import (
    query,
    track_cache,
    tracked_local_checkpoint,
)
from aws_lambda_stream_processing_spark.session import pin_width
from aws_lambda_stream_processing_spark.tables import load_table


def dot_double(a: Column | str, b: Column | str) -> Column:
    """Exact double-precision dot product of two float vectors (elementwise
    cast to double, left-fold — bit-identical on Spark and DuckDB)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


# DuckDB twin of dot_double (list_dot_product computes in float32 and drifts
# ~1e-7 from the double fold — measured; never use it for parity).
SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)"
)


def quantize_int8() -> Column:
    """int8-scale quantization of the embedding column — the ONE
    definition the integer-exact rungs (matryoshka, cluster_margin,
    trained-PQ re-rank) share; every oracle embeds the equivalent
    `list_transform(..., floor(x*127.0 + 0.5))` literal."""
    return F.expr(
        "transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))"
    )


def dot_long(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot product of two quantized long vectors."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_N_BLOCKS = 8


def _block_pair_sims(emb: DataFrame, local_topk: int | None) -> DataFrame:
    """All-pairs cosine similarities (vec_a < vec_b) via block-partitioned
    GEMM: B(B+1)/2 applyInPandas groups, each holding two blocks' vectors
    and computing their cross-similarities as one matrix product. Keeps
    `local_topk` best pairs per group when set (pre-cut for global top-k)."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ga, gb = int(pdf["ga"].iloc[0]), int(pdf["gb"].iloc[0])
        pdf = pdf.drop_duplicates(subset=["vec_id"])
        ids = pdf["vec_id"].to_numpy()
        blocks = pdf["b"].to_numpy()
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        S = X @ X.T
        ii, jj = np.where(
            (ids[:, None] < ids[None, :])
            & (
                ((blocks[:, None] == ga) & (blocks[None, :] == gb))
                | ((blocks[:, None] == gb) & (blocks[None, :] == ga))
            )
        )
        out = pd.DataFrame(
            {"vec_a": ids[ii], "vec_b": ids[jj], "sim": S[ii, jj]}
        )
        if local_topk is not None and len(out) > local_topk:
            out = out.sort_values(
                ["sim", "vec_a", "vec_b"], ascending=[False, True, True]
            ).head(local_topk)
        return out

    replicated = (
        emb.select(
            "vec_id",
            F.col("embedding").alias("emb"),
            (F.col("vec_id") % _N_BLOCKS).cast("int").alias("b"),
        )
        .withColumn(
            "p", F.explode(F.sequence(F.lit(0), F.lit(_N_BLOCKS - 1)))
        )
        .withColumn("ga", F.least("b", "p"))
        .withColumn("gb", F.greatest("b", "p"))
    )
    # pin_width: AQE coalesced the bytes-tiny exchange under this
    # Python GEMM stage to ONE partition, serializing all B(B+1)/2
    # block kernels (guide §2.5; see session.pin_width).
    return pin_width(replicated, "ga", "gb").groupBy("ga", "gb").applyInPandas(
        kernel, "vec_a long, vec_b long, sim double"
    )


@query(
    "q_llm_cosine_topk",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {SQL_DOT.format(a="a.embedding", b="b.embedding")} AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(sim, 4) AS cosine
    FROM pairs
    ORDER BY sim DESC, vec_a, vec_b
    LIMIT 50
    """,
    category="2.J",
)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-similar embedding pairs (cosine = dot on the normalized
    vectors), via block-partitioned GEMM: vectors hash into B blocks, each
    vector is replicated to its B block-pair groups, each group computes
    its pair similarities as one numpy matrix product and emits only its
    local top-50; a global TakeOrderedAndProject cuts the final 50. The
    per-pair join + interpreted fold formulation was 15 s at sf0.1 (2M
    pairs); the B(B+1)/2 GEMM tasks run in <1 s and are exactly the 100 TB
    brute-force layout (bigger B, same code).

    Float note: GEMM sums in a different order than the oracle's
    sequential fold; drift is ≤2⁻⁵⁰ relative, guarded by round(4) and
    rank-50 similarity gaps ≫ drift."""
    pairs = _block_pair_sims(
        load_table(spark, sf_dir, "embeddings"), local_topk=50
    )
    return (
        pairs.orderBy(F.desc("sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("cosine"))
    )


@query(
    "q_llm_knn",
    oracle=f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label,
             {SQL_DOT.format(a="p.embedding", b="c.embedding")} AS sim,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY {SQL_DOT.format(a="p.embedding", b="c.embedding")} DESC,
                        c.vec_id) AS rnk
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) p
      JOIN (SELECT * FROM embeddings WHERE vec_id >= 10) c ON true
    )
    SELECT probe_id, neighbor_id, label, rnk, ROUND(sim, 4) AS cosine
    FROM scored WHERE rnk <= 5
    """,
    category="2.J",
)
def q_llm_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification shape: for each of 10 probe vectors, the 5
    nearest corpus vectors (with labels) by cosine. Probes broadcast to
    every corpus partition; per-group top-k runs as a WindowGroupLimit so
    only 5 rows per probe survive the exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    corpus = e.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "label",
        F.col("embedding").alias("ce"),
    )
    scored = corpus.crossJoin(F.broadcast(probes)).withColumn(
        "sim", dot_double("pe", "ce")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            "probe_id", "neighbor_id", "label", "rnk",
            F.round("sim", 4).alias("cosine"),
        )
    )


_EMBED_TAU = 0.4  # corpus max pairwise cosine is ~0.51 — τ picked to
# exercise the operator; the plan is identical at any τ


@query(
    "q_llm_embed_neardup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({SQL_DOT.format(a="a.embedding", b="b.embedding")}, 4)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {SQL_DOT.format(a="a.embedding", b="b.embedding")} >= {_EMBED_TAU}
    """,
    category="2.J",
)
def q_llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all pairs with cosine >= τ —
    the semantic-dedup step of a training pipeline (SemDeDup-style), on the
    same block-GEMM layout as q_llm_cosine_topk (threshold filter instead
    of top-k cut). Float note as there: GEMM vs fold drift ≤2⁻⁵⁰, and the
    similarity distribution is continuous at τ."""
    pairs = _block_pair_sims(
        load_table(spark, sf_dir, "embeddings"), local_topk=None
    )
    return pairs.where(F.col("sim") >= _EMBED_TAU).select(
        "vec_a", "vec_b", F.round("sim", 4).alias("cosine")
    )


@query(
    "q_llm_embed_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_reduce(list_transform(list_zip(a.qv, b.qv),
               s -> s[1] * s[2]), (x, y) -> x + y) AS qdot
      FROM q a JOIN q b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, qdot,
           ROUND(qdot / 16129.0, 4) AS cosine_q
    FROM pairs
    ORDER BY qdot DESC, vec_a, vec_b
    LIMIT 50
    """,
    category="2.J",
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization + top-50 similarity over the quantized
    vectors — the memory-side of the 100 TB ANN ladder (4× smaller vectors,
    integer SIMD dot products). Each component maps float→int8 by
    floor(x*127 + 0.5) (|x| ≤ 1 on the L2-normalized corpus); pair scores
    are exact int64 GEMMs within the same B(B+1)/2 block layout as
    q_llm_cosine_topk, so the whole query is integer math end-to-end and
    hash-matches the oracle bit-for-bit: quantization (float32→double→
    floor) is the identical IEEE sequence on both engines, and integer
    dots admit a deterministic total order (qdot DESC, vec_a, vec_b).
    Recovered cosine = qdot / 127² is a single exact-int division, safe
    to round."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ga, gb = int(pdf["ga"].iloc[0]), int(pdf["gb"].iloc[0])
        pdf = pdf.drop_duplicates(subset=["vec_id"])
        ids = pdf["vec_id"].to_numpy()
        blocks = pdf["b"].to_numpy()
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        Q = np.floor(X * 127.0 + 0.5).astype(np.int64)
        S = Q @ Q.T
        ii, jj = np.where(
            (ids[:, None] < ids[None, :])
            & (
                ((blocks[:, None] == ga) & (blocks[None, :] == gb))
                | ((blocks[:, None] == gb) & (blocks[None, :] == ga))
            )
        )
        out = pd.DataFrame(
            {"vec_a": ids[ii], "vec_b": ids[jj], "qdot": S[ii, jj]}
        )
        return out.sort_values(
            ["qdot", "vec_a", "vec_b"], ascending=[False, True, True]
        ).head(50)

    emb = load_table(spark, sf_dir, "embeddings")
    replicated = (
        emb.select(
            "vec_id",
            F.col("embedding").alias("emb"),
            (F.col("vec_id") % _N_BLOCKS).cast("int").alias("b"),
        )
        .withColumn("p", F.explode(F.sequence(F.lit(0), F.lit(_N_BLOCKS - 1))))
        .withColumn("ga", F.least("b", "p"))
        .withColumn("gb", F.greatest("b", "p"))
    )
    # pin_width: same serialized-GEMM fix as _block_pair_sims
    local = pin_width(replicated, "ga", "gb").groupBy("ga", "gb").applyInPandas(
        kernel, "vec_a long, vec_b long, qdot long"
    )
    return (
        local.orderBy(F.desc("qdot"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .select(
            "vec_a",
            "vec_b",
            "qdot",
            F.round(F.col("qdot") / F.lit(16129.0), 4).alias("cosine_q"),
        )
    )


def _ann_bucket_cap() -> int:
    """Max vectors one ANN bucket kernel task may hold. Env-tunable so the
    skew property test can force sub-block splitting on a small corpus."""
    import os

    return int(os.environ.get("ALSP_ANN_BUCKET_CAP", "4096"))


def _capped_blocks(bucketed: DataFrame, bucket_col: str) -> DataFrame:
    """Split any bucket above the cap into ceil(bn/cap) sub-blocks and
    replicate each vector to every (ga, gb) sub-block pair of ITS bucket
    (the q_llm_embed_quantize triangular layout, applied per bucket).

    This is the hot-bucket fix the round-2 audit asked for: without it a
    skewed LSH bucket / IVF list serializes its whole GEMM into ONE task
    at 100 TB. With it, a bucket of H vectors runs as nb(nb+1)/2 tasks of
    ≤ ~2·cap vectors each (nb = ceil(H/cap)) — same total flops, bounded
    task size. Buckets at or under the cap keep nb=1 → a single group,
    identical to the uncapped layout.

    The per-bucket sizes relation is one row per bucket; no broadcast
    hint — AQE broadcasts it while it is small and falls back to a hash
    join when a 100 TB run has too many buckets for one driver."""
    cap = _ann_bucket_cap()
    sizes = bucketed.groupBy(bucket_col).agg(F.count("*").alias("__bn"))
    return (
        bucketed.join(sizes, bucket_col)
        .withColumn("__nb", F.expr(f"int((__bn + {cap} - 1) div {cap})"))
        .withColumn("sb", (F.col("vec_id") % F.col("__nb")).cast("int"))
        .withColumn("p", F.explode(F.expr("sequence(0, __nb - 1)")))
        .withColumn("ga", F.least("sb", F.col("p").cast("int")))
        .withColumn("gb", F.greatest("sb", F.col("p").cast("int")))
        .drop("__bn", "__nb", "p")
    )


def _capped_bucket_pair_qdots(
    bucketed: DataFrame, bucket_col: str, local_topk: int
) -> DataFrame:
    """Within-bucket all-pairs integer-dot GEMM with the hot-bucket cap,
    in cross-engine EXACT arithmetic: `emb` is int64-quantized, so
    S = X @ X.T is exact regardless of BLAS blocking (the float64
    variant this replaced produced last-ULP differences between capped
    sub-block and uncapped full-matrix summation orders), and the local
    top-k uses the (qdot desc, vec_a, vec_b) total order.

    Result-identical to an uncapped per-bucket kernel: a pair in the
    bucket's true top-k is also in the top-k of the one (ga, gb) group
    that emits it (its group's candidate set is a subset of the
    bucket's), so the union of per-group top-k lists always contains the
    per-bucket top-k — the downstream global cut sees the same winners.
    Input columns: vec_id, <bucket_col>, emb(array<long>)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ga, gb = int(pdf["ga"].iloc[0]), int(pdf["gb"].iloc[0])
        pdf = pdf.drop_duplicates(subset=["vec_id"])
        ids = pdf["vec_id"].to_numpy()
        blocks = pdf["sb"].to_numpy()
        X = np.vstack([np.asarray(v, dtype=np.int64) for v in pdf["emb"]])
        S = X @ X.T
        ii, jj = np.where(
            (ids[:, None] < ids[None, :])
            & (
                ((blocks[:, None] == ga) & (blocks[None, :] == gb))
                | ((blocks[:, None] == gb) & (blocks[None, :] == ga))
            )
        )
        out = pd.DataFrame(
            {"vec_a": ids[ii], "vec_b": ids[jj], "qdot": S[ii, jj]}
        )
        if len(out) > local_topk:
            out = out.sort_values(
                ["qdot", "vec_a", "vec_b"], ascending=[False, True, True]
            ).head(local_topk)
        return out

    # pin_width: same serialized-GEMM fix as _block_pair_sims, keyed by
    # (bucket, sub-block pair)
    return pin_width(
        _capped_blocks(bucketed, bucket_col), bucket_col, "ga", "gb"
    ).groupBy(
        bucket_col, "ga", "gb"
    ).applyInPandas(kernel, "vec_a long, vec_b long, qdot long")


_IVF_D2_SQL = (
    "list_reduce(list_transform(list_zip(s.qv, c.cv),"
    " z -> (z[1] * 128 - z[2]) * (z[1] * 128 - z[2])), (u, v) -> u + v)"
)


def _ivf_lloyd_sql(n_iters: int = 5) -> tuple[str, str]:
    """Unrolled integer-exact Lloyd CTE chain (see q_llm_ann_ivf): each
    iteration is one assignment window + one per-dim integer-sum update,
    centroids stored as floor(sum*128/n) int64 vectors. Exactness of the
    SQL floor: |sum*128| < 2^25 and n <= 1024 < 2^11, so the true
    quotient is either an integer or at least 2^-11 from one while the
    double division is correct to ~2^-27 — floor(double) == exact floor."""
    parts = []
    prev = "c0"
    for i in range(1, n_iters + 1):
        parts.append(f"""
    a{i} AS (
      SELECT sid, qv, k FROM (
        SELECT s.sid, s.qv, c.k,
               row_number() OVER (PARTITION BY s.sid
                                  ORDER BY {_IVF_D2_SQL}, c.k) AS rn
        FROM samp s CROSS JOIN {prev} c) WHERE rn = 1),
    n{i} AS (
      SELECT k, list(csum ORDER BY d) AS cv FROM (
        SELECT a.k, u.d,
               CAST(floor(CAST(SUM(u.v) * 128 AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS csum
        FROM a{i} a, LATERAL (
          SELECT generate_subscripts(a.qv, 1) AS d, unnest(a.qv) AS v) u
        GROUP BY a.k, u.d) GROUP BY k),
    c{i} AS (
      SELECT p.k, COALESCE(n.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN n{i} n USING (k))""")
        prev = f"c{i}"
    return ",".join(parts), prev


_IVF_LLOYD_CTES, _IVF_FINAL_C = _ivf_lloyd_sql()


@query(
    "q_llm_ann_ivf",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    samp AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, qv
      FROM (SELECT vec_id, qv FROM q WHERE vec_id % 4 = 0
            ORDER BY vec_id LIMIT 1024)
    ),
    c0 AS (
      SELECT sid AS k, list_transform(qv, v -> v * 128) AS cv
      FROM samp WHERE sid < 8
    ),{_IVF_LLOYD_CTES},
    asgn AS (
      SELECT vec_id, qv, k FROM (
        SELECT s.vec_id, s.qv, c.k,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_IVF_D2_SQL}, c.k) AS rn
        FROM q s CROSS JOIN {_IVF_FINAL_C} c) WHERE rn <= 2),
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             MAX(list_reduce(list_transform(list_zip(x.qv, y.qv),
                                            z -> z[1] * z[2]),
                             (u, v) -> u + v)) AS qdot
      FROM asgn x JOIN asgn y ON x.k = y.k AND x.vec_id < y.vec_id
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b, qdot, ROUND(qdot / 16129.0, 4) AS cosine_q
    FROM pairs
    ORDER BY qdot DESC, vec_a, vec_b
    LIMIT 50
    """,
    category="2.J",
)
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest-neighbor top-50 pairs via IVF (inverted-file)
    coarse quantization: K centroids are trained by 5 deterministic Lloyd
    iterations over a bounded, id-strided sample (collected driver-side —
    sample size is independent of corpus size, the standard IVF recipe);
    every vector is then assigned to its nprobe=2 nearest centroid lists
    (multi-probe replication so near-boundary pairs still share a list),
    the exact integer-dot kernel runs WITHIN lists, duplicated pairs
    collapse via max, and a global top-50 follows. Versus q_llm_ann_lsh's
    hyperplane buckets, IVF adapts the partition to the data's cluster
    structure — at 100 TB the centroid count scales with corpus size
    while training cost stays fixed at the sample.

    EXACT oracle since r9 (r8 verdict item 3): Lloyd runs in pure int64
    — vectors quantized to int8 scale, centroids stored as
    floor(sum*128/n) integer vectors, assignment by exact integer
    squared-L2 argmin with lowest-k ties — so the oracle's unrolled
    5-iteration CTE chain reproduces the trained centroids, the nprobe=2
    assignment, the candidate lists, and the (qdot desc, vec_a, vec_b)
    top-50 bit-for-bit. Overflow-safe: |128*qv - cv| <= 2^15, squared *
    64 dims < 2^37. The IVF structure is still approximate (cross-list
    pairs are invisible) — identically in both engines."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    # deterministic bounded training sample: id-strided, capped at 1024
    sample = (
        emb.where(F.col("vec_id") % 4 == 0)
        .orderBy("vec_id")
        .limit(1024)
        .select("embedding")
        .collect()
    )
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in sample])
    Q = np.floor(X * 127.0 + 0.5).astype(np.int64)
    n_lists = 8
    C = 128 * Q[:n_lists].copy()  # deterministic init, centroid scale 128
    for _ in range(5):
        d2 = ((128 * Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)  # ties -> lowest k
        for k in range(n_lists):
            members = Q[assign == k]
            if len(members):
                C[k] = (members.sum(axis=0) * 128) // len(members)

    def assign_lists(batches):
        for pdf in batches:
            Xb = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Qb = np.floor(Xb * 127.0 + 0.5).astype(np.int64)
            d2 = ((128 * Qb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            # stable argsort keeps the lowest list index on d2 ties
            top2 = np.argsort(d2, axis=1, kind="stable")[:, :2]
            idx = np.repeat(np.arange(len(pdf)), 2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[idx],
                    "list_id": top2.reshape(-1).astype("int64"),
                    "emb": list(Qb[idx]),
                }
            )

    listed = emb.select("vec_id", "embedding").mapInPandas(
        assign_lists, "vec_id long, list_id long, emb array<long>"
    )

    # Within-list exact integer-dot kernel, hot-list capped (see
    # _capped_bucket_pair_qdots: a skewed IVF list splits into bounded
    # sub-block tasks, same winners).
    local = _capped_bucket_pair_qdots(listed, "list_id", 50)
    return (
        local.groupBy("vec_a", "vec_b")
        .agg(F.max("qdot").alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .select(
            "vec_a",
            "vec_b",
            "qdot",
            F.round(F.col("qdot") / F.lit(16129.0), 4).alias("cosine_q"),
        )
    )


def _lsh_plane_weight(p: int, d: int) -> int:
    """Integer-LCG hyperplane weight w(p,d) — shared by the numpy kernel
    and the oracle SQL generator so both engines see the SAME planes."""
    return ((1103515245 * (p * 64 + d) + 12345) % (1 << 31)) - (1 << 30)


def _lsh_bucket_sql() -> str:
    """SQL sign-pattern bucket over the 4 LCG hyperplanes (see
    q_llm_ann_lsh): bit p set iff dot(qv, plane_p) > 0. Weights are
    emitted as int literals, so the SQL is plane-arithmetic-free."""
    bits = []
    for p in range(4):
        dot = " + ".join(
            f"qv[{d + 1}] * ({_lsh_plane_weight(p, d)})" for d in range(64)
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@query(
    "q_llm_ann_lsh",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    b AS (SELECT vec_id, qv, {_lsh_bucket_sql()} AS bucket FROM q),
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             list_reduce(list_transform(list_zip(x.qv, y.qv),
                                        s -> s[1] * s[2]),
                         (u, v) -> u + v) AS qdot
      FROM b x JOIN b y
        ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, qdot, ROUND(qdot / 16129.0, 4) AS cosine_q
    FROM pairs
    ORDER BY qdot DESC, vec_a, vec_b
    LIMIT 50
    """,
    category="2.J",
)
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest-neighbor top-50 pairs via random-hyperplane LSH:
    each vector is bucketed by the sign pattern of its dot products with 4
    fixed pseudo-random hyperplanes (16 buckets); the exact GEMM kernel
    runs WITHIN buckets only and a global top-50 follows. Trades recall
    (cross-bucket pairs are lost — by design) for an n/16-sized candidate
    set per bucket; at 100 TB this is the first rung of the ANN ladder
    (more planes → smaller buckets; IVF/other coarse quantizers slot into
    the same groupBy-bucket → within-bucket kernel shape).

    EXACT oracle since r9 (r8 verdict item 3): the hyperplanes are
    integer-LCG pseudo-random (w(p,d) = ((1103515245*(p*64+d) + 12345)
    mod 2^31) - 2^30 — the numpy kernel and the SQL generate the SAME
    matrix), vectors are int8-quantized (the q_llm_embed_quantize
    discipline), and ranking uses exact int64 dots with (vec_a, vec_b)
    tie-breaks — so bucketing, candidate generation, and the top-50 cut
    replay bit-for-bit in DuckDB. Overflow-safe: |qv| <= 127,
    |w| < 2^30, 64 terms -> |plane dot| < 2^43; |qdot| <= 127^2*64 < 2^21.
    The LSH structure is still approximate (cross-bucket pairs are
    invisible) — identically in both engines."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = 4
    dim = 64
    # integer-LCG hyperplanes — same formula as the oracle SQL
    idx = np.arange(dim)[:, None] + 64 * np.arange(n_planes)[None, :]
    planes = ((1103515245 * idx.astype(np.int64) + 12345) % (1 << 31)) - (
        1 << 30
    )

    def bucketize(batches):
        for pdf in batches:
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Q = np.floor(X * 127.0 + 0.5).astype(np.int64)
            signs = (Q @ planes) > 0
            bucket = (signs * (1 << np.arange(n_planes))).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "bucket": bucket.astype("int64"),
                    "emb": list(Q),
                }
            )

    bucketed = emb.select("vec_id", "embedding").mapInPandas(
        bucketize, "vec_id long, bucket long, emb array<long>"
    )

    # Within-bucket exact integer-dot GEMM, hot-bucket capped (see
    # _capped_bucket_pair_qdots: a skewed bucket splits into bounded
    # sub-block tasks, same winners).
    local = _capped_bucket_pair_qdots(bucketed, "bucket", 50)
    return (
        local.orderBy(F.desc("qdot"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .select(
            "vec_a",
            "vec_b",
            "qdot",
            F.round(F.col("qdot") / F.lit(16129.0), 4).alias("cosine_q"),
        )
    )


@query(
    "q_llm_ann_matryoshka",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    p AS (SELECT vec_id AS probe_id, qv AS pa FROM q WHERE vec_id < 10),
    scored AS (
      SELECT p.probe_id, c.vec_id AS cand_id,
             list_reduce(list_transform(list_zip(p.pa[1:16], c.qv[1:16]),
                                        z -> z[1] * z[2]),
                         (u, v) -> u + v) AS qdot16,
             list_reduce(list_transform(list_zip(p.pa, c.qv),
                                        z -> z[1] * z[2]),
                         (u, v) -> u + v) AS qdot
      FROM p JOIN q c ON c.vec_id <> p.probe_id
    ),
    shortlist AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY qdot16 DESC, cand_id) AS r16
      FROM scored
    )
    SELECT probe_id, cand_id, qdot16, qdot, rank FROM (
      SELECT probe_id, cand_id, qdot16, qdot,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY qdot DESC, cand_id)
                  AS INT) AS rank
      FROM shortlist WHERE r16 <= 20)
    WHERE rank <= 5 ORDER BY probe_id, rank
    """,
    category="2.J",
)
def q_llm_ann_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL, Kusupati 2022 — public) two-stage ANN: score the
    corpus against each probe with the 16-dim PREFIX of the embedding
    (matryoshka representations are trained so prefixes are usable
    embeddings), shortlist top-20 per probe, then re-rank the shortlist
    with the full 64-dim dot and emit top-5. The coarse stage reads ¼ of
    the vector bytes — at 100 TB that is the I/O and FLOP budget cut the
    MRL deployment pattern exists for, and the prefix column can be
    stored as its own narrower index relation.

    Exact oracle: int8-quantized integer dots with (qdot desc, cand_id)
    tie-breaks at both stages — the shortlist boundary and the final
    ranking replay bit-for-bit in DuckDB. Scale shape: probes broadcast
    (bounded probe set), corpus scanned once, shortlist is 20 rows per
    probe — the full-dot re-rank touches 200 rows, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize_int8().alias("qv"))
    probes = q.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pa")
    )
    int_dot = dot_long
    # the coarse exchange carries ONLY (probe_id, cand_id, qdot16) —
    # shipping both 64-long arrays per probe×corpus row through the
    # r16 window shuffle would move 4× the bytes the prefix stage
    # exists to save (round-9 review finding); the 200-row shortlist
    # joins the vectors back for the full-dot re-rank
    scored = (
        q.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            int_dot(
                F.slice("pa", 1, 16), F.slice("qv", 1, 16)
            ).alias("qdot16"),
        )
    )
    w16 = Window.partitionBy("probe_id").orderBy(
        F.desc("qdot16"), F.asc("cand_id")
    )
    shortlist = (
        scored.withColumn("r16", F.row_number().over(w16))
        .where(F.col("r16") <= 20)
        .join(
            F.broadcast(probes), "probe_id"
        )
        .join(q.select(F.col("vec_id").alias("cand_id"), "qv"), "cand_id")
        .select(
            "probe_id", "cand_id", "qdot16",
            int_dot("pa", "qv").alias("qdot"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("qdot"), F.asc("cand_id")
    )
    return (
        shortlist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("probe_id", "cand_id", "qdot16", "qdot", "rank")
        .orderBy("probe_id", "rank")
    )


@query(
    "q_llm_cluster_margin",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    flat AS (
      SELECT vec_id, label,
             generate_subscripts(qv, 1) AS d, unnest(qv) AS v
      FROM q
    ),
    cent AS (
      SELECT label AS k, d,
             CAST(floor(CAST(SUM(v) * 128 AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS c
      FROM flat GROUP BY label, d
    ),
    d2 AS (
      SELECT f.vec_id, f.label, c.k,
             CAST(SUM((f.v * 128 - c.c) * (f.v * 128 - c.c)) AS BIGINT)
               AS dist2
      FROM flat f JOIN cent c ON c.d = f.d
      GROUP BY f.vec_id, f.label, c.k
    ),
    per_vec AS (
      SELECT vec_id, label,
             MIN(CASE WHEN k = label THEN dist2 END) AS a2,
             MIN(CASE WHEN k <> label THEN dist2 END) AS b2
      FROM d2 GROUP BY vec_id, label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN b2 > a2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_well,
           CAST(SUM(b2 - a2) AS BIGINT) AS margin_sum
    FROM per_vec GROUP BY label ORDER BY label
    """,
    category="2.J",
)
def q_llm_cluster_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-margin cluster-quality audit — the simplified-silhouette
    diagnostic next to q_llm_cluster_purity: for every embedding, a² =
    squared distance to its OWN label centroid and b² = distance to the
    nearest FOREIGN centroid; a label is healthy when b² > a² for most
    members (n_well) and the aggregate margin Σ(b²−a²) is large.
    Everything is pure int64 (the q_llm_ann_ivf centroid discipline:
    int8-quantized vectors, floor(sum·128/n) integer centroids, squared
    L2) and the output is sums and counts — no division anywhere, so
    the oracle hash-matches bit-for-bit.

    Scale: centroids are |labels|×64 integers (broadcast); distances
    compute at the (vector, dim) grain joined to the centroid panel —
    label fan-out is a bounded constant, so the corpus is scanned once
    and the shuffle carries per-(vec,label) partial sums. At 100 TB
    this is the training-data-audit query that runs after every
    cluster-assign job."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode(quantize_int8()).alias("d0", "v")
    ).select("vec_id", "label", (F.col("d0") + 1).alias("d"), "v")
    cent = flat.groupBy(F.col("label").alias("k"), "d").agg(
        F.floor(
            (F.sum("v") * 128).cast("double") / F.count("*")
        ).cast("long").alias("c")
    )
    diff = F.col("v") * 128 - F.col("c")
    d2 = (
        flat.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "label", "k")
        .agg(F.sum(diff * diff).alias("dist2"))
    )
    per_vec = d2.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("k") == F.col("label"), F.col("dist2"))).alias("a2"),
        F.min(F.when(F.col("k") != F.col("label"), F.col("dist2"))).alias("b2"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            # when/otherwise, not a bare cast: on a single-label corpus
            # b2 is NULL and SUM over cast(NULL) would return NULL
            # where the oracle's CASE yields 0 (round-9 review finding)
            F.sum(
                F.when(F.col("b2") > F.col("a2"), 1).otherwise(0)
            ).alias("n_well"),
            F.sum(F.col("b2") - F.col("a2")).alias("margin_sum"),
        )
        .orderBy("label")
    )


# --- q_llm_embed_centroids (round 2) ---------------------------------------


@query(
    "q_llm_embed_centroids",
    oracle="""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT label, dim,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(round(v * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS centroid
    FROM flat GROUP BY label, dim
    """,
    category="2.J",
)
def q_llm_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus, as (label, dim, value)
    rows — the class-prototype table every centroid-classifier / IVF
    coarse-quantizer bootstrap needs. Mean per dimension is exact via the
    fixed-point int64 discipline (parity.py isum): round(v·10⁶) sums are
    order-independent, one division chain at the end.

    Shape: posexplode to (label, dim, v) then ONE hash-agg — map-side
    partial combine means the exchange carries |labels|×64 rows per
    partition, not the corpus. At 100 TB this is the textbook
    billion-vector centroid job: no collect, no driver state, output
    bounded by labels×dims."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    return flat.groupBy("label", "dim").agg(
        F.count("*").alias("n_vecs"),
        (
            F.sum(F.round(F.col("v") * 1_000_000).cast("long")).cast("double")
            / 1_000_000.0
            / F.count("*")
        ).alias("centroid"),
    )


# --- q_llm_cluster_assign (round 2) ----------------------------------------


@query(
    "q_llm_cluster_assign",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, dim,
             CAST(round(
               CAST(SUM(CAST(round(v * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*) * 1000000) AS BIGINT) AS ci
      FROM flat GROUP BY label, dim
    ),
    q AS (
      SELECT vec_id, dim, CAST(round(v * 1000000) AS BIGINT) AS vi
      FROM flat
    ),
    scores AS (
      SELECT q.vec_id, cent.clabel,
             CAST(SUM(q.vi * cent.ci) AS BIGINT) AS dot
      FROM q JOIN cent USING (dim)
      GROUP BY q.vec_id, cent.clabel
    ),
    ranked AS (
      SELECT vec_id, clabel AS assigned, dot,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY dot DESC, clabel) AS rn
      FROM scores
    )
    SELECT vec_id, assigned, dot FROM ranked WHERE rn = 1
    """,
    category="2.J",
)
def q_llm_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means E-step: assign every vector to its nearest label
    centroid by (quantized) dot product — the building block of IVF list
    assignment and centroid-classifier inference. Vectors AND centroids
    are quantized to integer micro-units so the 64-term dot products sum
    exactly in int64: the argmax is bit-deterministic on both engines
    (ties broken by smallest label).

    Shape: the centroid moments (int64 sums + counts per (label, dim))
    come from a shuffle-free mapInPandas map-side combine — each Arrow
    batch emits one labels×dims partial block; the collect is bounded at
    partitions×labels×dims (same class as the IVF training sample) and
    reduces in pandas. The E-step itself is ONE mapInPandas pass with the
    quantized centroid matrix broadcast into the task: an int64 GEMM per
    Arrow batch, zero shuffles, zero windows.
    This IS the 100 TB layout — the scan parallelizes, nothing else
    exists. np.argmax returns the first maximum, and centroid rows are
    ordered by label, so ties break to the smallest label exactly like
    the oracle's (dot DESC, label) ranking."""
    e = load_table(spark, sf_dir, "embeddings")

    def _away(x: np.ndarray) -> np.ndarray:
        # round-half-away-from-zero: Spark round() and DuckDB round()
        # semantics; np.round is half-even (the wrong rule).
        return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))

    # Phase 1 — centroid moments as a map-side combine: each Arrow batch
    # emits one (label, dim, partial-sum, count) block; no explode, no
    # shuffle. The collect is bounded at partitions×labels×dims.
    def partial_moments(batches):
        for pdf in batches:
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Xq = _away(X * 1_000_000.0).astype("int64")
            lab = pdf["label"].to_numpy()
            for lb in np.unique(lab):
                rows = Xq[lab == lb]
                yield pd.DataFrame(
                    {
                        "label": np.full(rows.shape[1], lb, dtype="int64"),
                        "dim": np.arange(rows.shape[1], dtype="int64"),
                        "s": rows.sum(axis=0, dtype="int64"),
                        "n": np.full(rows.shape[1], len(rows), dtype="int64"),
                    }
                )

    partials = (
        e.select("label", "embedding")
        .mapInPandas(partial_moments, "label long, dim long, s long, n long")
        .toPandas()
    )
    moments = (
        partials.groupby(["label", "dim"], as_index=False)[["s", "n"]]
        .sum()
        .sort_values(["label", "dim"])
    )
    labels = np.sort(moments["label"].unique()).astype("int64")
    dims = int(moments["dim"].max()) + 1
    # Identical double ops to the oracle's centroid expression.
    mean_micro = (
        moments["s"].to_numpy().astype("float64")
        / 1_000_000.0
        / moments["n"].to_numpy()
        * 1_000_000.0
    )
    C = _away(mean_micro).astype("int64").reshape(len(labels), dims)

    def assign(batches):
        for pdf in batches:
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Xq = _away(X * 1_000_000.0).astype("int64")
            dots = Xq @ C.T
            best = np.argmax(dots, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "assigned": labels[best],
                    "dot": dots[np.arange(len(pdf)), best],
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, assigned int, dot long"
    )


@query(
    "q_llm_semdedup",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, qv,
             list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b)
               AS nn
      FROM q
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM n a JOIN n b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_reduce(list_transform(list_zip(a.qv, b.qv),
                                       s -> s[1] * s[2]), (x, y) -> x + y) > 0
        AND 100 * list_reduce(list_transform(list_zip(a.qv, b.qv),
                                             s -> s[1] * s[2]),
                              (x, y) -> x + y)
            * list_reduce(list_transform(list_zip(a.qv, b.qv),
                                         s -> s[1] * s[2]), (x, y) -> x + y)
            >= 9 * a.nn * b.nn
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM dropped)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM n
    GROUP BY label ORDER BY label
    """,
    category="2.J",
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (cluster-then-pairwise semantic dedup, Abbas et al. 2023,
    public arXiv): within each embedding cluster — the `label` column
    stands in for the k-means assignment a 100 TB pipeline computes
    first — drop every vector whose cosine to a LOWER-id cluster-mate
    exceeds τ=0.30 (survivor = min id, matching the exact-dedup ladder's
    survivorship rule). The kernel quantizes to int8 exactly like
    q_llm_embed_quantize, so the comparison is pure integer math:
    cos ≥ τ ⇔ dot > 0 ∧ 100·dot² ≥ 9·|a|²·|b|² — no sqrt, no float, and
    therefore bit-exact across engines. Scale shape: pairwise work is
    confined WITHIN clusters (the whole point of SemDedup) — one shuffle
    on label, each group a dense int GEMM; at 100 TB clusters are sized
    (~10k vectors) so each group's S = QQᵀ fits an executor, and the
    output collapses to per-cluster counters before leaving the
    executor."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        Q = np.floor(
            np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            * 127.0 + 0.5
        ).astype(np.int64)
        S = Q @ Q.T
        nn = np.diag(S)
        cond = (S > 0) & (100 * S * S >= 9 * np.outer(nn, nn))
        lower = np.tril(cond, k=-1)  # rows sorted by vec_id: j<i ⇔ lower id
        dropped = lower.any(axis=1)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(pdf)],
                "n_dropped": [int(dropped.sum())],
            }
        )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "label", F.col("embedding").alias("emb"))
        .groupBy("label")
        .applyInPandas(kernel, "label int, n_vecs long, n_dropped long")
        .select(
            "label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
        )
        .orderBy("label")
    )


def _sign_code_index(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(quantized vectors, sign-code table) for the PQ-sign ANN family:
    int8 quantization, 8 subspaces x 8 dims, 8-bit sign code per
    subspace. Shared by q_llm_ann_pq (in-memory) and
    q_llm_ann_index_persist (parquet round-trip)."""
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))"
        ).alias("qv"),
    )
    comps = q.select(
        "vec_id", F.posexplode("qv").alias("i", "val")
    ).select(
        "vec_id",
        (F.col("i") / 8).cast("int").alias("j"),
        (F.col("i") % 8).alias("b"),
        "val",
    )
    codes = comps.groupBy("vec_id", "j").agg(
        F.sum(
            F.when(F.col("val") > 0, F.expr("shiftleft(1, b)")).otherwise(0)
        ).alias("code")
    )
    return q, codes


# Shared by q_llm_ann_pq and q_llm_ann_index_persist: the persisted
# index round-trip is lossless, so both run against the same exact
# sign-code oracle.
_PQ_SIGN_ORACLE = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    comps AS (
      SELECT q.vec_id, (t.i - 1) // 8 AS j, (t.i - 1) % 8 AS b,
             q.qv[t.i] AS val
      FROM q CROSS JOIN generate_series(1, 64) t(i)
    ),
    codes AS (
      SELECT vec_id, j,
             CAST(SUM(CASE WHEN val > 0 THEN 1 << b ELSE 0 END) AS BIGINT)
               AS code
      FROM comps GROUP BY vec_id, j
    ),
    probes AS (SELECT * FROM codes WHERE vec_id < 5),
    cand AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id
      FROM probes p JOIN codes c
        ON c.j = p.j AND c.code = p.code AND c.vec_id <> p.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT cand.probe_id, cand.cand_id,
             list_reduce(list_transform(list_zip(a.qv, b.qv),
               s -> s[1] * s[2]), (x, y) -> x + y) AS qdot
      FROM cand
      JOIN q a ON a.vec_id = cand.probe_id
      JOIN q b ON b.vec_id = cand.cand_id
    ),
    ranked AS (
      SELECT probe_id, cand_id, qdot,
             CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY qdot DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT probe_id, cand_id, qdot, rank
    FROM ranked WHERE rank <= 5
    ORDER BY probe_id, rank
    """


@query("q_llm_ann_pq", oracle=_PQ_SIGN_ORACLE, category="2.J")
def q_llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-code ANN (multi-index hashing): vectors are int8-quantized,
    split into 8 subspaces of 8 dims, each reduced to an 8-bit SIGN code
    — the deterministic, training-free cousin of product-quantization
    codebooks (a trained PQ would k-means each subspace; sign codes keep
    the whole pipeline expressible on both engines, so unlike IVF/LSH
    this ANN variant gets an EXACT oracle instead of a weak row check).
    Probes (vec_id < 5) match candidates sharing ≥1 sub-code (8-band
    banding, the q_llm_minhash_lsh pattern), then candidates are
    re-ranked by the exact integer dot product with a deterministic
    (qdot desc, cand_id) top-5 cut.

    Scale: codes are 8 small ints per vector — the candidate join moves
    (vec_id, j, code) triples, never embeddings; re-rank joins fetch
    only the candidate pairs' vectors. At 100 TB the code table is the
    index you'd persist (bucketed by (j, code)); probe fan-out is
    per-band hash lookups + a top-k — no scan of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q, codes = _sign_code_index(emb)
    probes = codes.where(F.col("vec_id") < 5)
    cand = (
        F.broadcast(
            probes.select(
                F.col("vec_id").alias("probe_id"), "j", "code"
            )
        )
        .join(codes, ["j", "code"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    qa = q.select(F.col("vec_id").alias("probe_id"), F.col("qv").alias("qa"))
    qb = q.select(F.col("vec_id").alias("cand_id"), F.col("qv").alias("qb"))
    qdot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(F.broadcast(qa), "probe_id")
        .join(qb, "cand_id")
        .select("probe_id", "cand_id", qdot.alias("qdot"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("qdot"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("probe_id", "cand_id", "qdot", "rank")
        .orderBy("probe_id", "rank")
    )


_PQ_D2_SQL = (
    "list_reduce(list_transform(list_zip(s.sqv, c.cv),"
    " z -> (z[1] * 128 - z[2]) * (z[1] * 128 - z[2])), (u, v) -> u + v)"
)


def _pq_lloyd_sql(n_iters: int = 5) -> tuple[str, str]:
    """Unrolled per-subspace integer Lloyd CTE chain (see
    q_llm_ann_pq_trained) — the q_llm_ann_ivf chain with (j, k) group
    keys so all 8 subspace codebooks train in the same relational
    passes. Same floor-exactness argument as _ivf_lloyd_sql."""
    parts = []
    prev = "c0"
    for i in range(1, n_iters + 1):
        parts.append(f"""
    a{i} AS (
      SELECT j, sid, sqv, k FROM (
        SELECT s.j, s.sid, s.sqv, c.k,
               row_number() OVER (PARTITION BY s.j, s.sid
                                  ORDER BY {_PQ_D2_SQL}, c.k) AS rn
        FROM sub s JOIN {prev} c ON c.j = s.j) WHERE rn = 1),
    n{i} AS (
      SELECT j, k, list(csum ORDER BY d) AS cv FROM (
        SELECT a.j, a.k, u.d,
               CAST(floor(CAST(SUM(u.v) * 128 AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS csum
        FROM a{i} a, LATERAL (
          SELECT generate_subscripts(a.sqv, 1) AS d, unnest(a.sqv) AS v) u
        GROUP BY a.j, a.k, u.d) GROUP BY j, k),
    c{i} AS (
      SELECT p.j, p.k, COALESCE(n.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN n{i} n ON n.j = p.j AND n.k = p.k)""")
        prev = f"c{i}"
    return ",".join(parts), prev


_PQ_LLOYD_CTES, _PQ_FINAL_C = _pq_lloyd_sql()


@query(
    "q_llm_ann_pq_trained",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    samp AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, qv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 256)
    ),
    sub AS (
      SELECT sid, j, qv[j * 8 + 1 : j * 8 + 8] AS sqv
      FROM samp, LATERAL (SELECT unnest(range(0, 8)) AS j)
    ),
    c0 AS (
      SELECT j, sid AS k, list_transform(sqv, v -> v * 128) AS cv
      FROM sub WHERE sid < 16
    ),{_PQ_LLOYD_CTES},
    csub AS (
      SELECT vec_id, j, qv[j * 8 + 1 : j * 8 + 8] AS sqv
      FROM q, LATERAL (SELECT unnest(range(0, 8)) AS j)
    ),
    codes AS (
      SELECT vec_id, j, k AS code FROM (
        SELECT s.vec_id, s.j, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                                  ORDER BY {_PQ_D2_SQL}, c.k) AS rn
        FROM csub s JOIN {_PQ_FINAL_C} c ON c.j = s.j) WHERE rn = 1),
    cand AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM codes p
      JOIN codes c ON c.j = p.j AND c.code = p.code
                   AND c.vec_id <> p.vec_id
      WHERE p.vec_id < 5
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    scored AS (
      SELECT cand.probe_id, cand.cand_id, cand.n_shared,
             list_reduce(list_transform(list_zip(a.qv, b.qv),
                                        z -> z[1] * z[2]),
                         (u, v) -> u + v) AS qdot
      FROM cand
      JOIN q a ON a.vec_id = cand.probe_id
      JOIN q b ON b.vec_id = cand.cand_id
    )
    SELECT probe_id, cand_id, n_shared, qdot, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                     ORDER BY qdot DESC, cand_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY probe_id, rank
    """,
    category="2.J",
)
def q_llm_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook product quantization ANN — the full PQ (Jégou et
    al. 2011, public) next to the training-free sign-code variant
    (q_llm_ann_pq): each of 8 subspaces gets a 16-codeword k-means
    codebook trained on a BOUNDED 256-vector driver sample (the
    q_llm_ann_ivf pattern — sample size independent of corpus size),
    vectors encode to 8 bytes, probes (vec_id < 5) match candidates
    sharing ≥2 sub-codes, and survivors re-rank by exact integer dot.

    EXACT oracle since r9 (r8 verdict item 3): codebook training runs
    in the same pure-int64 Lloyd as q_llm_ann_ivf (quantized
    subvectors, floor(sum*128/n) centroids, squared-L2 argmin with
    lowest-k ties), so the oracle's per-subspace unrolled CTE chain
    reproduces the trained codebooks, the 8-byte codes, the ≥2-shared-
    code candidate gate, and the (qdot desc, cand_id) top-5 per probe
    bit-for-bit. Scale: training cost is constant; encoding is one
    mapInPandas pass; the candidate join moves (vec_id, j, code)
    triples only — same persistable-index shape as the sign-code PQ."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.orderBy("vec_id").limit(256).select("embedding").collect()
    )
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in sample])
    Qs = np.floor(X * 127.0 + 0.5).astype(np.int64)
    n_sub, sub_d, n_code = 8, 8, 16
    books = []
    for j in range(n_sub):
        S = Qs[:, j * sub_d : (j + 1) * sub_d]
        C = 128 * S[:n_code].copy()  # deterministic init, scale 128
        for _ in range(5):
            d2 = ((128 * S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest index
            for k in range(n_code):
                m = S[assign == k]
                if len(m):
                    C[k] = (m.sum(axis=0) * 128) // len(m)
        books.append(C)
    B = np.stack(books)  # (8, 16, 8) int64

    def encode(batches):
        for pdf in batches:
            Xb = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Qb = np.floor(Xb * 127.0 + 0.5).astype(np.int64)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for j in range(n_sub):
                S = Qb[:, j * sub_d : (j + 1) * sub_d]
                d2 = ((128 * S[:, None, :] - B[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                out[f"c{j}"] = np.argmin(d2, axis=1).astype("int32")
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(f"c{j} int" for j in range(n_sub))
    codes_wide = emb.select("vec_id", "embedding").mapInPandas(encode, schema)
    codes = codes_wide.selectExpr(
        "vec_id",
        "stack(8, " + ", ".join(f"{j}, c{j}" for j in range(n_sub)) + ")"
        " AS (j, code)",
    )
    probes = codes.where(F.col("vec_id") < 5)
    cand = (
        F.broadcast(
            probes.select(F.col("vec_id").alias("probe_id"), "j", "code")
        )
        .join(codes, ["j", "code"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("cand_id"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    qa = emb.select(
        F.col("vec_id").alias("probe_id"), quantize_int8().alias("ea")
    )
    qb = emb.select(
        F.col("vec_id").alias("cand_id"), quantize_int8().alias("eb")
    )
    qdot = dot_long("ea", "eb")
    scored = (
        cand.join(F.broadcast(qa), "probe_id")
        .join(qb, "cand_id")
        .select("probe_id", "cand_id", "n_shared", qdot.alias("qdot"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("qdot"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("probe_id", "cand_id", "n_shared", "qdot", "rank")
        .orderBy("probe_id", "rank")
    )


@query(
    "q_llm_triplet_mine",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    anchors AS (SELECT * FROM q WHERE vec_id < 50),
    pos AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS pos_id,
             list_reduce(list_transform(list_zip(a.qv, c.qv),
               s -> s[1] * s[2]), (x, y) -> x + y) AS pos_qdot,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_reduce(list_transform(list_zip(a.qv, c.qv),
                 s -> s[1] * s[2]), (x, y) -> x + y) DESC, c.vec_id) AS rn
      FROM anchors a JOIN q c
        ON c.label = a.label AND c.vec_id <> a.vec_id
    ),
    neg AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY (c.vec_id * 2654435761) % 4294967296, c.vec_id)
               AS rn
      FROM anchors a JOIN q c ON c.label <> a.label
    )
    SELECT p.anchor_id, p.pos_id, p.pos_qdot, n.neg_id
    FROM (SELECT * FROM pos WHERE rn = 1) p
    JOIN (SELECT * FROM neg WHERE rn = 1) n USING (anchor_id)
    ORDER BY anchor_id
    """,
    category="2.J",
)
def q_llm_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining: for each anchor, the hardest
    POSITIVE (same cluster label, max int8-quantized dot — exact
    integer, tie → lowest id) and a deterministic NEGATIVE (different
    label, Knuth-hash argmin — reproducible, not RNG). This is the
    (anchor, positive, negative) construction every embedding-model
    fine-tune consumes. Scale note: the negative here scans the
    complement per anchor for oracle parity; at 100 TB you keep the
    GLOBAL top-2 hash-minima (one tiny agg) and pick whichever label
    differs — O(1) per anchor, same output. Positives shuffle once on
    label, exactly the SemDedup layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label",
        F.expr(
            "transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))"
        ).alias("qv"),
    )
    a = q.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("albl"),
        F.col("qv").alias("qa"),
    )
    qdot = F.aggregate(
        F.zip_with("qa", "qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pos_scored = (
        F.broadcast(a)
        .join(q, F.col("label") == F.col("albl"))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select("anchor_id", F.col("vec_id").alias("pos_id"), qdot.alias("pos_qdot"))
    )
    wpos = Window.partitionBy("anchor_id").orderBy(
        F.desc("pos_qdot"), F.asc("pos_id")
    )
    pos = (
        pos_scored.withColumn("rn", F.row_number().over(wpos))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    neg_scored = (
        F.broadcast(a.select("anchor_id", "albl"))
        .join(q, F.col("label") != F.col("albl"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            ((F.col("vec_id") * F.lit(2654435761)) % F.lit(4294967296)).alias(
                "h"
            ),
        )
    )
    wneg = Window.partitionBy("anchor_id").orderBy(F.asc("h"), F.asc("neg_id"))
    neg = (
        neg_scored.withColumn("rn", F.row_number().over(wneg))
        .where(F.col("rn") == 1)
        .select("anchor_id", "neg_id")
    )
    return pos.join(neg, "anchor_id").orderBy("anchor_id")


@query(
    "q_llm_semdedup_medoid",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, qv,
             list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b)
               AS nn
      FROM q
    ),
    t AS (
      SELECT a.label, a.vec_id,
             CAST(SUM(list_reduce(list_transform(list_zip(a.qv, b.qv),
                                                 s -> s[1] * s[2]),
                                  (x, y) -> x + y)) AS BIGINT) AS tot
      FROM n a JOIN n b ON a.label = b.label
      GROUP BY a.label, a.vec_id
    ),
    med AS (
      SELECT label, vec_id AS medoid_id
      FROM (SELECT label, vec_id,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY tot DESC, vec_id) AS rk
            FROM t)
      WHERE rk = 1
    ),
    scored AS (
      SELECT i.label, i.vec_id,
             CASE WHEN i.vec_id <> m.medoid_id
                   AND list_reduce(list_transform(list_zip(i.qv, j.qv),
                                                  s -> s[1] * s[2]),
                                   (x, y) -> x + y) > 0
                   AND 100 * list_reduce(list_transform(list_zip(i.qv, j.qv),
                                                        s -> s[1] * s[2]),
                                         (x, y) -> x + y)
                       * list_reduce(list_transform(list_zip(i.qv, j.qv),
                                                    s -> s[1] * s[2]),
                                     (x, y) -> x + y)
                       >= 9 * i.nn * j.nn
                  THEN 1 ELSE 0 END AS dropped
      FROM n i
      JOIN med m ON m.label = i.label
      JOIN n j ON j.label = i.label AND j.vec_id = m.medoid_id
    )
    SELECT s.label, m.medoid_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped
    FROM scored s JOIN med m ON m.label = s.label
    GROUP BY s.label, m.medoid_id
    ORDER BY s.label
    """,
    category="2.J",
)
def q_llm_semdedup_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medoid-anchored SemDedup (the Abbas et al. 2023 "keep the example
    closest to the cluster center" policy, done exactly): per cluster,
    elect the medoid = argmax of total inner product to cluster-mates
    (int8 codes -> every S_ij and row sum is exact int64; vectors are
    L2-normalized so dot ranks like cosine; ties break to min id —
    argmax over id-sorted rows), then drop every OTHER member whose
    cosine to the medoid clears tau=0.30 via the integer predicate
    dot>0 AND 100 dot^2 >= 9 |i|^2|m|^2. Unlike min-id survivorship
    (q_llm_semdedup), the survivor is the most REPRESENTATIVE member —
    the policy that preserves cluster semantics when downsampling.
    Scale: one label shuffle, per-cluster GEMM + one matrix-vector row;
    output is one row per cluster. O(k^2) per cluster is the same budget
    SemDedup already spends; nothing leaves the executor at row grain."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        Q = np.floor(
            np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            * 127.0 + 0.5
        ).astype(np.int64)
        S = Q @ Q.T
        nn = np.diag(S)
        tot = S.sum(axis=1)
        m = int(np.argmax(tot))  # first max == min vec_id (rows id-sorted)
        sim = S[:, m]
        cond = (sim > 0) & (100 * sim * sim >= 9 * nn * nn[m])
        cond[m] = False
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "medoid_id": [int(pdf["vec_id"].iloc[m])],
                "n_vecs": [len(pdf)],
                "n_dropped": [int(cond.sum())],
            }
        )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "label", F.col("embedding").alias("emb"))
        .groupBy("label")
        .applyInPandas(
            kernel, "label int, medoid_id long, n_vecs long, n_dropped long"
        )
        .select(
            "label",
            "medoid_id",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
        )
        .orderBy("label")
    )


@query(
    "q_llm_cluster_purity",
    oracle="""
    WITH sk AS (
      SELECT vec_id, label,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
             + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
             + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS cl
      FROM embeddings
    ),
    ct AS (
      SELECT cl, label, CAST(COUNT(*) AS BIGINT) AS m
      FROM sk GROUP BY 1, 2
    ),
    n AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM ct),
    pc AS (SELECT cl, CAST(SUM(m) AS BIGINT) AS mc FROM ct GROUP BY cl),
    pl AS (SELECT label, CAST(SUM(m) AS BIGINT) AS ml FROM ct GROUP BY label),
    mi AS (
      SELECT CAST(SUM(CAST(
               ct.m * ln(CAST(ct.m AS DOUBLE) * n.n
                         / (CAST(pc.mc AS DOUBLE) * pl.ml))
             AS DECIMAL(38, 18))) AS DOUBLE) AS minfo
      FROM ct JOIN pc USING (cl) JOIN pl USING (label) CROSS JOIN n
    ),
    hc AS (
      SELECT -CAST(SUM(CAST(
                mc * ln(CAST(mc AS DOUBLE) / n.n)
              AS DECIMAL(38, 18))) AS DOUBLE) AS h
      FROM pc CROSS JOIN n
    ),
    hl AS (
      SELECT -CAST(SUM(CAST(
                ml * ln(CAST(ml AS DOUBLE) / n.n)
              AS DECIMAL(38, 18))) AS DOUBLE) AS h
      FROM pl CROSS JOIN n
    ),
    pur AS (
      SELECT CAST(SUM(mx) AS BIGINT) AS agree
      FROM (SELECT cl, MAX(m) AS mx FROM ct GROUP BY cl)
    )
    SELECT n.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pc) AS n_clusters,
           CAST(pur.agree AS DOUBLE) / n.n AS purity,
           floor(mi.minfo / sqrt(hc.h * hl.h) * 1000000.0 + 0.5)
             / 1000000.0 AS nmi
    FROM n CROSS JOIN pur CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl
    """,
    category="2.J",
)
def q_llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-evaluation metrics — purity and normalized mutual
    information of a deterministic 8-bit sign-sketch clustering (the
    first 8 embedding dims' signs, the LSH cell every ANN rung already
    trusts) against the ground-truth label column. This is the EVAL step
    of the clustering ladder (centroids -> assign -> evaluate): purity =
    sum of per-cluster majority mass / n (exact int ratio); NMI =
    I(C;L)/sqrt(H(C) H(L)) with every ln taking a ratio of exact ints,
    DECIMAL term sums, floor-6dp (law 18). Scale: one hash-agg to the
    (cluster x label) contingency table — 256 x |labels| cells — then
    bounded folds; the sketch itself is a zero-shuffle projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    bits = sum(
        (F.element_at("embedding", j + 1) > 0).cast("int") * (2 ** j)
        for j in range(8)
    )
    sk = emb.select("vec_id", "label", bits.alias("cl"))
    ct = sk.groupBy("cl", "label").agg(F.count("*").alias("m"))
    n = ct.agg(F.sum("m").alias("n"))
    pc = ct.groupBy("cl").agg(F.sum("m").alias("mc"))
    pl = ct.groupBy("label").agg(F.sum("m").alias("ml"))
    mi = (
        ct.join(F.broadcast(pc), "cl")
        .join(F.broadcast(pl), "label")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                (
                    F.col("m")
                    * F.log(
                        F.col("m").cast("double") * F.col("n")
                        / (F.col("mc").cast("double") * F.col("ml"))
                    )
                ).cast("decimal(38,18)")
            ).cast("double").alias("minfo")
        )
    )
    hc = pc.crossJoin(F.broadcast(n)).agg(
        (-F.sum(
            (F.col("mc") * F.log(F.col("mc").cast("double") / F.col("n")))
            .cast("decimal(38,18)")
        ).cast("double")).alias("h_c")
    )
    hl = pl.crossJoin(F.broadcast(n)).agg(
        (-F.sum(
            (F.col("ml") * F.log(F.col("ml").cast("double") / F.col("n")))
            .cast("decimal(38,18)")
        ).cast("double")).alias("h_l")
    )
    pur = (
        ct.groupBy("cl").agg(F.max("m").alias("mx"))
        .agg(F.sum("mx").alias("agree"), F.count("*").alias("n_clusters"))
    )
    return (
        n.crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            "n",
            "n_clusters",
            (F.col("agree").cast("double") / F.col("n")).alias("purity"),
            (
                F.floor(
                    F.col("minfo") / F.sqrt(F.col("h_c") * F.col("h_l"))
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("nmi"),
        )
    )


@query(
    "q_llm_ann_recall",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))
               AS qv,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, bucket,
             list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b)
               AS nn
      FROM q
    ),
    pairs AS (
      SELECT a.vec_id AS probe, b.vec_id AS cand,
             a.bucket AS pb, b.bucket AS cb,
             CAST(floor(
               CASE WHEN list_reduce(list_transform(list_zip(a.qv, b.qv),
                                                    s -> s[1] * s[2]),
                                     (x, y) -> x + y) >= 0
                    THEN 1.0 ELSE -1.0 END
               * CAST(list_reduce(list_transform(list_zip(a.qv, b.qv),
                                                 s -> s[1] * s[2]),
                                  (x, y) -> x + y) AS DOUBLE)
               * list_reduce(list_transform(list_zip(a.qv, b.qv),
                                            s -> s[1] * s[2]),
                             (x, y) -> x + y)
               / b.nn * 1000000.0) AS BIGINT) AS skey
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    ),
    exact AS (
      SELECT probe, cand,
             row_number() OVER (PARTITION BY probe
                                ORDER BY skey DESC, cand) AS rk
      FROM pairs
    ),
    ann AS (
      SELECT probe, cand,
             row_number() OVER (PARTITION BY probe
                                ORDER BY skey DESC, cand) AS rk
      FROM pairs WHERE cb = pb
    )
    SELECT e.probe,
           CAST(COUNT(a.cand) AS BIGINT) AS n_hit,
           floor(COUNT(a.cand) / 10.0 * 10000.0 + 0.5) / 10000.0
             AS recall_at_10
    FROM exact e
    LEFT JOIN ann a ON a.probe = e.probe AND a.cand = e.cand
                    AND a.rk <= 10
    WHERE e.rk <= 10
    GROUP BY e.probe
    ORDER BY e.probe
    """,
    category="2.J",
)
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@10 evaluation — the missing EVAL rung of the ANN
    ladder (what q_llm_dedup_eval is to MinHash-LSH): for 10 fixed
    probes, compare the 4-bit sign-bucket ANN's top-10 against the
    exact top-10 and report per-probe recall. Ranking is DETERMINISTIC
    across engines: int8 codes give exact int64 dots S and norms; the
    sort key floor(sign * S^2 / nn * 1e6) is one IEEE division +
    floor of exact ints (monotone in cosine for fixed probe), ties by
    id — so both rankings replay bit-identically in SQL. Scale: the
    exact side is the brute-force baseline CONFINED to 10 probes (one
    broadcast GEMM row per probe); the ANN side reuses the same scored
    pairs filtered to the probe's bucket. Per-probe windows have
    |corpus| rows max — the probe set bounds the partition count."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    probes_pd = (
        emb.where(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    Praw = np.vstack(
        [np.asarray(v, dtype=np.float64) for v in probes_pd["embedding"]]
    )
    P = np.floor(Praw * 127.0 + 0.5).astype(np.int64)
    p_ids = probes_pd["vec_id"].to_numpy()
    # bucket on the RAW sign: the quantizer maps tiny positives to code
    # 0, which would flip the bucket bit vs the oracle's embedding[j]>0
    p_buckets = (
        (Praw[:, :4] > 0) * (1 << np.arange(4))
    ).sum(axis=1).astype(np.int64)

    def score(batches):
        for pdf in batches:
            Xraw = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Q = np.floor(Xraw * 127.0 + 0.5).astype(np.int64)
            nn = (Q * Q).sum(axis=1)
            cb = ((Xraw[:, :4] > 0) * (1 << np.arange(4))).sum(axis=1)
            S = Q @ P.T  # (batch, probes) exact int64
            for j in range(len(p_ids)):
                s = S[:, j]
                key = np.floor(
                    np.sign(s) * (s.astype(np.float64) * s) / nn * 1e6
                ).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "probe": np.full(len(s), p_ids[j]),
                        "cand": pdf["vec_id"].to_numpy(),
                        "pb": np.full(len(s), p_buckets[j]),
                        "cb": cb,
                        "skey": key,
                    }
                )

    pairs = (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            score, "probe long, cand long, pb long, cb long, skey long"
        )
        .where(F.col("cand") != F.col("probe"))
    )
    w = Window.partitionBy("probe").orderBy(F.desc("skey"), "cand")
    exact = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("probe", "cand")
    )
    ann = (
        pairs.where(F.col("cb") == F.col("pb"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select(
            F.col("probe").alias("aprobe"), F.col("cand").alias("acand")
        )
    )
    return (
        exact.join(
            ann,
            (F.col("probe") == F.col("aprobe"))
            & (F.col("cand") == F.col("acand")),
            "left",
        )
        .groupBy("probe")
        .agg(
            F.count("acand").alias("n_hit"),
            (
                F.floor(F.count("acand") / 10.0 * 10000.0 + F.lit(0.5))
                / 10000.0
            ).alias("recall_at_10"),
        )
        .orderBy("probe")
    )


@query(
    "q_llm_embed_norm_audit",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             len(embedding) AS dim,
             list_reduce(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT)
                    * CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5)
                      AS BIGINT)),
               (a, b) -> a + b) AS nn,
             len(list_filter(embedding, x -> x = 0)) AS n_zero_dims
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_dim,
           CAST(SUM(CASE WHEN abs(nn - 16129) > 300 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_off_unit,
           CAST(SUM(CASE WHEN n_zero_dims * 2 > dim THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mostly_zero,
           CAST(MIN(nn) AS BIGINT) AS min_nn,
           CAST(MAX(nn) AS BIGINT) AS max_nn
    FROM q GROUP BY label ORDER BY label
    """,
    category="2.J",
)
def q_llm_embed_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene audit — the checks run BEFORE trusting any
    similarity number: per label, vectors with the wrong dimensionality,
    vectors far off unit norm, and mostly-zero vectors (a dead encoder
    head / failed batch shows up here first). Norms are audited in the
    int8-quantized space the whole ANN ladder operates in (nn =
    sum of q_i^2; unit vectors land near 127^2 = 16129), so every
    predicate is EXACT integer comparison — a float-norm threshold
    would sit one summation-order ulp from flipping (the hazard this
    engine never takes). One zero-shuffle projection + one bounded
    agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127.0 + 0.5).cast("long"),
    )
    q = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.aggregate(
            F.zip_with(qv, qv, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nn"),
        F.size(F.filter("embedding", lambda x: x == 0)).alias(
            "n_zero_dims"
        ),
    )
    return (
        q.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(
                F.when(F.col("dim") != 64, 1).otherwise(0)
            ).alias("n_bad_dim"),
            F.sum(
                F.when(F.abs(F.col("nn") - 16129) > 300, 1).otherwise(0)
            ).alias("n_off_unit"),
            F.sum(
                F.when(
                    F.col("n_zero_dims") * 2 > F.col("dim"), 1
                ).otherwise(0)
            ).alias("n_mostly_zero"),
            F.min("nn").alias("min_nn"),
            F.max("nn").alias("max_nn"),
        )
        .orderBy("label")
    )


_COV_DIM = 64


@query(
    "q_llm_embed_covariance",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    grid AS (
      SELECT i, j
      FROM (SELECT unnest(generate_series(1, {_COV_DIM})) AS i),
           (SELECT unnest(generate_series(1, {_COV_DIM})) AS j)
      WHERE j >= i
    ),
    px AS (SELECT i, j, qv[i] AS qi, qv[j] AS qj FROM q CROSS JOIN grid),
    agg AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qi) AS BIGINT) AS s_i,
             CAST(SUM(qj) AS BIGINT) AS s_j,
             CAST(SUM(qi * qj) AS BIGINT) AS s_ij
      FROM px GROUP BY i, j
    )
    SELECT i, j, n, s_i, s_j, s_ij,
           n * s_ij - s_i * s_j AS cov_num
    FROM agg
    """,
    category="2.J",
)
def q_llm_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance moments of the embedding corpus — the input every
    whitening / PCA / Mahalanobis-SemDedup step needs before it can touch
    a single pair. Output: the upper-triangle (i ≤ j, 1-based) second-
    moment table over quantized coordinates (the established
    floor(x·1000 + 0.5) integer grid, cf. q_llm_embed_quantize) with the
    exact int64 covariance numerator n·Σxy − Σx·Σy; the caller divides by
    n(n−1) and eigendecomposes the 64×64 result driver-side.

    Scale shape — this is THE way to get a covariance at 100 TB: ONE
    data pass; each partition folds its vectors into a 64-vector of sums
    and a 64×64 int64 Gram matrix (numpy integer GEMM inside Arrow
    batches), emitting 2 080 constant-size partial rows; the only
    shuffle is #partitions × 2 080 tiny rows into a hash-agg (classic
    tree aggregation). Nothing data-scaled crosses the wire, no second
    pass, exact integers end-to-end (|q| ≤ 1 000 ⇒ products fit int64
    with ~10^5 headroom at any realistic corpus size)."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * 1000.0 + F.lit(0.5)
            ).cast("long"),
        ).alias("qv")
    )

    iu, ju = np.triu_indices(_COV_DIM)

    def gram_partials(batches):
        tot_n = 0
        s = np.zeros(_COV_DIM, dtype=np.int64)
        g = np.zeros((_COV_DIM, _COV_DIM), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            tot_n += m.shape[0]
            s += m.sum(axis=0)
            g += m.T @ m
        if tot_n == 0:
            return
        yield pd.DataFrame(
            {
                "i": iu + 1,
                "j": ju + 1,
                "n": np.full(iu.size, tot_n, dtype=np.int64),
                "s_i": s[iu],
                "s_j": s[ju],
                "s_ij": g[iu, ju],
            }
        )

    partials = q.mapInPandas(
        gram_partials,
        "i int, j int, n long, s_i long, s_j long, s_ij long",
    )
    agg = partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("s_i").alias("s_i"),
        F.sum("s_j").alias("s_j"),
        F.sum("s_ij").alias("s_ij"),
    )
    return agg.select(
        "i", "j", "n", "s_i", "s_j", "s_ij",
        (F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j")).alias(
            "cov_num"
        ),
    )


@query("q_llm_ann_index_persist", oracle=_PQ_SIGN_ORACLE, category="2.J")
def q_llm_ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistable ANN index round-trip (r5 verdict stretch 9b): the
    sign-code index is BUILT once, WRITTEN to parquet — the code table
    partitioned by subspace j (the on-disk layout a probe prunes to:
    a probe touches 8 partitions, one per band, never the full index)
    plus the quantized-vector store the re-rank fetches from — then
    RELOADED from disk by a fresh reader and PROBED exactly like
    q_llm_ann_pq. The round-trip is lossless integers, so this carries
    the same EXACT oracle: identical top-5 per probe as the in-memory
    index, proving index persistence changes no semantics.

    Scale: this is the offline-build/online-probe split every real ANN
    deployment has — at 100 TB the index build is the one big job, the
    persisted code table is bucketed by (j, code), and probes are
    partition-pruned point lookups + a candidate re-rank; embeddings
    never leave the vector store except for matched candidates."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    q, codes = _sign_code_index(emb)
    base = tempfile.mkdtemp(prefix="alsp_ann_index_")
    try:
        # offline: persist the index (codes partitioned by band j) and
        # the quantized vector store
        # cluster by band before the partitioned write (§6 small-files;
        # the q_join_dpp measurement): one file per band j
        codes.repartition("j").write.mode("overwrite").partitionBy(
            "j"
        ).parquet(f"{base}/codes")
        q.write.mode("overwrite").parquet(f"{base}/vectors")
        # online: fresh reads — nothing below touches the in-memory
        # frames, so the result proves the PERSISTED index is complete
        codes_r = spark.read.parquet(f"{base}/codes").select(
            "vec_id", F.col("j").cast("int").alias("j"), "code"
        )
        q_r = spark.read.parquet(f"{base}/vectors")
        probes = codes_r.where(F.col("vec_id") < 5)
        cand = (
            F.broadcast(
                probes.select(F.col("vec_id").alias("probe_id"), "j", "code")
            )
            .join(codes_r, ["j", "code"])
            .where(F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", F.col("vec_id").alias("cand_id"))
            .distinct()
        )
        qa = q_r.select(
            F.col("vec_id").alias("probe_id"), F.col("qv").alias("qa")
        )
        qb = q_r.select(
            F.col("vec_id").alias("cand_id"), F.col("qv").alias("qb")
        )
        qdot = F.aggregate(
            F.zip_with("qa", "qb", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = (
            cand.join(F.broadcast(qa), "probe_id")
            .join(qb, "cand_id")
            .select("probe_id", "cand_id", qdot.alias("qdot"))
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.desc("qdot"), F.asc("cand_id")
        )
        result = (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("probe_id", "cand_id", "qdot", "rank")
            .orderBy("probe_id", "rank")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# 1/log2(rank+1) DCG discounts and their running sums as EXACT double
# literals shared by both engines — computing log2 at runtime would expose
# the parity check to libm last-ulp differences; literals make every term
# bit-identical and leave only the 5-term sum order (floor-6dp-pinned).
_NDCG_DISC = (
    1.0,
    0.6309297535714575,
    0.5,
    0.43067655807339306,
    0.38685280723454163,
)
_NDCG_CUM = (
    1.0,
    1.6309297535714575,
    2.1309297535714578,
    2.5616063116448506,
    2.9484591188793923,
)
_NDCG_K = 5


def _ndcg_case(col: str, vals: tuple[float, ...]) -> str:
    arms = " ".join(
        f"WHEN {i + 1} THEN CAST({v!r} AS DOUBLE)"
        for i, v in enumerate(vals)
    )
    return f"CASE {col} {arms} END"


@query(
    "q_llm_ndcg_eval",
    oracle=f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, p.label AS probe_label,
             c.label AS cand_label,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY {SQL_DOT.format(a="p.embedding", b="c.embedding")} DESC,
                        c.vec_id) AS rnk
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) p
      JOIN (SELECT * FROM embeddings WHERE vec_id >= 10) c ON true
    ),
    dcg AS (
      SELECT probe_id, probe_label,
             SUM(CASE WHEN cand_label = probe_label
                      THEN {_ndcg_case("rnk", _NDCG_DISC)}
                      ELSE 0.0 END) AS dcg
      FROM scored WHERE rnk <= {_NDCG_K}
      GROUP BY probe_id, probe_label
    ),
    nrel AS (
      SELECT p.vec_id AS probe_id,
             CAST(COUNT(*) FILTER (WHERE c.label = p.label) AS BIGINT)
               AS n_rel
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) p
      JOIN (SELECT * FROM embeddings WHERE vec_id >= 10) c ON true
      GROUP BY 1
    )
    SELECT d.probe_id, n.n_rel,
           floor(d.dcg / {_ndcg_case(f"LEAST(n.n_rel, {_NDCG_K})", _NDCG_CUM)}
                 * 1000000 + 0.5) / 1000000 AS ndcg
    FROM dcg d JOIN nrel n ON n.probe_id = d.probe_id
    ORDER BY d.probe_id
    """,
    category="2.J",
)
def q_llm_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 retrieval evaluation — the ranking-quality companion to
    q_llm_ann_recall: for each of 10 probe vectors, rank the corpus by
    exact cosine and score the top-5 with binary label relevance;
    NDCG = DCG / ideal-DCG where the ideal packs all relevant items
    first (LEAST(n_rel, 5) cumulative discounts). Discounts are exact
    double LITERALS on both engines, so the only float exposure is the
    5-term sum order, floor-6dp-pinned. Scale shape: probes broadcast
    to every corpus partition (the q_llm_knn layout), WindowGroupLimit
    keeps 5 rows per probe past the exchange, and the relevant-count
    agg is one broadcast-join pass — evaluating a retrieval system on
    100 TB of candidates is exactly this plan with more partitions."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("pe"),
    )
    corpus = e.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("ce"),
    )
    scored = corpus.crossJoin(F.broadcast(probes)).withColumn(
        "sim", dot_double("pe", "ce")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    top = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= _NDCG_K
    )
    dcg = top.groupBy("probe_id", "probe_label").agg(
        F.sum(
            F.when(
                F.col("cand_label") == F.col("probe_label"),
                F.expr(_ndcg_case("rnk", _NDCG_DISC)),
            ).otherwise(F.lit(0.0))
        ).alias("dcg")
    )
    nrel = (
        corpus.crossJoin(F.broadcast(probes))
        .groupBy("probe_id")
        .agg(
            F.sum(
                (F.col("cand_label") == F.col("probe_label")).cast("bigint")
            ).alias("n_rel")
        )
    )
    idcg = F.expr(_ndcg_case(f"LEAST(n_rel, {_NDCG_K})", _NDCG_CUM))
    return (
        dcg.join(F.broadcast(nrel), "probe_id")
        .select(
            "probe_id",
            "n_rel",
            (F.floor(F.col("dcg") / idcg * 1000000.0 + F.lit(0.5)) / 1000000.0)
            .alias("ndcg"),
        )
        .orderBy("probe_id")
    )


_MMR_LAMBDA = "0.5"  # exact binary double — relevance/diversity tradeoff
_MMR_POOL = 10  # candidate pool per probe (top-k by relevance)


@query(
    "q_llm_mmr_diversify",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pe
      FROM embeddings WHERE vec_id < 5
    ),
    corpus AS (
      SELECT vec_id AS cand_id, embedding AS ce
      FROM embeddings WHERE vec_id >= 10
    ),
    scored AS (
      SELECT p.probe_id, c.cand_id, c.ce,
             {SQL_DOT.format(a="p.pe", b="c.ce")} AS sim_p,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY {SQL_DOT.format(a="p.pe", b="c.ce")} DESC,
                        c.cand_id) AS rnk
      FROM probes p JOIN corpus c ON true
    ),
    cand AS (SELECT * FROM scored WHERE rnk <= {_MMR_POOL}),
    cc AS (
      SELECT a.probe_id, a.cand_id AS a_id, b.cand_id AS b_id,
             {SQL_DOT.format(a="a.ce", b="b.ce")} AS sim_cc
      FROM cand a JOIN cand b
        ON a.probe_id = b.probe_id AND a.cand_id <> b.cand_id
    ),
    s1 AS (
      SELECT probe_id, cand_id AS pick, sim_p AS score
      FROM cand WHERE rnk = 1
    ),
    m2 AS (
      SELECT c.probe_id, c.cand_id,
             {_MMR_LAMBDA} * c.sim_p - (1 - {_MMR_LAMBDA}) * x.sim_cc
               AS score,
             row_number() OVER (
               PARTITION BY c.probe_id
               ORDER BY {_MMR_LAMBDA} * c.sim_p
                        - (1 - {_MMR_LAMBDA}) * x.sim_cc DESC,
                        c.cand_id) AS rn
      FROM cand c
      JOIN s1 ON s1.probe_id = c.probe_id AND c.cand_id <> s1.pick
      JOIN cc x ON x.probe_id = c.probe_id
               AND x.a_id = c.cand_id AND x.b_id = s1.pick
    ),
    s2 AS (SELECT probe_id, cand_id AS pick, score FROM m2 WHERE rn = 1),
    m3 AS (
      SELECT c.probe_id, c.cand_id,
             {_MMR_LAMBDA} * c.sim_p
               - (1 - {_MMR_LAMBDA}) * GREATEST(x1.sim_cc, x2.sim_cc)
               AS score,
             row_number() OVER (
               PARTITION BY c.probe_id
               ORDER BY {_MMR_LAMBDA} * c.sim_p
                        - (1 - {_MMR_LAMBDA})
                          * GREATEST(x1.sim_cc, x2.sim_cc) DESC,
                        c.cand_id) AS rn
      FROM cand c
      JOIN s1 ON s1.probe_id = c.probe_id AND c.cand_id <> s1.pick
      JOIN s2 ON s2.probe_id = c.probe_id AND c.cand_id <> s2.pick
      JOIN cc x1 ON x1.probe_id = c.probe_id
                AND x1.a_id = c.cand_id AND x1.b_id = s1.pick
      JOIN cc x2 ON x2.probe_id = c.probe_id
                AND x2.a_id = c.cand_id AND x2.b_id = s2.pick
    ),
    s3 AS (SELECT probe_id, cand_id AS pick, score FROM m3 WHERE rn = 1),
    allp AS (
      SELECT probe_id, 1 AS rk, pick, score FROM s1
      UNION ALL SELECT probe_id, 2, pick, score FROM s2
      UNION ALL SELECT probe_id, 3, pick, score FROM s3
    )
    SELECT probe_id, rk, CAST(pick AS BIGINT) AS pick,
           floor(score * 1000000 + 0.5) / 1000000 AS mmr
    FROM allp ORDER BY probe_id, rk
    """,
    category="2.J",
)
def q_llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell-Goldstein) —
    the diversified-retrieval step between ANN and a RAG context
    window: greedily pick 3 of the top-10 relevance candidates per
    probe, each pick maximizing λ·sim(probe, c) − (1−λ)·max sim(c,
    already-picked). The greedy recursion is unrolled to 3 FIXED
    selection stages (the q_graph_lpa_communities discipline), so both
    engines walk the identical argmax chain: every similarity is the
    exact left-fold dot product, λ = 0.5 is an exact binary double,
    the combined score is the same IEEE expression on identical
    operands, and every argmax breaks ties on candidate id — bit-exact
    picks, floor-6dp scores. Scale shape: candidate generation is the
    q_llm_knn broadcast + WindowGroupLimit layout; everything after
    operates on 10 rows per probe (pairwise pool sims = pool² per
    probe, a constant), so re-ranking cost is independent of corpus
    size."""
    e = load_table(spark, sf_dir, "embeddings")
    lam = F.lit(0.5)
    probes = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    corpus = e.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")
    )
    scored = corpus.crossJoin(F.broadcast(probes)).withColumn(
        "sim_p", dot_double("pe", "ce")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim_p"), F.asc("cand_id")
    )
    cand = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _MMR_POOL)
        .select("probe_id", "cand_id", "ce", "sim_p", "rnk")
    )
    cand = tracked_local_checkpoint(cand, eager=False)
    a = cand.select(
        "probe_id", F.col("cand_id").alias("a_id"), F.col("ce").alias("ae")
    )
    b = cand.select(
        "probe_id", F.col("cand_id").alias("b_id"), F.col("ce").alias("be")
    )
    cc = (
        a.join(b, "probe_id")
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "probe_id", "a_id", "b_id",
            dot_double("ae", "be").alias("sim_cc"),
        )
    )
    cc = tracked_local_checkpoint(cc, eager=False)
    s1 = cand.where(F.col("rnk") == 1).select(
        "probe_id", F.col("cand_id").alias("pick"),
        F.col("sim_p").alias("score"),
    )

    def _next_pick(picked: list[DataFrame]) -> DataFrame:
        c = cand
        for i, s in enumerate(picked):
            c = c.join(
                F.broadcast(s.select("probe_id", F.col("pick").alias(f"p{i}"))),
                "probe_id",
            ).where(F.col("cand_id") != F.col(f"p{i}"))
        sims = []
        for i in range(len(picked)):
            x = cc.select(
                "probe_id",
                F.col("a_id").alias("cand_id"),
                F.col("b_id").alias(f"p{i}"),
                F.col("sim_cc").alias(f"cc{i}"),
            )
            c = c.join(x, ["probe_id", "cand_id", f"p{i}"])
            sims.append(F.col(f"cc{i}"))
        maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
        score = lam * F.col("sim_p") - (F.lit(1.0) - lam) * maxsim
        wsel = Window.partitionBy("probe_id").orderBy(
            score.desc(), F.asc("cand_id")
        )
        return (
            c.withColumn("rn", F.row_number().over(wsel))
            .where(F.col("rn") == 1)
            .select(
                "probe_id", F.col("cand_id").alias("pick"),
                score.alias("score"),
            )
        )

    s2 = _next_pick([s1])
    s3 = _next_pick([s1, s2])
    allp = (
        s1.select("probe_id", F.lit(1).alias("rk"), "pick", "score")
        .unionAll(s2.select("probe_id", F.lit(2).alias("rk"), "pick", "score"))
        .unionAll(s3.select("probe_id", F.lit(3).alias("rk"), "pick", "score"))
    )
    return allp.select(
        "probe_id",
        "rk",
        F.col("pick").cast("long").alias("pick"),
        (F.floor(F.col("score") * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "mmr"
        ),
    ).orderBy("probe_id", "rk")


_RAG_BUDGET = 256  # context token budget per probe
_RAG_POOL = 10  # relevance-ranked candidate pool per probe


@query(
    "q_llm_rag_context_pack",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pe
      FROM embeddings WHERE vec_id < 5
    ),
    corpus AS (
      SELECT vec_id AS cand_id, embedding AS ce
      FROM embeddings WHERE vec_id >= 10
    ),
    ranked AS (
      SELECT p.probe_id, c.cand_id,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY {SQL_DOT.format(a="p.pe", b="c.ce")} DESC,
                        c.cand_id) AS rk
      FROM probes p JOIN corpus c ON true
    ),
    pool AS (SELECT * FROM ranked WHERE rk <= {_RAG_POOL}),
    rep AS (
      SELECT doc_id % 500 AS cand_id, MIN(doc_id) AS doc_id
      FROM documents GROUP BY doc_id % 500
    ),
    toks AS (
      SELECT r.cand_id, r.doc_id,
             CAST(length(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM rep r JOIN documents d ON d.doc_id = r.doc_id
    ),
    packed AS (
      SELECT p.probe_id, p.rk, t.doc_id, t.n_tokens,
             SUM(t.n_tokens) OVER (
               PARTITION BY p.probe_id ORDER BY p.rk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM pool p JOIN toks t ON t.cand_id = p.cand_id
    )
    SELECT probe_id, CAST(rk AS BIGINT) AS rk, doc_id, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM packed
    WHERE cum_tokens <= {_RAG_BUDGET}
    ORDER BY probe_id, rk
    """,
    category="2.J",
)
def q_llm_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly — the step after retrieval: per probe, walk
    the exact-cosine relevance ranking and admit each candidate's
    representative document (min doc_id in its embedding class,
    doc_id % 500 — the envelope mapping q_llm_multimodal_pack pins)
    while the running whitespace-token total stays within the
    {budget}-token context budget. Greedy budget packing is ONE window
    cumsum over the rank order (the q_scale_compaction_plan
    formulation) — no iterative assembler — so assembling contexts for
    a million queries is a broadcast-probe scan + WindowGroupLimit +
    one bounded window, never a driver loop. Exact integer tokens;
    ranking ties broken by candidate id.""".format(budget=_RAG_BUDGET)
    e = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    probes = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    corpus = e.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("cand_id")
    )
    pool = (
        corpus.crossJoin(F.broadcast(probes))
        .withColumn("sim", dot_double("pe", "ce"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _RAG_POOL)
        .select("probe_id", "cand_id", "rk")
    )
    rep = docs.groupBy((F.col("doc_id") % 500).alias("cand_id")).agg(
        F.min("doc_id").alias("doc_id")
    )
    toks = rep.join(docs.select("doc_id", "text"), "doc_id").select(
        "cand_id",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    wc = (
        Window.partitionBy("probe_id")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = pool.join(F.broadcast(toks), "cand_id").withColumn(
        "cum_tokens", F.sum("n_tokens").over(wc)
    )
    return (
        packed.where(F.col("cum_tokens") <= _RAG_BUDGET)
        .select(
            "probe_id",
            F.col("rk").cast("long").alias("rk"),
            "doc_id",
            "n_tokens",
            "cum_tokens",
        )
        .orderBy("probe_id", "rk")
    )


@query(
    "q_llm_linear_probe",
    oracle="""
    WITH q AS (
        SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000.0 + 0.5)
                    AS BIGINT) AS x1,
               CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000.0 + 0.5)
                    AS BIGINT) AS x2,
               CAST(label AS BIGINT) AS y
        FROM embeddings
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y)  AS BIGINT) AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * y)  AS BIGINT) AS s1y,
               CAST(SUM(x2 * y)  AS BIGINT) AS s2y,
               CAST(SUM(y * y)   AS BIGINT) AS syy
        FROM q
    ),
    c AS (
        SELECT n,
               CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1 AS a11,
               CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2 AS a12,
               CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2 AS a22,
               CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy AS b1,
               CAST(n AS DOUBLE) * s2y - CAST(s2 AS DOUBLE) * sy AS b2,
               CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS tss,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n AS m2,
               CAST(sy AS DOUBLE) / n AS my
        FROM m
    ),
    sol AS (
        SELECT n,
               (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
               (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta2,
               m1, m2, my, b1, b2, tss
        FROM c
    )
    SELECT n,
           CASE WHEN beta1 >= 0
                THEN floor(beta1 * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-beta1 * 1000000.0 + 0.5) / 1000000.0
           END AS beta1,
           CASE WHEN beta2 >= 0
                THEN floor(beta2 * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-beta2 * 1000000.0 + 0.5) / 1000000.0
           END AS beta2,
           CASE WHEN (my - beta1 * m1 - beta2 * m2) >= 0
                THEN floor((my - beta1 * m1 - beta2 * m2)
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE -floor(-(my - beta1 * m1 - beta2 * m2)
                            * 1000000.0 + 0.5) / 1000000.0
           END AS intercept,
           floor((beta1 * b1 + beta2 * b2) / tss * 1000000.0 + 0.5)
               / 1000000.0 AS r2
    FROM sol
    """,
    category="2.J",
)
def q_llm_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR PROBE over the embedding table — the standard
    representation-quality diagnostic (fit a linear readout from
    embedding dimensions to the label, report fit): two-feature OLS
    with intercept, solved in closed form from ten EXACT sufficient
    statistics. Determinism recipe (shared with q_llm_embed_covariance):
    embedding floats quantize to integer milli-units FIRST, so every
    moment (Σx, Σx², Σxy, …) is an exact BIGINT no matter the partition
    sum order; the centered 2×2 normal equations solve by Cramer's rule
    in double over those identical operands (beta = [n·Σxy − ΣxΣy]
    algebra), intercept recovered from the means, R² =
    (β₁b₁ + β₂b₂)/TSS — all floor-6dp. Scale: ONE distributed pass
    computes the moments (partial aggregation map-side, ten numbers per
    partition), the solve is O(1) on the driver-sized single row —
    exactly how closed-form sketchable estimators should run at 100 TB;
    the k-feature generalization swaps Cramer for a driver-side k×k
    Cholesky over the same one-pass Gram matrix."""
    q = load_table(spark, sf_dir, "embeddings").select(
        F.floor(
            F.element_at("embedding", 1).cast("double") * 1000.0 + 0.5
        ).cast("bigint").alias("x1"),
        F.floor(
            F.element_at("embedding", 2).cast("double") * 1000.0 + 0.5
        ).cast("bigint").alias("x2"),
        F.col("label").cast("bigint").alias("y"),
    )
    m = q.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    c = m.select(
        "n",
        (nd * F.col("s11") - F.col("s1").cast("double") * F.col("s1"))
        .alias("a11"),
        (nd * F.col("s12") - F.col("s1").cast("double") * F.col("s2"))
        .alias("a12"),
        (nd * F.col("s22") - F.col("s2").cast("double") * F.col("s2"))
        .alias("a22"),
        (nd * F.col("s1y") - F.col("s1").cast("double") * F.col("sy"))
        .alias("b1"),
        (nd * F.col("s2y") - F.col("s2").cast("double") * F.col("sy"))
        .alias("b2"),
        (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        .alias("tss"),
        (F.col("s1").cast("double") / F.col("n")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n")).alias("m2"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    sol = c.select(
        "n",
        ((F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det)
        .alias("beta1"),
        ((F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det)
        .alias("beta2"),
        "m1", "m2", "my", "b1", "b2", "tss",
    )

    def round6(col):
        return F.when(
            col >= 0, F.floor(col * 1000000.0 + F.lit(0.5)) / 1000000.0
        ).otherwise(-F.floor(-col * 1000000.0 + F.lit(0.5)) / 1000000.0)

    icpt = (
        F.col("my")
        - F.col("beta1") * F.col("m1")
        - F.col("beta2") * F.col("m2")
    )
    r2 = (
        F.col("beta1") * F.col("b1") + F.col("beta2") * F.col("b2")
    ) / F.col("tss")
    return sol.select(
        "n",
        round6(F.col("beta1")).alias("beta1"),
        round6(F.col("beta2")).alias("beta2"),
        round6(icpt).alias("intercept"),
        (F.floor(r2 * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("r2"),
    )


@query(
    "q_llm_embed_outliers",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    x AS (
      SELECT vec_id, j, qv[j] AS v
      FROM q CROSS JOIN range(1, {_COV_DIM} + 1) t(j)
    ),
    s AS (
      SELECT j, CAST(SUM(v) AS BIGINT) AS sj FROM x GROUP BY j
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM q),
    d AS (
      SELECT x.vec_id,
             CAST(SUM((n.nn * x.v - s.sj) * (n.nn * x.v - s.sj))
                  AS BIGINT) AS d2
      FROM x JOIN s USING (j) CROSS JOIN n
      GROUP BY x.vec_id
    ),
    st AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
             CAST(SUM(CAST(d2 AS HUGEINT)) AS HUGEINT) AS sd,
             CAST(SUM(CAST(d2 AS HUGEINT) * CAST(d2 AS HUGEINT))
                  AS HUGEINT) AS sdd
      FROM d
    )
    SELECT d.vec_id, d.d2
    FROM d CROSS JOIN st
    WHERE (st.nn * d.d2 - st.sd) > 0
      AND (st.nn * d.d2 - st.sd) * (st.nn * d.d2 - st.sd)
          > 4 * (st.nn * st.sdd - st.sd * st.sd)
    ORDER BY d.vec_id
    """,
    category="2.J",
)
def q_llm_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: vectors whose squared distance to
    the corpus centroid sits more than 2σ ABOVE the mean — the standard
    embedding-quality gate before clustering/SemDedup trusts the space
    (encoder failures, all-zero rows and mojibake docs all land out
    here). Exact integers throughout: coordinates quantize to the
    established milli grid (q_llm_embed_quantize), the distance is the
    mean-free form D_i = Σ_j (n·q_ij − S_j)² (no division — distances
    to the TRUE centroid scaled by n², identical ranking), and the 2σ
    gate multiplies out to (n·D_i − ΣD)² > 4·(n·ΣD² − (ΣD)²) computed
    in DECIMAL(38,0) against DuckDB HUGEINT — no float, no sqrt, no
    epsilon. One-sided: only ABOVE-mean distances flag (below-mean
    means unusually central, not broken).

    Scale shape: posexplode to (vec, dim) once, the 64-row per-dim sum
    broadcasts back, D folds per vec in one hash agg, the 1-row moment
    table broadcasts into the filter — two data passes, nothing
    data-scaled on the driver.

    Overflow gate (r10 ADVICE): the BIGINT-typed D_i = Σ_j (n·v − S_j)²
    is the binding bound, NOT the DECIMAL(38) moment stage — at milli
    grid/dim 64 it saturates near n ≈ 2–4·10⁵, and past it Spark's
    non-ANSI long sum WRAPS silently while DuckDB HUGEINT keeps going,
    so the failure mode would be a silent cross-engine divergence. The
    builder therefore measures per-dim (max|v_j|, |S_j|) plus n from
    the cached quantized relation and REFUSES with the corrective
    action (coarsen the grid, as the covariance rung prescribes)
    whenever the worst-case Σ_j (n·max|v_j| + |S_j|)² exceeds 2⁶³−1 —
    the same refuse-before-scheduling discipline as
    q_llm_jaccard_spectrum's contraction gate; harnesses record it as
    a clean per-query failure. (r11 ADVICE: the bound is PER-DIM —
    |n·v_ij − S_j| ≤ n·max|v_j| + |S_j| for each dim separately —
    rather than the earlier global dim·(2·n·max|v|)², so a single
    wide dimension no longer inflates the bound for all 64; the gate
    stays eager because its one job is what materializes the cached
    exploded relation every later stage reuses.)"""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * 1000.0 + F.lit(0.5)
                ).cast("long"),
            )
        ).alias("j", "v"),
    )
    q = q.cache()
    track_cache(q.unpersist)
    # Each dim j has exactly one row per vector (posexplode of a
    # fixed-length array), so count(*) per j IS n; one 64-row collect
    # yields n plus the exact per-dim ingredients of the bound.
    dims = q.groupBy("j").agg(
        F.count("*").alias("n"),
        F.max(F.abs(F.col("v"))).alias("vmax_j"),
        F.abs(F.sum("v")).alias("sabs_j"),
    ).collect()
    n_vec = int(dims[0]["n"]) if dims else 0
    # |n·v_ij − S_j| ≤ n·max|v_j| + |S_j| per dim, so the worst D_i is
    # Σ_j (n·max|v_j| + |S_j|)²; refuse while the sum is still provably
    # exact. Per-dim (r11 ADVICE) — a single wide dimension no longer
    # inflates the bound for every other dim the way the old global
    # dim·(2·n·max|v|)² form did.
    worst = sum(
        (n_vec * int(r["vmax_j"] or 0) + int(r["sabs_j"] or 0)) ** 2
        for r in dims
    )
    if worst > 2**63 - 1:
        raise ValueError(
            f"q_llm_embed_outliers: n={n_vec} vectors overflow the exact "
            f"BIGINT distance bound (worst-case {worst} > 2^63-1, "
            f"dim={_COV_DIM}) — coarsen the quantization grid "
            "(milli → centi) before rerunning"
        )
    s = q.groupBy("j").agg(F.sum("v").alias("sj"))
    n = q.select((F.count_distinct("vec_id")).alias("nn"))
    d = (
        q.join(F.broadcast(s), "j")
        .crossJoin(F.broadcast(n))
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("nn") * F.col("v") - F.col("sj"))
                * (F.col("nn") * F.col("v") - F.col("sj"))
            ).cast("long").alias("d2")
        )
    )
    st = d.agg(
        F.count("*").cast("decimal(38,0)").alias("snn"),
        F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd"),
        F.sum(
            F.col("d2").cast("decimal(38,0)")
            * F.col("d2").cast("decimal(38,0)")
        ).alias("sdd"),
    )
    dev = F.col("snn") * F.col("d2").cast("decimal(38,0)") - F.col("sd")
    return (
        d.crossJoin(F.broadcast(st))
        .where(
            (dev > 0)
            & (
                dev * dev
                > 4 * (F.col("snn") * F.col("sdd") - F.col("sd") * F.col("sd"))
            )
        )
        .select("vec_id", "d2")
        .orderBy("vec_id")
    )
