"""Text-analysis operators (SURVEY.md §2.J + the training-data-pipeline
mandate): wordcount, TF-IDF, n-grams, per-language corpus stats, lexicon
sentiment, language-ID, quality scoring, token counting, fingerprinting.

All hot paths are JVM built-ins (split/explode/higher-order lambdas) —
no Python UDFs. At 100 TB every one of these is a scan + at most one
shuffle on a low-cardinality key (term / lang / doc_id), all of which
partial-aggregate map-side before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.parity import fround
from aws_lambda_stream_processing_spark.registry import (
    query,
    tracked_local_checkpoint,
)
from aws_lambda_stream_processing_spark.session import pin_width
from aws_lambda_stream_processing_spark.tables import load_table


def _toks(d: DataFrame) -> DataFrame:
    """documents with the whitespace token array attached."""
    return d.withColumn("t", F.split("text", " "))


@query(
    "q_llm_wordcount",
    oracle="""
    SELECT tok AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    """,
    category="2.J",
)
def q_llm_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global word count — explode + hash-agg. Map-side partial combine
    means the shuffle carries one row per (partition, word): at 100 TB the
    exchange is vocabulary-sized, not corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "q_llm_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * ln(n.n * 1.0 / df.df), 4) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
    category="2.J",
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): tf × ln(N/df). Two aggregations + one join;
    the df table is vocabulary-sized so it broadcasts — the only real
    shuffle is the (doc_id, term) tf aggregation."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a broadcast scalar — a Python-side d.count() would be
    # an extra blocking job per invocation
    n = d.agg(F.count("*").cast("double").alias("n"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
    )


@query(
    "q_llm_ngrams",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(2, len(t) + 1),
                                   i -> t[i-1] || ' ' || t[i])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bg GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 20
    """,
    category="2.J",
)
def q_llm_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams. Bigrams are built with a JVM lambda over the token
    array (transform over an index sequence — no Python), then exploded
    and counted; TakeOrderedAndProject keeps only 20 rows per task."""
    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        _toks(d)
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size("t")),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("t", i - F.lit(1)),
                        F.element_at("t", i),
                    ),
                )
            ).alias("bigram")
        )
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "q_llm_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
    category="2.J",
)
def q_llm_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — one hash-agg on a 5-value key."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# Static sentiment lexicon over the fixed documents vocabulary
# (FIXTURES.md `fx_lexicon`): both the Spark side and the oracle load the
# same literal table, so scores are exactly reproducible.
LEXICON: list[tuple[str, float]] = [
    ("fast", 1.0),
    ("big", 0.5),
    ("slow", -1.0),
    ("small", -0.5),
]
_LEX_VALUES = ", ".join(f"('{w}', {s})" for w, s in LEXICON)


@query(
    "q_llm_sentiment_lexicon",
    oracle=f"""
    WITH lex(word, score) AS (VALUES {_LEX_VALUES}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT t.doc_id,
           ROUND(AVG(COALESCE(lex.score, 0.0)), 4) AS sentiment,
           COUNT(*) AS n_tokens
    FROM toks t LEFT JOIN lex USING (word)
    GROUP BY t.doc_id
    """,
    category="2.J",
)
def q_llm_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-scored sentiment per doc: mean token score, unknown → 0.
    The lexicon is broadcast (4 rows; real lexicons are ~10k rows — still
    broadcast territory), so the only shuffle is the per-doc average."""
    d = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(LEXICON, "word string, score double")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        toks.join(F.broadcast(lex), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.coalesce("score", F.lit(0.0))), 4).alias(
                "sentiment"
            ),
            F.count("*").alias("n_tokens"),
        )
    )


# Marker-token language profiles over the corpus vocabulary. A production
# language-ID uses learned character-n-gram profiles (e.g. CLD3-style);
# the *engine shape* is identical — a broadcast profile table joined
# against extracted features, argmax per doc — so that is what we build,
# with deterministic profiles both sides can share.
LANG_MARKERS: list[tuple[str, str]] = [
    ("en", "the"), ("en", "fast"), ("en", "query"),
    ("fr", "table"), ("fr", "merge"), ("fr", "vector"),
    ("es", "data"), ("es", "row"), ("es", "column"),
    ("de", "stream"), ("de", "batch"), ("de", "hash"),
    ("zh", "spark"), ("zh", "window"), ("zh", "join"),
]
_MARKER_VALUES = ", ".join(f"('{l}', '{w}')" for l, w in LANG_MARKERS)


@query(
    "q_llm_langid",
    oracle=f"""
    WITH markers(lang, word) AS (VALUES {_MARKER_VALUES}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    hits AS (
      SELECT t.doc_id, m.lang, COUNT(*) AS hits
      FROM toks t JOIN markers m USING (word)
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang) AS rn
      FROM hits
    )
    SELECT d.doc_id,
           COALESCE(b.lang, 'und') AS pred_lang,
           COALESCE(b.hits, 0) AS marker_hits
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
    category="2.J",
)
def q_llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language ID: count marker-token hits per (doc, lang),
    argmax with deterministic tiebreak, 'und' when nothing matches. The
    marker table broadcasts; per-doc argmax is a WindowGroupLimit."""
    d = load_table(spark, sf_dir, "documents")
    markers = spark.createDataFrame(LANG_MARKERS, "lang string, word string")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    hits = (
        toks.join(F.broadcast(markers), "word")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    best = hits.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return d.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("hits", F.lit(0)).alias("marker_hits"),
    )


STOPWORDS = ("the", "a")
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


def quality_num_den():
    """The exact-integer quality blend's (numerator, denominator) Column
    pair over columns `t` (token array) and `n_chars` — integers, so a
    consumer can either divide once (quality_expr) or round the rational
    exactly (round4_rational)."""
    n = F.size("t")
    du = F.size(F.array_distinct("t"))
    ds = F.size(F.filter("t", lambda x: x.isin(*STOPWORDS)))
    chars_net = F.col("n_chars") - n + 1
    num = 16 * du + 8 * (n - ds) + F.least(chars_net, 8 * n.cast("long"))
    return num, 32 * n


def quality_expr():
    """The exact-integer quality blend as a reusable Column over columns
    `t` (token array) and `n_chars` — see q_llm_quality_score for why the
    single-division form is load-bearing for parity."""
    num, den = quality_num_den()
    return num / (1.0 * den)


def round4_rational(p, q):
    """Half-up 4dp rounding of the EXACT rational p/q (p ≥ 0, q > 0, both
    integer Columns), decided in integer arithmetic:
    floor((20000·p + q) / (2·q)) / 10⁴.

    Why not round(p/q, 4): Spark's round() expands the double to its
    exact decimal (BigDecimal) and half-ups THAT, while DuckDB scales by
    10⁴ and rounds the scaled double — when the true rational sits
    exactly on a .xxxx5 boundary (denominator dividing 2·10⁴·k, common
    for per-doc ratios with token-count denominators) the two disagree
    by one ulp of the 4th decimal. Measured at sf0.1: 6/5000 docs of
    q_llm_quality_score split exactly this way (0.78375 → 0.7838 vs
    0.7837). Here both engines divide the same exact ints (≤ ~4e8, exact
    in double, correctly-rounded IEEE division both sides), floor the
    same double — the non-integer quotient is ≥ 1/(2q) ≫ 1 ulp away
    from any integer — and the final /10⁴ is one identical division."""
    return F.floor((20000 * p + q) / (2 * q)) / 10000.0


# DuckDB twin of round4_rational (same provably-exact shape)
def _sql_round4(p: str, q: str) -> str:
    return f"FLOOR((20000 * ({p}) + ({q})) / (2.0 * ({q}))) / 10000.0"


# DuckDB twin of quality_expr over a table exposing text + n_chars
SQL_QUALITY = (
    "(16 * len(list_distinct(string_split(text, ' ')))"
    " + 8 * (len(string_split(text, ' '))"
    "        - len(list_filter(string_split(text, ' '),"
    f"                          x -> x IN ({_STOP_IN}))))"
    " + LEAST(n_chars - len(string_split(text, ' ')) + 1,"
    "          8 * len(string_split(text, ' '))))"
    " / (32.0 * len(string_split(text, ' ')))"
)


@query(
    "q_llm_quality_score",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n,
             len(list_distinct(string_split(text, ' '))) AS du,
             len(list_filter(string_split(text, ' '),
                             x -> x IN ({_STOP_IN}))) AS ds
      FROM documents
    )
    SELECT doc_id,
           n AS n_tokens,
           {_sql_round4("du", "n")} AS unique_ratio,
           {_sql_round4("ds", "n")} AS stopword_ratio,
           {_sql_round4("n_chars - n + 1", "n")} AS avg_tok_len,
           {_sql_round4(
               "16 * du + 8 * (n - ds) + LEAST(n_chars - n + 1, 8 * n)",
               "32 * n")} AS quality
    FROM q
    """,
    category="2.J",
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score — the pre-training filter shape:
    0.5·lexical-diversity + 0.25·(1 − stopword-ratio) + 0.25·capped mean
    token length. The blend is one exact-integer numerator over one
    denominator (16·du + 8·(n−ds) + min(chars', 8n)) / 32n, and every
    displayed ratio is rounded by round4_rational — half-up decided on
    the exact RATIONAL in integer arithmetic, not on the double by an
    engine-native round(). The engine-native form diverged at sf0.1
    (r12): 6/5000 docs whose blend sits exactly on a .xxxx5 boundary
    (e.g. 627/800 = 0.78375) rounded up in Spark (BigDecimal half-up on
    the double's exact expansion) and down in DuckDB (scale-by-10⁴ then
    round the scaled double). Pure per-row columnar math: zero shuffles,
    embarrassingly parallel at any scale."""
    d = _toks(load_table(spark, sf_dir, "documents"))
    n = F.size("t")
    du = F.size(F.array_distinct("t"))
    ds = F.size(F.filter("t", lambda x: x.isin(*STOPWORDS)))
    # single-space-joined corpus: chars = sum(len) + (n-1) separators
    chars_net = F.col("n_chars") - n + 1
    qnum, qden = quality_num_den()
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        round4_rational(du, n).alias("unique_ratio"),
        round4_rational(ds, n).alias("stopword_ratio"),
        round4_rational(chars_net, n).alias("avg_tok_len"),
        round4_rational(qnum, qden).alias("quality"),
    )


@query(
    "q_llm_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]{1,4}')) AS subword_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS byte_bpe_est
    FROM documents
    """,
    category="2.J",
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, BPE-ish greedy subword
    chunks (a POSIX-simple regex both engines tokenize identically), and
    the bytes/4 estimate. Per-row, shuffle-free."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]{1,4}")).alias("subword_tokens"),
        F.ceil(F.col("n_chars") / 4.0).alias("byte_bpe_est"),
    )


_FP_MOD = 1_000_000_007


@query(
    "q_llm_fingerprint",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            x -> CAST(ascii(x) * 31 + length(x) AS BIGINT)
             ) AS hs
      FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, h) -> (acc * 131 + h) % {_FP_MOD}
           ) AS fingerprint
    FROM q
    """,
    category="2.J",
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (Karp-Rabin
    shape): fold (acc*131 + tokenhash) mod p over the token sequence.
    Exact integer math → bit-identical across engines; per-row columnar
    fold, zero shuffles. The content-defined-chunking variant for long
    docs reuses this kernel per chunk."""
    d = _toks(load_table(spark, sf_dir, "documents"))
    hs = F.transform(
        "t",
        lambda x: (F.ascii(x) * 31 + F.length(x)).cast("long"),
    )
    fp = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % _FP_MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q_llm_pipeline",
    oracle=f"""
    WITH survivors AS (
      SELECT doc_id, text, lang, n_chars,
             row_number() OVER (PARTITION BY sha256(text)
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             {SQL_QUALITY} AS quality
      FROM survivors WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(quality), 4) AS avg_quality
    FROM scored
    WHERE quality >= 0.7
    GROUP BY lang
    """,
    category="2.J",
)
def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline END TO END as one declarative plan:
    exact dedup (min-doc_id survivor per content hash) → quality filter
    (≥ 0.7) → per-language corpus accounting. Catalyst fuses the whole
    chain — one scan, one dedup shuffle, one final aggregate; nothing
    materializes between 'stages'. This is the shape the 100 TB corpus
    build runs nightly; every stage reuses the exact operators verified
    individually (q_llm_exact_dedup, q_llm_quality_score,
    q_llm_lang_stats)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    survivors = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .withColumn("t", F.split("text", " "))
    )
    scored = survivors.select(
        "doc_id",
        "lang",
        F.size("t").alias("n_tokens"),
        quality_expr().alias("quality"),
    )
    return (
        scored.where(F.col("quality") >= 0.7)
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs_kept"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


@query(
    "q_llm_cooccurrence",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS df_ab
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    ),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT tok_a, tok_b, df_ab,
           ROUND(ln((df_ab * 1.0 * n.n) / (x.df * 1.0 * y.df)), 4) AS pmi
    FROM pairs
    JOIN df x ON tok_a = x.tok
    JOIN df y ON tok_b = y.tok
    CROSS JOIN n
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT 30
    """,
    category="2.J",
)
def q_llm_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence with document-level PMI — the association-mining
    step of corpus analysis (collocations, embedding pre-checks). Postings
    self-join within doc_id builds pairs (codegen'd equi-join, no lambdas);
    the df table broadcasts; PMI is ln of a ratio of exact integers so both
    engines produce bit-identical doubles before rounding."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    pairs = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count("*").alias("df_ab"))
    )
    n = d.agg(F.count("*").cast("double").alias("n"))
    x = dfreq.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    y = dfreq.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pmi = (
        pairs.join(F.broadcast(x), "tok_a")
        .join(F.broadcast(y), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "df_ab",
            F.round(
                F.log(
                    (F.col("df_ab") * F.col("n"))
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")).limit(30)


_BM25_K1 = "1.2"
_BM25_B = "0.75"


@query(
    "q_llm_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) * 1.0 AS n,
                     SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl)
    SELECT tf.doc_id, tf.term,
           ROUND(
             ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({_BM25_K1} + 1.0))
             / (tf.tf + {_BM25_K1}
                * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)),
             4) AS bm25
    FROM tf
    JOIN dl USING (doc_id)
    JOIN df USING (term)
    CROSS JOIN stats
    """,
    category="2.J",
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 per (doc, term) — the standard retrieval scorer a
    training pipeline uses for corpus search / quality-weighted sampling:
    idf_smooth × tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)), k1=1.2, b=0.75.
    Same plan shape as TF-IDF plus a per-doc length table: the (doc, term)
    tf aggregation is the only real shuffle; df and the (n, avgdl) scalar
    broadcast. Float parity: every operand is an exact integer or the
    identical single-division double on both engines, and the scoring
    expression is written in the same operation order — the final round(4)
    only guards the last bits."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(
        (F.count("*") * F.lit(1.0)).alias("n"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    k1 = F.lit(1.2)
    b = F.lit(0.75)
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = (
        idf
        * (F.col("tf") * (k1 + F.lit(1.0)))
        / (
            F.col("tf")
            + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.round(score, 4).alias("bm25"))
    )


@query(
    "q_llm_keywords",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) * 1.0 AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n / df.df), 4) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.n / df.df) DESC, tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rn AS rank
    FROM scored WHERE rn <= 3
    """,
    category="2.J",
)
def q_llm_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 terms per document by TF-IDF with a
    deterministic (score DESC, term) tie-break — the tagging/indexing step
    downstream of q_llm_tfidf. The per-doc cut runs as a WindowGroupLimit,
    so only 3 rows per doc survive the rank exchange; ties are broken
    lexicographically BEFORE rounding (both engines rank on the raw
    double, which is bit-identical by the single-expression discipline)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg((F.count("*") * F.lit(1.0)).alias("n"))
    score = F.col("tf") * F.log(F.col("n") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.asc("term"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id", "term", F.round(score, 4).alias("tfidf"), "rank"
        )
    )


@query(
    "q_llm_repetition_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(COUNT(DISTINCT bg) AS BIGINT) AS n_distinct
      FROM bi GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_distinct,
           floor((1.0 - n_distinct * 1.0 / n_bigrams) * 10000.0 + 0.5)
             / 10000.0 AS rep_ratio
    FROM agg
    """,
    category="2.J",
)
def q_llm_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratio — the duplicate-bigram fraction
    quality filter from the Gopher/RefinedWeb data-curation recipes
    (high ratio = boilerplate/spam; the filter drops docs above a cut).

    Bigrams via posexplode + lead(token) per doc: ONE exchange on doc_id
    serves both the window and the following count/count-distinct agg
    (same key → Catalyst reuses the partitioning; verified no second
    Exchange in the plan). The interpreted-lambda alternative
    (transform with index) costs ~10 µs/element (SURVEY §8 law 1) — the
    explode route stays in whole-stage codegen. At 100 TB: shuffle is
    one row per token (small strings), agg is map-side-combining, no
    skew (doc_id is unique)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        "doc_id",
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bg"),
        F.lead("tok", 1).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    agg = bi.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("bg").alias("n_distinct"),
    )
    ratio = 1.0 - F.col("n_distinct") / F.col("n_bigrams")
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        fround(ratio, 4, "rep_ratio"),
    )


@query(
    "q_llm_mixture_weights",
    oracle="""
    WITH per AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per)
    SELECT lang, source, n_docs, n_tokens,
           floor((n_tokens * 1.0 / tot.total) * 1000000.0 + 0.5)
             / 1000000.0 AS token_share
    FROM per CROSS JOIN tot
    """,
    category="2.J",
)
def q_llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture composition: per (lang, source) bucket, document
    and token counts plus each bucket's share of the total token budget —
    the table a data-mixture sampler (DoReMi-style reweighting, or plain
    proportional sampling) consumes to draw the next training batch.

    Exact integer token counts shuffle (one row per bucket after map-side
    combine); the grand total attaches as a broadcast scalar; the share is
    a single division then floor-rounded (single-rounding discipline).
    At 100 TB this is one hash-agg over a low-cardinality key — the
    canonical 'composition dashboard' query shape."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total"))
    share = F.col("n_tokens") / F.col("total")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            fround(share, 6, "token_share"),
        )
    )


# --- round-2 corpus-statistics operators -----------------------------------


@query(
    "q_llm_unigram_xent",
    oracle="""
    WITH ev AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE source IN ('src18', 'src19')
    ),
    tr AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE source NOT IN ('src18', 'src19')
    ),
    cnts AS (SELECT tok, COUNT(*) AS cnt FROM tr GROUP BY tok),
    nv AS (
      SELECT (SELECT COUNT(*) FROM tr) AS n,
             (SELECT COUNT(*) FROM cnts) AS v
    ),
    terms AS (
      SELECT ev.doc_id,
             CAST(round(ln((COALESCE(cnt, 0) + 1) * 1.0 / (n + v))
                        * 1000000) AS BIGINT) AS lc
      FROM ev LEFT JOIN cnts USING (tok) CROSS JOIN nv
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           floor(-CAST(SUM(lc) AS DOUBLE) / 1000000.0 / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS xent
    FROM terms GROUP BY doc_id
    """,
    category="2.J",
)
def q_llm_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy of each eval doc under the train split's
    add-one-smoothed token distribution — the cheap perplexity-proxy
    quality score (low xent = stereotyped text, high = OOV-heavy noise;
    pipelines cut both tails).

    Float discipline: p = (cnt+1)/(N+V) is one IEEE division of identical
    integers on both engines; ln(p) agrees to the bit in practice (both
    libms, already relied on by q_llm_tfidf); each log is then quantized
    to integer micro-nats so the PER-DOC SUM is exact int64 — never sum
    raw doubles across rows (SURVEY §8 law 5). Scale: the count table is
    vocabulary-sized → broadcast; one exchange on doc_id for the final
    agg."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin("src18", "src19")
    ev = d.where(is_eval).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tr = d.where(~is_eval).select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    cnts = tr.groupBy("tok").agg(F.count("*").alias("cnt"))
    nv = tr.agg(F.count("*").alias("n")).crossJoin(
        cnts.agg(F.count("*").alias("v"))
    )
    p = (F.coalesce(F.col("cnt"), F.lit(0).cast("long")) + 1) * 1.0 / (
        F.col("n") + F.col("v")
    )
    terms = (
        ev.join(F.broadcast(cnts), "tok", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id", F.round(F.log(p) * 1_000_000).cast("long").alias("lc")
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        fround(
            -F.sum("lc").cast("double") / 1_000_000.0 / F.count("*"),
            4,
            "xent",
        ),
    )


@query(
    "q_llm_zipf_slope",
    oracle="""
    WITH cnts AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS r
      FROM cnts
    ),
    q AS (
      SELECT CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE r <= 100
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM q
    )
    SELECT n AS n_terms,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope
    FROM s
    """,
    category="2.J",
)
def q_llm_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus: OLS slope of ln(freq) on ln(rank)
    over the top-100 terms — the corpus-health statistic (natural text ≈
    −1; synthetic/templated corpora drift off). The (ln x, ln y) points
    are quantized to integer micro-nats so every regression moment (Σx,
    Σy, Σxy, Σx²) is an exact int64 — the slope is ONE double division of
    identical integers on both engines; the 10⁶ scales cancel between
    numerator and denominator.

    Scale: term counts hash-agg with map-side combine; the top-100 cut is
    TakeOrderedAndProject (no global sort materialization); the
    regression runs on 100 rows."""
    d = load_table(spark, sf_dir, "documents")
    cnts = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    top = cnts.orderBy(F.desc("cnt"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    q = top.select(
        F.round(F.log(F.row_number().over(w)) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log("cnt") * 1_000_000).cast("long").alias("y"),
    )
    s = q.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return s.select(
        n.alias("n_terms"),
        F.round(
            (n * F.col("sxy") - sx * sy).cast("double")
            / (n * F.col("sxx") - sx * sx).cast("double"),
            4,
        ).alias("zipf_slope"),
    )


@query(
    "q_llm_langid_confusion",
    oracle=f"""
    WITH markers(lang, word) AS (VALUES {_MARKER_VALUES}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    hits AS (
      SELECT t.doc_id, m.lang, COUNT(*) AS hits
      FROM toks t JOIN markers m USING (word)
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang) AS rn
      FROM hits
    ),
    pred AS (
      SELECT d.doc_id, d.lang AS true_lang,
             COALESCE(b.lang, 'und') AS pred_lang
      FROM documents d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    )
    SELECT true_lang, pred_lang, COUNT(*) AS n_docs
    FROM pred GROUP BY true_lang, pred_lang
    """,
    category="2.J",
)
def q_llm_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-based classifier's
    predictions (q_llm_langid's exact argmax) crossed against the labeled
    `lang` column — the evaluation step that turns a heuristic into a
    measured component (per-pair counts expose which languages the marker
    set confuses and how much 'und' fallback remains). Output bounded by
    |langs|² regardless of corpus size; same broadcast-join + argmax
    shape as the classifier itself plus one final hash-agg."""
    d = load_table(spark, sf_dir, "documents")
    markers = spark.createDataFrame(LANG_MARKERS, "lang string, word string")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    hits = (
        toks.join(F.broadcast(markers), "word")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pl"))
    )
    pred = d.select("doc_id", F.col("lang").alias("true_lang")).join(
        best, "doc_id", "left"
    )
    return pred.groupBy(
        "true_lang",
        F.coalesce("pl", F.lit("und")).alias("pred_lang"),
    ).agg(F.count("*").alias("n_docs"))


@query(
    "q_llm_inverted_index",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(
             list_slice(list_sort(list(doc_id)), 1, 20), ',') AS posting_head
    FROM tok
    GROUP BY token
    ORDER BY df DESC, token
    """,
    category="2.J",
)
def q_llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token -> document frequency + the first 20
    doc ids of the sorted posting list (the 'posting head' — real indexes
    store blocks, not unbounded strings, so the output stays bounded no
    matter how common the token). Per-doc token dedup first (DISTINCT),
    then one hash agg per token; the posting head is
    slice(sort, 20) -> string per SURVEY §2 convention 4.

    Scale shape: the explode emits (token, doc_id) pairs only — never
    text bodies — and the agg's map-side partial collapses each task to
    its local vocabulary. Posting lists longer than the head would be
    bucketed into blocks by (token, doc_id range) at 100 TB; df and head
    are what a query planner actually consults."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
            ).alias("posting_head"),
        )
        .orderBy(F.desc("df"), "token")
    )


@query(
    "q_llm_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ),
    pair AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS fanout
      FROM pair GROUP BY w1
    ),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS vs FROM pair)
    SELECT p.w1, p.w2, p.c12, u.c1,
           floor((p.c12 + 1) / CAST(u.c1 + v.vs AS DOUBLE) * 1000000
                 + CAST(0.5 AS DOUBLE))
           / CAST(1000000 AS DOUBLE) AS p_smoothed
    FROM pair p JOIN uni u ON u.w1 = p.w1 CROSS JOIN v
    ORDER BY p.c12 DESC, p.w1, p.w2
    LIMIT 30
    """,
    category="2.J",
)
def q_llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model with add-one smoothing: the top-30
    transitions by count, each with P(w2|w1) = (c12+1)/(c1+|V|) — the
    n-gram companion to `q_llm_unigram_xent` (which scores docs under a
    unigram LM; this builds the conditional table itself, the structure a
    repetition/fluency heuristic consults). Counts are exact integers;
    the single smoothed division is one IEEE op over identical ints,
    floor-rounded half-up to 6 decimals.

    Scale shape: posexplode to adjacent pairs (pairs never leave as
    text — two token columns), one hash agg to the bigram table, one
    re-agg to the unigram marginals (same w1 key — the exchange is
    reused), broadcast |V| scalar. Top-30 is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    bg = toks.select(
        F.posexplode("t").alias("i", "w1"),
        F.col("t"),
    ).where(F.col("i") < F.size("t") - 1).select(
        "w1", F.expr("t[i + 1]").alias("w2")
    )
    pair = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = pair.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = pair.agg(F.countDistinct("w2").alias("vs"))
    p = (
        pair.join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (
                F.floor(
                    (F.col("c12") + 1)
                    / (F.col("c1") + F.col("vs")).cast("double")
                    * 1000000
                    + F.lit(0.5).cast("double")
                )
                / F.lit(1000000).cast("double")
            ).alias("p_smoothed"),
        )
    )
    return p.orderBy(F.desc("c12"), "w1", "w2").limit(30)


@query(
    "q_llm_corpus_summary",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                AS BIGINT) AS total_ws_tokens,
           CAST(MIN(length(text)) AS BIGINT) AS min_chars,
           CAST(MAX(length(text)) AS BIGINT) AS max_chars,
           floor(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5)
               / 1000000.0 AS en_share
    FROM documents
    """,
    category="2.J",
)
def q_llm_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card header: one-row corpus summary (doc/lang/source
    cardinalities, char and whitespace-token totals, length extremes,
    English share) — the numbers every dataset release prints first and
    every ingest run diffs against yesterday's. ONE aggregate pass,
    every counter an exact integer (token count = space count + 1,
    identical closed form both engines); the single ratio is one exact-
    int division floor-rounded half-up. At 100 TB this is the cheapest
    query in the suite: all counters combine map-side into eight values
    per partition."""
    d = load_table(spark, sf_dir, "documents")
    tlen = F.length("text")
    ws_tokens = tlen - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    en_share = (
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
        / F.count("*")
    )
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(tlen.cast("long")).alias("total_chars"),
        F.sum(ws_tokens.cast("long")).alias("total_ws_tokens"),
        F.min(tlen).cast("long").alias("min_chars"),
        F.max(tlen).cast("long").alias("max_chars"),
        (F.floor(en_share * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "en_share"
        ),
    )


@query(
    "q_llm_js_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    c AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY source, tok
    ),
    tot AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY source
    ),
    dist AS (
      SELECT c.tok,
             CAST(SUM(CASE WHEN c.source = 'src0' THEN c.cnt END) AS BIGINT)
               AS c_p,
             CAST(SUM(CASE WHEN c.source = 'src1' THEN c.cnt END) AS BIGINT)
               AS c_q
      FROM c GROUP BY c.tok
    ),
    probs AS (
      SELECT COALESCE(CAST(c_p AS DOUBLE), 0.0)
               / (SELECT n FROM tot WHERE source = 'src0') AS p,
             COALESCE(CAST(c_q AS DOUBLE), 0.0)
               / (SELECT n FROM tot WHERE source = 'src1') AS q
      FROM dist
    )
    SELECT
      floor(CAST(SUM(CAST(
        CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) * 0.5)) ELSE 0 END
        + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) * 0.5)) ELSE 0 END
        AS DECIMAL(38, 18))) AS DOUBLE) * 10000000000.0 + 0.5)
          / 10000000000.0 AS js_nats,
      CAST(COUNT(*) AS BIGINT) AS vocab_union
    FROM probs
    """,
    category="2.J",
)
def q_llm_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between two sources' unigram
    distributions — the data-mixture QA statistic (how different is
    src0's text from src1's; 0 = identical, ln 2 = disjoint). Same
    tokenization as q_llm_wordcount; each term 0.5·p·ln(p/m) +
    0.5·q·ln(q/m) uses TRANSCENDENTAL ln, where JVM and libm disagree
    in the last ulp — so the vocabulary-sized sum goes through
    DECIMAL(38,18) (order independence) AND the final scalar is floor-
    rounded half-up to 10dp, far above ulp noise (q_agg_entropy
    discipline). Scale: two vocab-sized hash aggs + one vocab-sized full-outer
    merge (here a grouped CASE), broadcast scalar totals — the corpus
    is read once."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1")
    )
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    tot = c.groupBy("source").agg(F.sum("cnt").alias("n"))
    n_p = tot.where(F.col("source") == "src0").select(
        F.col("n").alias("n_p")
    )
    n_q = tot.where(F.col("source") == "src1").select(
        F.col("n").alias("n_q")
    )
    dist = c.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == "src0", F.col("cnt"))).alias("c_p"),
        F.sum(F.when(F.col("source") == "src1", F.col("cnt"))).alias("c_q"),
    )
    merged = dist.crossJoin(F.broadcast(n_p)).crossJoin(F.broadcast(n_q))
    p = F.coalesce(F.col("c_p").cast("double"), F.lit(0.0)) / F.col("n_p")
    q = F.coalesce(F.col("c_q").cast("double"), F.lit(0.0)) / F.col("n_q")
    m = (p + q) * 0.5
    term = (
        F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    ).cast("decimal(38,18)")
    return merged.agg(
        (
            F.floor(F.sum(term).cast("double") * 10000000000.0 + F.lit(0.5))
            / 10000000000.0
        ).alias("js_nats"),
        F.count("*").alias("vocab_union"),
    )


@query(
    "q_llm_perplexity_band",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ),
    pair AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM pair GROUP BY w1
    ),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS vs FROM pair),
    scored AS (
      SELECT b.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             floor(CAST(-SUM(CAST(
                 ln((p.c12 + 1) / CAST(u.c1 + v.vs AS DOUBLE))
                 AS DECIMAL(38, 18))) AS DOUBLE) / COUNT(*)
                 * 100000000.0 + 0.5) / 100000000.0 AS xent_nats
      FROM bg b
      JOIN pair p ON p.w1 = b.w1 AND p.w2 = b.w2
      JOIN uni u ON u.w1 = b.w1
      CROSS JOIN v
      GROUP BY b.doc_id
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY xent_nats, doc_id)
                     AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM scored
    )
    SELECT doc_id, n_bigrams, xent_nats,
           CASE WHEN rn <= (n + 2) // 3 THEN 'head'
                WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
                ELSE 'tail' END AS band
    FROM ranked ORDER BY doc_id
    """,
    category="2.J",
)
def q_llm_perplexity_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by its
    add-1-smoothed bigram cross-entropy under a model trained on the
    corpus itself, then cut the ranking into head/middle/tail tertiles —
    the curation step that routes 'head' (most-predictable) text into
    the training mix and quarantines the tail. ln terms go through
    DECIMAL(38,18) sums + 8dp final rounding (law 18 — JVM/libm ulp
    drift); tertile cuts are integer position arithmetic ((n+2) div 3)
    over the (xent, doc_id)-deterministic ranking. Scale: the model
    (pair/unigram counts) is vocabulary-sized and BROADCAST back onto
    the bigram stream — the corpus is read once, shuffled once (doc_id
    agg); the global ranking is the DISTRIBUTED two-phase row_number
    (operators/dprefix.py: range shuffle on (xent, doc_id), local
    row_number, broadcast offsets) — docs scale with data, so no stage
    is a partition-less global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    pair = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = pair.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = pair.select(F.countDistinct("w2").alias("vs"))
    logp = F.log(
        (F.col("c12") + 1) / (F.col("c1") + F.col("vs")).cast("double")
    ).cast("decimal(38,18)")
    # Fold the whole model into ONE vocabulary-sized broadcast with logp
    # precomputed per DISTINCT bigram (guide §2.3/§2.4: the model tables
    # are all pair-vocabulary-sized, so join them to each other before
    # the corpus-sized bigram stream touches anything): the r11 form ran
    # two broadcast joins plus a crossJoin over every bigram occurrence
    # and evaluated log()/division/decimal-cast per OCCURRENCE. logp is
    # a pure function of (w1, w2), so per-pair evaluation feeds the
    # identical decimal(38,18) multiset into the per-doc sum — values
    # are bit-for-bit unchanged, only computed |vocab| instead of
    # |corpus| times, through one broadcast instead of three.
    model = (
        pair.join(uni, "w1")
        .crossJoin(v)
        .select("w1", "w2", logp.alias("__logp"))
    )
    scored = (
        bg.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.floor(
                    (-F.sum("__logp")).cast("double") / F.count("*")
                    * 100000000.0 + F.lit(0.5)
                )
                / 100000000.0
            ).alias("xent_nats"),
        )
    )
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_row_number,
    )

    ranked = two_phase_row_number(
        scored, [("xent_nats", True), ("doc_id", True)], rn="rn", total="n",
        materialize=True,
    )
    band = (
        F.when(F.col("rn") <= F.expr("(n + 2) div 3"), "head")
        .when(F.col("rn") <= F.expr("(2 * n + 2) div 3"), "middle")
        .otherwise("tail")
    )
    return ranked.select(
        "doc_id", "n_bigrams", "xent_nats", band.alias("band")
    ).orderBy("doc_id")


@query(
    "q_llm_feature_hash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             (ascii(tok) * 31
              + ascii(substring(tok, length(tok), 1)) * 17
              + length(tok) * 7) % 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE tok <> ''
      GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(cnt * cnt) AS BIGINT) AS l2sq
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
    category="2.J",
)
def q_llm_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): tokens map straight into a
    fixed 64-bucket feature space with NO vocabulary table — the
    unbounded-vocab ML-prep step (Weinberger et al. 2009, public). The
    hash is a small polynomial over first/last char codes + length,
    chosen because it is expressible IDENTICALLY on both engines
    (production swaps in xxhash64 — engine-specific, hence not oracle-
    checkable; the pipeline shape is what matters). Per doc: token
    count, occupied buckets, and the collision-aware ℓ² norm of the
    hashed count vector — all exact int64. Scale: explode + two hash
    aggs with map-side collapse to ≤64 rows per doc; no vocabulary
    join, which is the entire point of the trick at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    bucket = (
        F.ascii("tok") * 31
        + F.ascii(F.expr("substring(tok, length(tok), 1)")) * 17
        + F.length("tok") * 7
    ) % 64
    b = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    )
    return (
        b.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_buckets"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("l2sq"),
        )
        .orderBy("doc_id")
    )


def _bpe_sql_round(prev_seq: str, r: int) -> str:
    """One unrolled BPE round as DuckDB CTE text: pair counts from
    `{prev_seq}` (word_seq, c), top pair, merged sequences."""
    return f"""
    pairs{r} AS (
      SELECT s.seq[i] || ' ' || s.seq[i + 1] AS pair, s.c
      FROM (SELECT string_split(word_seq, ' ') AS seq, c
            FROM {prev_seq}) s,
           LATERAL (SELECT unnest(range(1, len(s.seq))) AS i)
    ),
    top{r} AS (
      SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt
      FROM pairs{r} GROUP BY pair
      ORDER BY cnt DESC, pair LIMIT 1
    ),
    seq{r} AS (
      SELECT trim(replace(' ' || w.word_seq || ' ',
                          ' ' || t.pair || ' ',
                          ' ' || replace(t.pair, ' ', '') || ' '))
               AS word_seq,
             w.c
      FROM {prev_seq} w CROSS JOIN top{r} t
    )"""


@query(
    "q_llm_bpe_train",
    oracle="WITH words AS (\n"
    "  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c\n"
    "  FROM (SELECT unnest(string_split(text, ' ')) AS tok\n"
    "        FROM documents)\n"
    "  WHERE tok <> '' GROUP BY tok\n"
    "),\n"
    "seq0 AS (\n"
    "  SELECT array_to_string(string_split(tok, ''), ' ') AS word_seq, c\n"
    "  FROM words\n"
    "),"
    + _bpe_sql_round("seq0", 1)
    + ","
    + _bpe_sql_round("seq1", 2)
    + ","
    + _bpe_sql_round("seq2", 3)
    + """
    SELECT 1 AS round, pair AS merged_pair, cnt FROM top1
    UNION ALL SELECT 2, pair, cnt FROM top2
    UNION ALL SELECT 3, pair, cnt FROM top3
    ORDER BY round
    """,
    category="2.J",
)
def q_llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016, public): three
    unrolled merge rounds over the corpus word-frequency table — count
    weighted adjacent-symbol pairs, pick the most frequent (ties →
    lexicographic), fuse it everywhere, repeat. The merge application
    is space-boundary-guarded string replace, which both engines
    execute with identical left-to-right non-overlap semantics
    (probed); the learned merge rules therefore hash-match exactly.
    Fully LAZY: the chosen pair flows into the next round as a
    broadcast 1-row cross join, never a driver collect. Scale: the
    working relation is the WORD VOCABULARY (with counts), not the
    corpus — one explode + hash agg + 1-row broadcast per round; real
    tokenizer training runs ~30k rounds of exactly this dataflow."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    seq = words.select(
        F.concat_ws(" ", F.split("tok", "")).alias("word_seq"), "c"
    )
    tops = []
    for _ in range(3):
        pairs = seq.select(
            F.explode(
                # Spark's sequence(1, 0) counts DOWN ([1,0]) instead of
                # yielding empty like DuckDB's range — guard 1-symbol words.
                F.expr(
                    "CASE WHEN size(split(word_seq, ' ')) < 2 "
                    "THEN array() "
                    "ELSE transform(sequence(1, size(split(word_seq, ' ')) - 1), "
                    "i -> concat(element_at(split(word_seq, ' '), i), ' ', "
                    "element_at(split(word_seq, ' '), i + 1))) END"
                )
            ).alias("pair"),
            "c",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
        )
        tops.append(top)
        seq = seq.crossJoin(F.broadcast(top)).select(
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("word_seq"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                )
            ).alias("word_seq"),
            "c",
        )
    out = None
    for i, t in enumerate(tops, start=1):
        row = t.select(
            F.lit(i).alias("round"),
            F.col("pair").alias("merged_pair"),
            "cnt",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


# Rolling-hash modulus for shingle keys: 2^55 keeps acc*131 + h < 2^63
# (exact int64 on both engines) while making birthday collisions over any
# test-SF shingle population negligible (~1e-6) — and a collision is
# DETERMINISTIC and identical on both sides, so parity never breaks.
_SHINGLE_MOD = 1 << 55


@query(
    "q_llm_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(t[i:i + 4],
                   x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
               (acc, h) -> (acc * 131 + h) % {_SHINGLE_MOD}) AS s
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i)
    ),
    first AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS novelty_ratio
    FROM sh JOIN first f ON sh.s = f.s
    GROUP BY sh.doc_id
    """,
    category="2.J",
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty curve (round 3) — for each doc, the fraction of its
    distinct 5-gram shingles whose FIRST corpus occurrence (min doc_id)
    is this doc. The "how much genuinely new text does each document
    add" statistic behind dedup-aware data valuation (the RETSim /
    infinigram-style novelty profile): boilerplate-heavy docs score ~0,
    fresh content ~1. Shingles travel as 8-byte rolling hashes
    (Karp-Rabin fold mod 2^55 — exact int64 on both engines, collisions
    deterministic AND identical cross-engine), never as strings: the
    shuffle key is 8 bytes regardless of shingle width, the
    q_llm_line_dedup discipline. Shape: explode → per-doc distinct →
    one hash-agg on the shingle key (min doc_id) → join back on the
    same key, one more doc_id agg. All hash-partitioned, no windows,
    no collect."""
    d = _toks(load_table(spark, sf_dir, "documents"))
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 4), i -> "
                    "aggregate(slice(t, i, 5), CAST(0 AS LONG), "
                    "(acc, x) -> (acc * 131 + (CAST(ascii(x) AS LONG) * 31 "
                    f"+ length(x))) % {_SHINGLE_MOD}))"
                )
            ).alias("s"),
        )
        .distinct()
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count("*"), 4).alias("novelty_ratio"),
        )
    )


@query(
    "q_llm_tokenizer_fertility",
    oracle="""
    WITH q AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n,
             len(regexp_extract_all(text, '[a-z]{1,4}')) AS sub,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS ws_tokens,
           CAST(SUM(sub) AS BIGINT) AS subword_tokens,
           ROUND(SUM(sub) * 1.0 / SUM(n), 4) AS fertility,
           ROUND(SUM(n_chars - n + 1) * 1.0 / SUM(sub), 4)
             AS chars_per_subtok
    FROM q GROUP BY lang ORDER BY lang
    """,
    category="2.J",
)
def q_llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (round 3) — subword tokens per
    whitespace word and chars per subword token, the standard "how well
    does the tokenizer fit each language" diagnostic (high fertility =
    the language pays more sequence length per word; drives mixture and
    vocab decisions). Uses the q_llm_token_count BPE-ish regex so both
    engines tokenize identically; ratios are single divisions of exact
    int64 sums, display-rounded. One map + one bounded hash-agg on lang
    — the exchange carries |langs| rows per partition."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    sub = F.regexp_count("text", F.lit("[a-z]{1,4}"))
    return (
        d.select(
            "lang",
            n.alias("n"),
            sub.alias("sub"),
            (F.col("n_chars") - n + 1).alias("chars_net"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("ws_tokens"),
            F.sum("sub").alias("subword_tokens"),
            F.round(F.sum("sub") / F.sum("n"), 4).alias("fertility"),
            F.round(
                F.sum("chars_net") / F.sum("sub"), 4
            ).alias("chars_per_subtok"),
        )
        .orderBy("lang")
    )


@query(
    "q_llm_entropy_rate",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT lang, t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    pair AS (
      SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY 1, 2, 3
    ),
    uni AS (
      SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1
      FROM pair GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang, CAST(SUM(c12) AS BIGINT) AS nb,
             CAST(COUNT(DISTINCT w1) AS BIGINT) AS ctx
      FROM pair GROUP BY lang
    )
    SELECT p.lang, t.nb AS n_bigrams, t.ctx AS n_contexts,
           floor(-CAST(SUM(CAST(
                    c12 * ln(CAST(c12 AS DOUBLE) / u.c1)
                  AS DECIMAL(38, 18))) AS DOUBLE) / t.nb
                 * 100000000.0 + 0.5) / 100000000.0 AS entropy_rate_nats
    FROM pair p
    JOIN uni u USING (lang, w1)
    JOIN tot t USING (lang)
    GROUP BY p.lang, t.nb, t.ctx
    ORDER BY p.lang
    """,
    category="2.J",
)
def q_llm_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy rate per language, H(w2|w1) =
    -sum p(w1,w2) ln p(w2|w1) — the corpus "predictability" statistic
    (Shannon's entropy-of-English measurement): low rate = repetitive /
    templated text, high = diverse. The number a curation pipeline
    tracks per source/lang to spot boilerplate floods that simple
    dup-rate misses. Counts are exact ints; each ln argument is ONE
    division of identical ints; ln terms weight by c12 and sum in
    DECIMAL(38,18), one /N, floor-8dp (law 18). Scale: pairs collapse
    map-side to the bigram table; the marginal re-agg reuses the same
    (lang, w1) exchange; output is |langs| rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.split("text", " ").alias("t"))
    bg = toks.select(
        "lang", F.posexplode("t").alias("i", "w1"), F.col("t")
    ).where(F.col("i") < F.size("t") - 1).select(
        "lang", "w1", F.expr("t[i + 1]").alias("w2")
    )
    pair = bg.groupBy("lang", "w1", "w2").agg(F.count("*").alias("c12"))
    uni = pair.groupBy("lang", "w1").agg(F.sum("c12").alias("c1"))
    tot = pair.groupBy("lang").agg(
        F.sum("c12").alias("nb"), F.countDistinct("w1").alias("ctx")
    )
    term = (
        F.col("c12") * F.log(F.col("c12").cast("double") / F.col("c1"))
    ).cast("decimal(38,18)")
    return (
        pair.join(uni, ["lang", "w1"])
        .join(F.broadcast(tot), "lang")
        .groupBy("lang", "nb", "ctx")
        .agg(
            (
                F.floor(
                    -F.sum(term).cast("double") / F.col("nb")
                    * 100000000.0
                    + F.lit(0.5)
                )
                / 100000000.0
            ).alias("entropy_rate_nats")
        )
        .select(
            "lang",
            F.col("nb").alias("n_bigrams"),
            F.col("ctx").alias("n_contexts"),
            "entropy_rate_nats",
        )
        .orderBy("lang")
    )


@query(
    "q_llm_rare_token_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    occ AS (
      SELECT doc_id, u.tok
      FROM toks, unnest(t) AS u(tok)
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM occ GROUP BY tok
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM toks),
    per_doc AS (
      SELECT o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN d.df * 10 < nd.n_docs
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM occ o JOIN df d USING (tok) CROSS JOIN nd
      GROUP BY o.doc_id
    )
    SELECT doc_id, n_tokens, n_rare,
           floor(CAST(n_rare AS DOUBLE) / n_tokens * 10000.0 + 0.5)
             / 10000.0 AS rare_frac
    FROM per_doc WHERE n_rare > 0
    ORDER BY doc_id
    """,
    category="2.J",
)
def q_llm_rare_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary risk screen: per document, the count and
    fraction of tokens whose corpus document-frequency is below
    10% of the corpus —
    the docs a tokenizer/embedding trained on this corpus will handle
    worst (and the first place OCR noise, code, or mojibake shows up).
    Token occurrences join the (bounded-vocabulary) df table back by
    token — at 100 TB that join broadcasts the df table's rare slice
    (relative-df filter first) rather than shuffling occurrences; here the
    vocabulary is 63 tokens so either plan is broadcast-sized. Exact
    counts, one division, floor-4dp."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    df = occ.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    nd = d.agg(F.count("*").alias("n_docs"))
    per_doc = (
        occ.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("df") * 10 < F.col("n_docs"), 1
                ).otherwise(0)
            ).alias("n_rare"),
        )
    )
    return (
        per_doc.where(F.col("n_rare") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            (
                F.floor(
                    F.col("n_rare").cast("double") / F.col("n_tokens")
                    * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("rare_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_llm_winnowing",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    kg AS (
      SELECT doc_id, i,
             (ascii(toks[i]) * 961 + ascii(toks[i + 1]) * 31
              + ascii(toks[i + 2])
              + length(toks[i]) * 7 + length(toks[i + 2])) % 8191 AS h
      FROM t, unnest(range(1, n - 1)) AS u(i)
    ),
    win AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wn
      FROM kg
    )
    SELECT doc_id,
           CAST(MAX(kn) AS BIGINT) AS n_kgrams,
           CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
           CAST(MIN(wmin) AS BIGINT) AS min_fp
    FROM (SELECT doc_id, wmin,
                 MAX(wn) OVER (PARTITION BY doc_id) AS _m,
                 COUNT(*) OVER (PARTITION BY doc_id) AS kn
          FROM win WHERE wn = 4)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    category="2.J",
)
def q_llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the
    MOSS algorithm): 3-gram rolling hashes, then the MINIMUM of each
    4-hash window becomes a fingerprint — guaranteeing any sufficiently
    long match between documents shares a fingerprint, with far fewer
    stored hashes than q_llm_fingerprint's full set. Per-doc summary:
    k-gram count, distinct-fingerprint count, min fingerprint. The
    window partitions by doc_id (millions of small partitions; per-doc
    length bounds every frame) and the hash is pure integer ascii
    arithmetic — identical on both engines. Selecting the window-MIN
    (not position) keeps the distinct set order-free and
    engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    kg = (
        t.select(
            "doc_id",
            F.posexplode("toks").alias("i0", "w"),
            F.col("toks"),
            F.col("n"),
        )
        .where(F.col("i0") < F.col("n") - 2)
        .select(
            "doc_id",
            F.col("i0").alias("i"),
            (
                (
                    F.ascii(F.expr("toks[i0]")) * 961
                    + F.ascii(F.expr("toks[i0 + 1]")) * 31
                    + F.ascii(F.expr("toks[i0 + 2]"))
                    + F.length(F.expr("toks[i0]")) * 7
                    + F.length(F.expr("toks[i0 + 2]"))
                )
                % 8191
            ).alias("h"),
        )
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-3, 0)
    )
    win = kg.select(
        "doc_id",
        F.min("h").over(wf).alias("wmin"),
        F.count("*").over(wf).alias("wn"),
    ).where(F.col("wn") == 4)
    return (
        win.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kgrams"),
            F.countDistinct("wmin").alias("n_fingerprints"),
            F.min("wmin").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_llm_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, u.c
      FROM (SELECT doc_id, string_split(replace(text, ' ', ''), '') AS cs
            FROM documents), unnest(cs) AS u(c)
    ),
    cnt AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
      FROM ch GROUP BY doc_id, c
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS alphabet
      FROM cnt GROUP BY doc_id
    )
    SELECT c.doc_id, t.n AS n_chars_net, t.alphabet,
           floor(-CAST(SUM(CAST(
                    k * ln(CAST(k AS DOUBLE) / t.n)
                  AS DECIMAL(38, 18))) AS DOUBLE) / t.n / ln(2.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS char_entropy_bits
    FROM cnt c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id, t.n, t.alphabet
    ORDER BY c.doc_id
    """,
    category="2.J",
)
def q_llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (bits/char, whitespace stripped) —
    the compressibility proxy every gibberish/mojibake/binary-blob
    filter thresholds on: natural language sits ~3-4.2 bits, base64
    and random bytes push toward log2(alphabet), 'aaaa...' floods
    collapse near 0. Characters explode to a bounded-alphabet count
    table per doc; each ln argument is a ratio of exact ints; terms
    DECIMAL-sum, one /n and /ln 2, floor-6dp (law 18). Scale: the
    char-grain explosion is the only big relation and collapses
    map-side to (doc, char) before shuffling."""
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace("text", " ", ""), "")
        ).alias("c"),
    ).where(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("k").alias("n"), F.count("*").alias("alphabet")
    )
    term = (
        F.col("k") * F.log(F.col("k").cast("double") / F.col("n"))
    ).cast("decimal(38,18)")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n", "alphabet")
        .agg(
            (
                F.floor(
                    -F.sum(term).cast("double")
                    / F.col("n")
                    / F.log(F.lit(2.0))
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("char_entropy_bits")
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars_net"),
            "alphabet",
            "char_entropy_bits",
        )
        .orderBy("doc_id")
    )


# Vocabulary size for q_llm_oov_rate — the corpus has ~31 distinct
# whitespace tokens, so a 20-term vocabulary leaves a real OOV tail.
OOV_VOCAB_K = 20


@query(
    "q_llm_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {OOV_VOCAB_K}),
    per AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           floor(n_oov * 1.0 / n_tokens * 1000000.0) / 1000000.0 AS oov_rate
    FROM per
    """,
    category="2.J",
)
def q_llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-{OOV_VOCAB_K} token vocabulary (count desc, token asc tiebreak —
    fully deterministic truncation) — the tokenizer-coverage diagnostic
    run before committing to a vocab: documents with high OOV mass
    either need a bigger vocabulary or are noise. Scale: the vocabulary
    is a top-K over the token-count agg (TakeOrdered — k rows per
    partition cross the wire) and BROADCASTS into the per-doc join;
    the only data-scaled exchange is the token-count hash-agg and the
    per-doc agg, both map-side combining. Exact integers; the rate is
    one float division, floor-6dp."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("__v"))
    )
    per = (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("__v").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (
            F.floor(
                F.col("n_oov") * 1.0 / F.col("n_tokens") * 1000000.0
            )
            / 1000000.0
        ).alias("oov_rate"),
    )


@query(
    "q_llm_dup_trigram_chars",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tri AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS tg
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
    ),
    g AS (SELECT doc_id, tg, COUNT(*) AS c FROM tri GROUP BY 1, 2),
    a AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_trigrams,
             CAST(COALESCE(SUM(CASE WHEN c >= 2
                                    THEN c * length(tg) END), 0) AS BIGINT)
               AS dup_chars
      FROM g GROUP BY doc_id
    )
    SELECT d.doc_id, a.n_trigrams, a.dup_chars,
           floor(a.dup_chars * 1.0 / d.n_chars * 10000.0 + 0.5) / 10000.0
             AS dup_char_frac
    FROM documents d JOIN a USING (doc_id)
    """,
    category="2.J",
)
def q_llm_dup_trigram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram CHARACTER fraction — the character-weighted rung
    of the Gopher repetition family (Rae 2021 A1 measures "fraction of
    characters in duplicate n-grams", not just the duplicate-type count
    of q_llm_repetition_ratio: char weighting catches boilerplate made
    of long repeated phrases that a type ratio underweights). Each
    occurrence of a trigram whose in-document count is ≥ 2 contributes
    its full character span (the standard public implementation — no
    overlap union), normalized by the document's total characters.
    Docs with fewer than 3 tokens have no trigram and are excluded.
    Plan: trigrams via posexplode + two leads per doc (ONE doc_id
    exchange reused by window, the (doc, trigram) count, the per-doc
    fold and the n_chars join — all doc_id-co-keyed); exact integers
    until one final floored division."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = toks.select(
        "doc_id",
        F.concat_ws(
            " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
        ).alias("tg"),
        F.lead("tok", 2).over(w).alias("l2"),
    ).where(F.col("l2").isNotNull())
    g = tri.groupBy("doc_id", "tg").agg(F.count("*").alias("c"))
    a = g.groupBy("doc_id").agg(
        F.sum("c").alias("n_trigrams"),
        F.coalesce(
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length("tg"))
            ),
            F.lit(0),
        ).alias("dup_chars"),
    )
    return a.join(d.select("doc_id", "n_chars"), "doc_id").select(
        "doc_id",
        "n_trigrams",
        "dup_chars",
        (
            F.floor(
                F.col("dup_chars") * 1.0 / F.col("n_chars") * 10000.0
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("dup_char_frac"),
    )


@query(
    "q_llm_bigram_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ),
    uni AS (
      SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1
    ),
    uni2 AS (
      SELECT w2 AS w, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bi),
    pairs AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY 1, 2
    )
    SELECT p.w1, p.w2, p.c_xy,
           CAST(CAST(p.c_xy AS HUGEINT) * n.n * 1000000
                // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT)
             AS lift_ppm
    FROM pairs p
    JOIN uni u1 ON u1.w = p.w1
    JOIN uni2 u2 ON u2.w = p.w2
    CROSS JOIN n
    WHERE p.c_xy >= 5
    ORDER BY lift_ppm DESC, p.w1, p.w2
    LIMIT 20
    """,
    category="2.J",
)
def q_llm_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by PMI RANK, log-free: pointwise mutual
    information orders pairs exactly like the integer lift
    c_xy·N/(c_x·c_y) (log is monotone), so the ranking — which is what
    a tokenizer-merge or stopword-phrase decision consumes — needs no
    transcendental function whose low bits differ between engines.
    The score ships as floor-ppm integer lift (c_xy·N·10⁶ // c_x·c_y —
    INTEGER division on both engines; the double-division-then-truncate
    form differed by one at a .9999… boundary); the min-support
    cut (c_xy ≥ 5) is the standard collocation floor. Positional
    unigram margins (first-slot / second-slot counts) make the
    contingency exact.

    Overflow posture (r6, r5 verdict wrong #5): the numerator
    c_xy·N·10⁶ crosses 2^63 once c_xy·N > 9.2e12 — a few-billion-token
    corpus with a 1k-count hot pair — where non-ANSI Spark would WRAP
    silently while DuckDB raises, an engine-divergence trap. Both
    sides therefore compute the product in 128-bit arithmetic
    (DECIMAL(38,0) / HUGEINT) and cast only the quotient to BIGINT;
    the quotient is bounded by N·10⁶/25 under the support cut
    (c_xy ≤ min(c1,c2), c_xy ≥ 5), inside int64 for any corpus below
    ~9e15 bigrams — beyond the 100 TB design point.

    Scale: one bigram explode (the q_llm_repetition_ratio pipeline),
    three hash-aggs on token keys, two broadcast-able margin joins
    (vocabulary-sized), one global top-20 via TakeOrderedAndProject.
    Exact integers end to end."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
        .select("w1", "w2")
    )
    uni1 = bi.groupBy(F.col("w1").alias("w")).agg(
        F.count("*").alias("c1")
    )
    uni2 = bi.groupBy(F.col("w2").alias("w")).agg(
        F.count("*").alias("c2")
    )
    n = bi.agg(F.count("*").alias("n"))
    pairs = bi.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    scored = (
        pairs.where(F.col("c_xy") >= 5)
        .join(F.broadcast(uni1), pairs.w1 == uni1.w)
        .drop("w")
        .join(F.broadcast(uni2), pairs.w2 == uni2.w)
        .drop("w")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_xy",
            # 128-bit product (see docstring): DECIMAL(38,0) keeps the
            # numerator exact past 2^63; div yields BIGINT on both
            # engines
            F.expr(
                "(CAST(c_xy AS DECIMAL(38,0)) * n * 1000000) "
                "div (CAST(c1 AS DECIMAL(38,0)) * c2)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")
    ).limit(20)


@query(
    "q_llm_bleu",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t
        FROM documents
    ),
    pairs AS (
        SELECT doc_id AS cand_id,
               lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
                   AS ref_id,
               t AS c,
               lead(t) OVER (PARTITION BY lang ORDER BY doc_id) AS r
        FROM toks
        QUALIFY ref_id IS NOT NULL
    ),
    uni AS (
        SELECT p.cand_id, g.tok,
               CAST(COUNT(*) AS BIGINT) AS n_c
        FROM pairs p, unnest(p.c) AS g(tok)
        GROUP BY 1, 2
    ),
    uni_r AS (
        SELECT p.cand_id, g.tok,
               CAST(COUNT(*) AS BIGINT) AS n_r
        FROM pairs p, unnest(p.r) AS g(tok)
        GROUP BY 1, 2
    ),
    m1 AS (
        SELECT u.cand_id,
               CAST(SUM(LEAST(u.n_c, COALESCE(r.n_r, 0))) AS BIGINT)
                   AS hits1
        FROM uni u LEFT JOIN uni_r r
          ON u.cand_id = r.cand_id AND u.tok = r.tok
        GROUP BY u.cand_id
    ),
    bi AS (
        SELECT p.cand_id,
               p.c[g.i] || ' ' || p.c[g.i + 1] AS bg,
               CAST(COUNT(*) AS BIGINT) AS n_c
        FROM pairs p, unnest(range(1, len(p.c))) AS g(i)
        GROUP BY 1, 2
    ),
    bi_r AS (
        SELECT p.cand_id,
               p.r[g.i] || ' ' || p.r[g.i + 1] AS bg,
               CAST(COUNT(*) AS BIGINT) AS n_r
        FROM pairs p, unnest(range(1, len(p.r))) AS g(i)
        GROUP BY 1, 2
    ),
    m2 AS (
        SELECT b.cand_id,
               CAST(SUM(LEAST(b.n_c, COALESCE(r.n_r, 0))) AS BIGINT)
                   AS hits2
        FROM bi b LEFT JOIN bi_r r
          ON b.cand_id = r.cand_id AND b.bg = r.bg
        GROUP BY b.cand_id
    ),
    scored AS (
        SELECT p.cand_id, p.ref_id,
               CAST(len(p.c) AS BIGINT) AS c_len,
               CAST(len(p.r) AS BIGINT) AS r_len,
               COALESCE(m1.hits1, 0) AS hits1,
               COALESCE(m2.hits2, 0) AS hits2
        FROM pairs p
        LEFT JOIN m1 ON p.cand_id = m1.cand_id
        LEFT JOIN m2 ON p.cand_id = m2.cand_id
    )
    SELECT cand_id, ref_id, c_len, r_len, hits1, hits2,
           floor(
             CASE WHEN c_len >= r_len THEN 1.0
                  ELSE exp(1.0 - r_len * 1.0 / c_len) END
             * exp((ln(hits1 * 1.0 / c_len)
                    + ln((hits2 + 1.0) / (c_len - 1.0 + 1.0))) / 2.0)
             * 1000000.0 + 0.5) / 1000000.0 AS bleu2
    FROM scored
    WHERE hits1 > 0
    ORDER BY cand_id
    """,
    category="2.J",
)
def q_llm_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE-LEVEL BLEU-2 — the n-gram-overlap generation metric
    next to the retrieval metrics (ndcg_eval) and the similarity
    suite: candidate = each doc, reference = the next doc of the
    same lang (a deterministic pairing that yields same-domain,
    nonzero-overlap pairs on this corpus), modified n-gram precision
    with REFERENCE CLIPPING (a candidate n-gram counts at most as
    often as the reference contains it — the part naive precision
    gets wrong), brevity penalty exp(1-r/c) for short candidates,
    add-one smoothing on the bigram term only (Lin-Och method 1;
    unigram hits>0 enforced by the WHERE on both engines). All
    counts are exact int64 from hash aggs over exploded n-grams (two
    per order: candidate side, reference side, LEFT-joined so
    missing n-grams clip to 0); the only floats are the final
    ln/exp tree, floor-6dp. Scale: n-gram explode + hash agg + one
    equi-join per n — the eval-harness shape for millions of
    (candidate, reference) pairs, shuffling n-gram COUNTS, never
    texts."""
    d = _toks(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    pairs = (
        d.select(
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id").over(w).alias("ref_id"),
            F.col("t").alias("c"),
            F.lead("t").over(w).alias("r"),
        )
        .where(F.col("ref_id").isNotNull())
    )
    pairs = tracked_local_checkpoint(pairs)

    def grams(col, n):
        if n == 1:
            return F.col(col)
        return F.expr(
            f"transform(slice({col}, 1, size({col}) - 1), "
            f"(x, i) -> concat(x, ' ', {col}[i + 1]))"
        )

    def side_counts(col, n, cnt_name):
        return (
            pairs.select(
                "cand_id", F.explode(grams(col, n)).alias("g")
            )
            .groupBy("cand_id", "g")
            .agg(F.count("*").cast("long").alias(cnt_name))
        )

    def hits(n, out):
        c = side_counts("c", n, "n_c")
        r = side_counts("r", n, "n_r")
        return (
            c.join(r, ["cand_id", "g"], "left")
            .groupBy("cand_id")
            .agg(
                F.sum(
                    F.least(
                        F.col("n_c"), F.coalesce(F.col("n_r"), F.lit(0))
                    )
                ).cast("long").alias(out)
            )
        )

    scored = (
        pairs.select(
            "cand_id",
            "ref_id",
            F.size("c").cast("long").alias("c_len"),
            F.size("r").cast("long").alias("r_len"),
        )
        .join(hits(1, "hits1"), "cand_id", "left")
        .join(hits(2, "hits2"), "cand_id", "left")
        .na.fill({"hits1": 0, "hits2": 0})
    )
    c_len, r_len = F.col("c_len"), F.col("r_len")
    h1, h2 = F.col("hits1"), F.col("hits2")
    bp = F.when(c_len >= r_len, F.lit(1.0)).otherwise(
        F.exp(1.0 - r_len * 1.0 / c_len)
    )
    bleu = bp * F.exp(
        (
            F.log(h1 * 1.0 / c_len)
            + F.log((h2 + 1.0) / (c_len - 1.0 + 1.0))
        )
        / 2.0
    )
    return (
        scored.where(h1 > 0)
        .select(
            "cand_id", "ref_id", "c_len", "r_len", "hits1", "hits2",
            (F.floor(bleu * 1000000.0 + 0.5) / 1000000.0)
            .alias("bleu2"),
        )
        .orderBy("cand_id")
    )


_LCS_N = 30  # fixed DP size: sequences truncated/padded to 30 tokens


def _rouge_oracle(n: int = _LCS_N) -> str:
    """Generated anti-diagonal wavefront LCS for DuckDB — the DTW
    oracle trick with max/match semantics: L[i][j] = match ?
    L[i-1][j-1]+1 : max(L[i-1][j], L[i][j-1]), borders 0. Sequences
    are truncated to n and padded to exactly n with PER-SIDE
    sentinels (chr(1) candidate, chr(2) reference) that can never
    match, so the DP size is fixed while true lengths drive the
    P/R denominators. Validated cell-exact against an independent
    Python LCS on random pairs before adoption."""
    ctes = []
    for k in range(2 * n - 1):
        lo = max(0, k - n + 1)
        hi = min(k, n - 1)
        width = hi - lo + 1
        if k == 0:
            ctes.append(
                "d0 AS (SELECT *, "
                "[CASE WHEN a[1] = b[1] THEN 1 ELSE 0 END] AS diag0 "
                "FROM padded)"
            )
            continue
        lo1 = max(0, k - 1 - n + 1)
        lo2 = max(0, k - 2 - n + 1)
        i = f"({lo} + p - 1)"
        j = f"({k} - {i})"
        dg = (
            f"CASE WHEN {i} >= 1 AND {j} >= 1 "
            f"THEN diag{k - 2}[{i} - 1 - {lo2} + 1] ELSE 0 END"
            if k >= 2
            else "0"
        )
        up = (
            f"CASE WHEN {i} >= 1 AND {j} <= {n - 1} "
            f"THEN diag{k - 1}[{i} - 1 - {lo1} + 1] ELSE 0 END"
        )
        lf = (
            f"CASE WHEN {j} >= 1 AND {i} <= {n - 1} "
            f"THEN diag{k - 1}[{i} - {lo1} + 1] ELSE 0 END"
        )
        ctes.append(
            f"d{k} AS (SELECT *, list_transform(range(1, {width + 1}), "
            f"p -> CASE WHEN a[{i} + 1] = b[{j} + 1] "
            f"THEN COALESCE({dg}, 0) + 1 "
            f"ELSE GREATEST(COALESCE({up}, 0), COALESCE({lf}, 0)) END"
            f") AS diag{k} FROM d{k - 1})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t
        FROM documents
    ),
    pairs AS (
        SELECT doc_id AS cand_id,
               lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
                   AS ref_id,
               t AS c,
               lead(t) OVER (PARTITION BY lang ORDER BY doc_id) AS r
        FROM toks
        QUALIFY ref_id IS NOT NULL
    ),
    padded AS (
        SELECT cand_id, ref_id,
               LEAST(len(c), {n}) AS c_len,
               LEAST(len(r), {n}) AS r_len,
               list_concat(c[1:{n}],
                   list_transform(range(len(c[1:{n}]), {n}),
                                  x -> chr(1))) AS a,
               list_concat(r[1:{n}],
                   list_transform(range(len(r[1:{n}]), {n}),
                                  x -> chr(2))) AS b
        FROM pairs
    ),
    {chain}
    SELECT cand_id, ref_id,
           CAST(c_len AS BIGINT) AS c_len,
           CAST(r_len AS BIGINT) AS r_len,
           CAST(diag{2 * n - 2}[1] AS BIGINT) AS lcs,
           CASE WHEN diag{2 * n - 2}[1] = 0 THEN 0.0
                ELSE floor(
                  2.0 * (diag{2 * n - 2}[1] * 1.0 / r_len)
                      * (diag{2 * n - 2}[1] * 1.0 / c_len)
                  / (diag{2 * n - 2}[1] * 1.0 / r_len
                     + diag{2 * n - 2}[1] * 1.0 / c_len)
                  * 1000000.0 + 0.5) / 1000000.0 END AS rouge_l_f1
    FROM d{2 * n - 2}
    ORDER BY cand_id
    """


@query("q_llm_rouge_l", oracle=_rouge_oracle(), category="2.J")
def q_llm_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L — the LONGEST-COMMON-SUBSEQUENCE generation metric
    beside BLEU's n-gram precision (LCS rewards in-order coverage
    without requiring contiguity — the summary-evaluation standard):
    same deterministic candidate/reference pairing as q_llm_bleu,
    sequences truncated to {n} tokens and padded to EXACTLY {n} with
    per-side sentinel tokens that can never match (fixed DP size for
    the wavefront oracle; true lengths keep driving precision/
    recall), F1 = 2RP/(R+P) with R = LCS/r_len, P = LCS/c_len. The
    kernel is the DTW layout: pairs reduce to (id, tokens, tokens)
    rows, the O(n^2) integer DP runs in numpy-free Python per row
    inside mapInPandas — embarrassingly parallel, per-task memory
    O(n^2) bounded by the window. LCS lengths are integers; the only
    floats are the final F1 tree, floor-6dp, zero-guarded
    identically on both engines. The ORACLE is the DP unrolled as
    {d} chained anti-diagonal list CTEs (the q_ts_dtw generated-
    oracle trick with max/match semantics) — a full exact oracle for
    a second algorithm SQL has no native spelling for."""
    d = _toks(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    pairs = (
        d.select(
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id").over(w).alias("ref_id"),
            F.col("t").alias("c"),
            F.lead("t").over(w).alias("r"),
        )
        .where(F.col("ref_id").isNotNull())
        .select(
            "cand_id",
            "ref_id",
            F.least(F.size("c"), F.lit(_LCS_N)).cast("long")
            .alias("c_len"),
            F.least(F.size("r"), F.lit(_LCS_N)).cast("long")
            .alias("r_len"),
            F.slice("c", 1, _LCS_N).alias("a"),
            F.slice("r", 1, _LCS_N).alias("b"),
        )
    )

    def lcs_kernel(pdfs):
        import pandas as pd

        # Bit-parallel LCS (Allison & Dix 1986): the row update collapses
        # to word-wide integer ops — U = V & M[c]; V = ((V+U) | (V-U))
        # masked to m bits; LCS = zeros(V). Exact LCS length (verified
        # against the r11 O(n·m) list DP over 20k random cases incl. the
        # empty/1-token edges), ~30× less interpreted Python per pair
        # (guide §4.2 — per-row work must be word ops, not O(n·m) loop
        # iterations). The oracle's anti-diagonal CTE DP is untouched.
        for pdf in pdfs:
            out = []
            for cand_id, ref_id, cl, rl, a, b in zip(
                pdf["cand_id"], pdf["ref_id"], pdf["c_len"],
                pdf["r_len"], pdf["a"], pdf["b"],
            ):
                m = len(b)
                lcs = 0
                if m and len(a):
                    mmask = (1 << m) - 1
                    match = {}
                    bit = 1
                    for tok in b:
                        match[tok] = match.get(tok, 0) | bit
                        bit <<= 1
                    v = mmask
                    get = match.get
                    for tok in a:
                        u = v & get(tok, 0)
                        v = ((v + u) | (v - u)) & mmask
                    lcs = m - bin(v).count("1")
                c_len = int(cl)
                r_len = int(rl)
                if lcs == 0:
                    f1 = 0.0
                else:
                    rr = lcs * 1.0 / r_len
                    pp = lcs * 1.0 / c_len
                    f1 = (
                        int(2.0 * rr * pp / (rr + pp) * 1000000.0 + 0.5)
                        // 1 / 1000000.0
                    )
                out.append(
                    (int(cand_id), int(ref_id), c_len, r_len, lcs, f1)
                )
            yield pd.DataFrame(
                out,
                columns=["cand_id", "ref_id", "c_len", "r_len",
                         "lcs", "rouge_l_f1"],
            )

    # The pairing window partitions by lang (5 values), so without this
    # the Python DP stage inherits ≤5 partitions and runs nearly serial
    # (guide §2.5 — parallelism starved by key cardinality, not bytes).
    # Round-robin pin: the kernel is per-row, the final orderBy pins
    # output order, so placement is free to move.
    pairs = pin_width(pairs)
    return pairs.mapInPandas(
        lcs_kernel,
        schema=(
            "cand_id long, ref_id long, c_len long, r_len long, "
            "lcs long, rouge_l_f1 double"
        ),
    ).orderBy("cand_id")


q_llm_rouge_l.__doc__ = q_llm_rouge_l.__doc__.format(
    n=_LCS_N, d=2 * _LCS_N - 1
)


@query(
    "q_llm_ctfidf",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY source, term
    ),
    ft AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS f FROM tf GROUP BY term),
    tot AS (
      SELECT CAST(SUM(f) AS BIGINT) AS t,
             (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM tf) AS nc
      FROM ft
    ),
    w AS (
      SELECT tf.source, tf.term, tf.tf,
             CAST(floor(tf.tf * ln((tot.nc * ft.f + tot.t) * 1.0
                                   / (tot.nc * ft.f)) * 1000000 + 0.5)
                  AS BIGINT) AS w6
      FROM tf JOIN ft USING (term) CROSS JOIN tot
    )
    SELECT source, term, tf, w6, rank FROM (
      SELECT source, term, tf, w6,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY w6 DESC, term) AS INT) AS rank
      FROM w)
    WHERE rank <= 5 ORDER BY source, rank
    """,
    category="2.J",
)
def q_llm_ctfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF (c-TF-IDF, the BERTopic topic-term scoring —
    public): each `source` class is treated as ONE concatenated
    document, term weight = tf(t,c) · ln(1 + A/f_t) with A = average
    tokens per class and f_t the corpus-wide term count; top-5 terms
    per class by weight. This is the class-representative-terms query
    every topic/source diagnostic runs — the DOC-grain q_llm_tfidf
    cannot see class structure. The log argument is formed as the
    exact-integer ratio (nc·f + T)/(nc·f) so both engines feed ln the
    SAME double, and the ranking key is the 6dp fixed-point weight
    with a term tie-break — deterministic across engines and layouts.

    Cross-libm hazard (r9 ADVICE, accepted residual): unlike sqrt,
    ln is NOT IEEE-754 correctly rounded, so JVM Math.log and DuckDB
    std::log may differ by 1 ulp on the same double input; scaled by
    tf·1e6 that can flip w6 by 1 exactly at a floor boundary and, if
    two terms sit within 1 of the rank-5 cut, reorder the per-class
    top-5. Data-dependent: on every shipped fixture the nearest
    adjacent w6 gap at the cut is far above 1, and the term tie-break
    absorbs exact ties. Same residual class as the other ln/exp rungs
    (q_llm_bleu's ln/exp tree).

    Scale: two hash-aggs (class-term, term) + a broadcast term-count
    join; the weight math is per (class, term) row — |classes|·|vocab|
    bounded, never corpus-sized. The per-class top-5 window partitions
    by class."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    # |classes|x|vocab| relation consumed by FOUR branches (ft, t, nc,
    # and the weight join) — pin it or the corpus token explode re-runs
    # per branch (measured 4.5 -> 1.5 s best-of-2 at sf0.1).
    tf = tracked_local_checkpoint(
        tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    )
    ft = tf.groupBy("term").agg(F.sum("tf").alias("f"))
    tot = ft.agg(F.sum("f").alias("t")).crossJoin(
        tf.select(F.countDistinct("source").alias("nc"))
    )
    w = (
        tf.join(F.broadcast(ft), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "term", "tf",
            F.floor(
                F.col("tf")
                * F.log(
                    (F.col("nc") * F.col("f") + F.col("t")).cast("double")
                    / (F.col("nc") * F.col("f")).cast("double")
                )
                * 1000000
                + F.lit(0.5)
            ).cast("long").alias("w6"),
        )
    )
    win = Window.partitionBy("source").orderBy(F.desc("w6"), F.asc("term"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 5)
        .select("source", "term", "tf", "w6", "rank")
        .orderBy("source", "rank")
    )


@query(
    "q_llm_bigram_growth",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_transform(
               range(2, len(string_split(text, ' ')) + 1),
               i -> string_split(text, ' ')[i-1] || ' '
                    || string_split(text, ' ')[i])) AS g
      FROM documents
    ),
    first_seen AS (
      SELECT g, MIN(doc_id) AS fd FROM tok GROUP BY g
    ),
    newc AS (
      SELECT fd, CAST(COUNT(*) AS BIGINT) AS nv FROM first_seen GROUP BY fd
    ),
    per AS (
      SELECT doc_id,
             CAST(GREATEST(len(string_split(text, ' ')) - 1, 0) AS BIGINT)
               AS n_bi
      FROM documents
    ),
    serie AS (
      SELECT p.doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY p.doc_id) AS BIGINT) AS rnk,
             CAST(SUM(p.n_bi) OVER (ORDER BY p.doc_id) AS BIGINT)
               AS cum_tokens,
             CAST(SUM(COALESCE(n.nv, 0)) OVER (ORDER BY p.doc_id)
                  AS BIGINT) AS cum_vocab
      FROM per p LEFT JOIN newc n ON p.doc_id = n.fd
    )
    SELECT rnk, doc_id, cum_tokens, cum_vocab
    FROM serie WHERE rnk % 50 = 0 ORDER BY rnk
    """,
    category="2.J",
)
def q_llm_bigram_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law diagnostic) at BIGRAM grain:
    cumulative distinct-bigram count vs cumulative bigram count, sampled
    every 50 docs in corpus (doc_id) order — the checkpointed-series
    sibling of the decile-bucketed unigram curve q_llm_vocab_growth
    (operators/profiling.py), which saturates on this fixture's 31-token
    unigram vocabulary while bigrams keep growing. This is the datasheet curve
    that tells you whether a corpus keeps contributing new phrasing as
    it grows or has gone redundant — the macro companion to the per-pair
    dedup rungs (a flattening curve is the population-level symptom of
    the duplication they find pairwise). Bigrams: 916 distinct at
    sf0.01 over 500 docs, so the curve stays informative at every SF.

    Scale shape: 'cumulative distinct' never materializes running sets —
    each bigram contributes at its FIRST document (min doc_id per
    bigram: one hash-agg on the bigram key), so the curve is an ordinary
    cumulative sum of per-doc new-bigram counts. Bigrams zip adjacent
    elements inside each doc's token array (no token-grain shuffle);
    the per-doc series then runs rank + both cumulative sums through
    ONE range shuffle, the fused dprefix two_phase_rank_cumsums (the
    doc-grain relation scales with the corpus — no partition-less
    window), and only rank-multiple-of-50 checkpoint rows survive to
    the output."""
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_rank_cumsums,
    )

    d = load_table(spark, sf_dir, "documents")
    # r13 (§2.4): adjacent-pair zip IN the token array — the lag-over-
    # (doc, pos) form shuffled and sorted the whole TOKEN-grain relation
    # just to pair each token with its neighbour, which the array
    # already encodes positionally. transform over slice(arr, 1, n-1)
    # pairs arr[i] with arr[i+1] in-executor, no exchange; identical
    # bigram multiset (empty/1-token docs emit nothing in both forms,
    # and concat_ws(' ', p, tok) == concat on non-NULL tokens).
    big = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform("
                "slice(split(text, ' '), 1,"
                "      greatest(size(split(text, ' ')) - 1, 0)),"
                "(x, i) -> concat(x, ' ',"
                "                 element_at(split(text, ' '), i + 2)))"
            )
        ).alias("g"),
    )
    first_seen = big.groupBy("g").agg(F.min("doc_id").alias("fd"))
    newc = first_seen.groupBy("fd").agg(
        F.count("*").cast("long").alias("nv")
    )
    per = d.select(
        "doc_id",
        F.greatest(
            F.size(F.split("text", " ")) - 1, F.lit(0)
        ).cast("long").alias("n_bi"),
    ).join(newc, d.doc_id == newc.fd, "left").select(
        "doc_id", "n_bi", F.coalesce("nv", F.lit(0)).alias("nv")
    )
    # r13: rank + both running sums share ONE range exchange (the
    # chained row_number/cumsum/cumsum form paid three, each with its
    # own load-bearing cache of the same doc-grain relation).
    s = two_phase_rank_cumsums(
        per,
        [("doc_id", True)],
        values=[("n_bi", "cum_tokens"), ("nv", "cum_vocab")],
        rn="rnk",
    )
    return (
        s.where(F.col("rnk") % 50 == 0)
        .select(
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.col("cum_vocab").cast("long").alias("cum_vocab"),
        )
        .orderBy("rnk")
    )
