"""Second batch of training-data-pipeline operators — selection,
ranking, funnel/cohort analytics, and the verify stage of the near-dup
pipeline. All oracle-exact vs DuckDB using the portability rules from
``llm_pipeline`` (md5 for hashes, integer quantization for vector math,
fixed-order IEEE double arithmetic, no transcendental functions).

New shapes covered:

- all-pairs embedding near-dup with exact quantized cosine (the verify
  counterpart of the LSH candidate path in ``operators.dedupe``)
- group top-k (best-quality docs per source) via ranking window
- deterministic hash-threshold stratified sampling (reproducible at any
  scale and cluster layout — no rand(), no seed coordination)
- log-free BM25-style scoring (rational saturation * rational idf keeps
  every op IEEE-exact across engines; log() would drift in the last ulp)
- ordered funnel conversion (view -> click -> purchase) via staged
  conditional MIN aggregations, re-shuffling on the same user_id key
- weekly cohort retention (first-seen week x activity week)
- MinHash-LSH candidates verified with exact Levenshtein similarity —
  candidates come from band buckets, so the quadratic edit-distance
  never runs on more than the bucket fan-out

Reference parity: none of these exist in WatsonDedupe (SURVEY.md §2.2);
they are the engine-side additions a 100 TB curation pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from watsondedupe_spark.queries import _REGISTRY, register
from watsondedupe_spark.queries.llm_pipeline import (
    _SHINGLES_SQL,
    _SIG_SQL,
    _docs,
    _emb,
    _quant_vec,
    minhash_sig_df,
)
from watsondedupe_spark.sources import read_table
from watsondedupe_spark.substrates import substrate


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# embeddings: exact near-dup pairs (verify counterpart of the LSH path)
# ---------------------------------------------------------------------------

_NEAR_DUP_COSINE = 0.40


def _near_dup_oracle() -> str:
    from watsondedupe_spark.queries.curation_ext import _icos_sql
    from watsondedupe_spark.queries.engine_native import _lsh_bucket_sql

    return f"""
WITH b AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v,
           {_lsh_bucket_sql('embedding', n_planes=4)} AS bucket
    FROM embeddings
)
SELECT vec_a, vec_b, cosine FROM (
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           {_icos_sql('x.v', 'y.v')} AS cosine
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
WHERE cosine >= {_NEAR_DUP_COSINE}
"""


@register(
    "emb_near_dup_pairs",
    _near_dup_oracle(),
    doc="embedding near-dup pairs, the 100 TB shape: sign-LSH bucket "
    "first, then ONE integer matmul per bucket group for the exact "
    "verify (operators.dedupe.embedding_near_dups_np) — the pair join "
    "shuffles on the bucket key, never all-pairs over the corpus, and "
    "the in-bucket cosine is quantized-integer exact (order-free, so "
    "BLAS, Spark folds, and the SQL oracle all agree bit-for-bit). "
    "The JVM-fold variant survives as operators.dedupe."
    "embedding_near_dups; the all-pairs verify as "
    "operators.similarity.cosine_pairs_np (both parity-pinned in tests).",
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import embedding_near_dups_np

    pairs = embedding_near_dups_np(
        _emb(spark, sf_dir), threshold=_NEAR_DUP_COSINE, n_planes=4, n_dims=64
    )
    return pairs.select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cosine"
    )


# ---------------------------------------------------------------------------
# documents: group top-k, stratified sampling, BM25-style ranking
# ---------------------------------------------------------------------------


@register(
    "docs_top_quality_per_source",
    """
SELECT source, doc_id, n_chars, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT source, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rnk
    FROM documents
)
WHERE rnk <= 3
""",
    doc="group top-k: best docs per source by length with a deterministic "
    "tiebreak — the per-stratum selection step of a curation pipeline "
    "(rank window partitions by source, so the shuffle key is the stratum)",
)
def docs_top_quality_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .select("source", "doc_id", "n_chars", F.col("rnk").cast("int").alias("rnk"))
    )


# per-source sampling rates: hex threshold on the first 8 md5 nibbles.
# 0x33333333/0x100000000 = 0.2; 0x0ccccccc/0x100000000 = 0.05.
_SAMPLE_HEAVY = ("src0", "src1", "src2", "src3", "src4")


@register(
    "docs_stratified_sample",
    f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN source IN {_SAMPLE_HEAVY} THEN '33333333' ELSE '0ccccccc' END
""",
    doc="deterministic stratified sampling: md5-threshold per stratum "
    "(20% for the head sources, 5% for the tail). Hash-gated sampling is "
    "reproducible across runs, engines, and partitionings — unlike "
    "rand()-based sampling, which can never be oracle-checked",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    gate = F.substring(
        F.md5(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))), 1, 8
    )
    threshold = F.when(F.col("source").isin(*_SAMPLE_HEAVY), "33333333").otherwise("0ccccccc")
    return (
        _docs(spark, sf_dir)
        .filter(gate < threshold)
        .select("doc_id", "source", "lang", "n_chars")
    )


_BM25_TERMS = ("table", "hash", "merge")
_BM25_K1 = "1.2"


def _bm25_term_sql(term: str) -> str:
    tf = f"CAST(t.tf_{term} AS DOUBLE)"
    df = f"CAST(s.df_{term} AS DOUBLE)"
    n = "CAST(s.n_docs AS DOUBLE)"
    return f"({tf} / ({tf} + {_BM25_K1})) * (({n} - {df} + 0.5) / ({df} + 0.5))"


@register(
    "docs_bm25_lite",
    f"""
WITH tf AS (
    SELECT doc_id,
{",".join(f'''
           CAST(len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS BIGINT) AS tf_{t}'''
          for t in _BM25_TERMS)}
    FROM documents
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
{",".join(f'''
           CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}'''
          for t in _BM25_TERMS)}
    FROM tf
)
SELECT t.doc_id, {", ".join(f"t.tf_{t}" for t in _BM25_TERMS)},
       {" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)} AS score
FROM tf t CROSS JOIN stats s
""",
    doc="BM25-style relevance without log(): rational term saturation "
    "tf/(tf+k1) times rational idf (N-df+.5)/(df+.5), summed in fixed "
    "order — every op is an IEEE double primitive, so scores are "
    "bit-identical across engines (log-idf would drift in the last ulp). "
    "Corpus stats collapse to a 1-row broadcast",
)
def docs_bm25_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")

    # closure factory: a default-arg lambda would take two params, which
    # F.filter binds as (value, index) — the index, not the term
    def tf_col(t: str):
        return F.size(F.filter(toks, lambda x: x == t)).cast("long").alias(f"tf_{t}")

    tf = _docs(spark, sf_dir).select("doc_id", *[tf_col(t) for t in _BM25_TERMS])
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).cast("long").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def term_score(t: str):
        tfd = F.col(f"tf_{t}").cast("double")
        dfd = F.col(f"df_{t}").cast("double")
        n = F.col("n_docs").cast("double")
        return (tfd / (tfd + F.lit(1.2))) * ((n - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))

    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    return tf.join(F.broadcast(stats)).select(
        "doc_id", *[f"tf_{t}" for t in _BM25_TERMS], score.alias("score")
    )


# ---------------------------------------------------------------------------
# events: funnel conversion + cohort retention
# ---------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    """
WITH v AS (
    SELECT user_id, MIN(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY e.user_id),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY e.user_id)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 WHEN v.user_id IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_stage
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN v ON v.user_id = u.user_id
LEFT JOIN c ON c.user_id = u.user_id
LEFT JOIN p ON p.user_id = u.user_id
""",
    doc="ordered funnel (view -> click -> purchase): staged conditional "
    "MIN aggregations, each stage strictly after the previous stage's "
    "first event. Every stage shuffles on the same user_id key, so "
    "co-partitioning is preserved end-to-end (no extra exchanges)",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    users = ev.select("user_id").distinct()
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", stage.alias("funnel_stage"))
    )


@register(
    "events_cohort_retention",
    """
WITH first_seen AS (
    SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id),
activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS activity_week
    FROM events)
SELECT f.cohort_week,
       CAST(CAST(date_diff('day', f.cohort_week, a.activity_week) AS DOUBLE) / 7
            AS INTEGER) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity a JOIN first_seen f ON f.user_id = a.user_id
GROUP BY 1, 2
""",
    doc="weekly cohort retention: first-seen week x activity-week-offset "
    "user counts (offsets are exact multiples of 7 days, so the /7 cast "
    "is lossless on both engines); activity is pre-deduped per "
    "(user, week) so the final count needs no DISTINCT",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("activity_week")
    ).distinct()
    offset = (
        (F.datediff("activity_week", "cohort_week").cast("double") / 7).cast("int")
    )
    return (
        activity.join(first_seen, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# near-dup verify: LSH candidates -> exact Levenshtein
# ---------------------------------------------------------------------------

_LEV_PREFIX = 200


@register(
    "docs_lsh_levenshtein",
    f"""
WITH {_SHINGLES_SQL.strip()},
{_SIG_SQL},
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(substr(da.text, 1, {_LEV_PREFIX}),
                        substr(db.text, 1, {_LEV_PREFIX})) AS BIGINT) AS lev_dist,
       1.0 - CAST(levenshtein(substr(da.text, 1, {_LEV_PREFIX}),
                              substr(db.text, 1, {_LEV_PREFIX})) AS DOUBLE)
           / CAST(greatest(length(substr(da.text, 1, {_LEV_PREFIX})),
                           length(substr(db.text, 1, {_LEV_PREFIX}))) AS DOUBLE) AS lev_sim
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
""",
    doc="the verify stage of near-dup detection: MinHash band buckets "
    "propose candidates, exact Levenshtein over a fixed prefix scores "
    f"them (prefix {_LEV_PREFIX} bounds the O(n^2) DP per pair). The "
    "quadratic never runs outside a bucket — candidates, not all-pairs, "
    "pay the edit distance",
)
def docs_lsh_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded single-join candidates (same shape as docs_minhash_pairs):
    # bands explode to (bk, bv) rows, ONE composite-key self-join whose
    # two sides collapse into a ReusedExchange — the signature
    # aggregation runs once, vs once per band-join in the union form
    sig = minhash_sig_df(spark, sf_dir)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("bk"), F.col("b1").alias("bv")),
                F.struct(F.lit(2).alias("bk"), F.col("b2").alias("bv")),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.bk").alias("bk"), F.col("b.bv").alias("bv"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    docs = _docs(spark, sf_dir).select("doc_id", F.substring("text", 1, _LEV_PREFIX).alias("prefix"))
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    dist = F.levenshtein("pa", "pb")
    sim = F.lit(1.0) - dist.cast("double") / F.greatest(
        F.length("pa"), F.length("pb")
    ).cast("double")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", dist.cast("long").alias("lev_dist"), sim.alias("lev_sim"))
    )


def _knn_np_oracle() -> str:
    # identical math to the emb_knn_cosine oracle: quantized-int dots
    # are order-free, so the BLAS matmul bit-matches this SQL
    from watsondedupe_spark.queries.llm_pipeline import _KNN_ORACLE_SQL

    return _KNN_ORACLE_SQL


@register(
    "emb_knn_cosine_np",
    _knn_np_oracle(),
    doc="brute-force cosine top-k via the Arrow/numpy matmul operator "
    "(cosine_topk_np, quantize=1000) — the dense-similarity scale path "
    "(one integer matmul per Arrow batch, local top-k before the "
    "window). Quantized-integer dots are accumulation-order-free, so "
    "the BLAS kernel now carries the SAME oracle as the JVM-fold form "
    "emb_knn_cosine; the float variant stays available on the operator.",
)
def emb_knn_cosine_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import cosine_topk_np

    emb = _emb(spark, sf_dir)
    want = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < want:
        emb = emb.repartition(want)
    q = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return cosine_topk_np(emb, q, k=10, quantize=1000)


# ---------------------------------------------------------------------------
# time-series: daily LOCF resample + exact-moment z-score outliers
# ---------------------------------------------------------------------------


@register(
    "events_daily_locf",
    """
WITH bounds AS (
    SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS lo,
           CAST(date_trunc('day', MAX(ts)) AS DATE) AS hi
    FROM events),
days AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
daily AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           MAX(value) AS day_value
    FROM events WHERE user_id < 20 GROUP BY 1, 2)
SELECT u.user_id, d.day, dv.day_value,
       last_value(dv.day_value IGNORE NULLS) OVER (
           PARTITION BY u.user_id ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM users u CROSS JOIN days d
LEFT JOIN daily dv ON dv.user_id = u.user_id AND dv.day = d.day
""",
    doc="daily resample with forward fill (LOCF): a generated day spine "
    "per user, observed daily maxima joined on, gaps filled by the last "
    "non-null value — the regularization step before any ML on irregular "
    "event streams. The spine is a broadcast cross join (|days| rows), "
    "the fill one window over (user, day)",
)
def events_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    all_ev = _events(spark, sf_dir)
    bounds = all_ev.agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("lo"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("hi"),
    )
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    users = ev.select("user_id").distinct()
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.max("value").alias("day_value"))
    )
    spine = users.crossJoin(F.broadcast(days))
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            "day_value",
            F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


@register(
    "events_user_zscore",
    """
WITH m AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) *
                         CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS s2
    FROM events GROUP BY user_id)
SELECT e.event_id, e.user_id,
       CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
       (CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - m.s1 / m.n)
         / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)) AS zscore
FROM events e
JOIN m ON m.user_id = e.user_id
WHERE m.n > 1
  AND abs((CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - m.s1 / m.n)
         / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1))) >= 3.0
""",
    doc="per-user z-score outliers via the engine-portable exact-moment "
    "recipe: decimal-exact sums (order-independent), then a fixed "
    "sequence of IEEE double ops (sub, div, sqrt) — bit-identical on "
    "both engines without relying on either engine's stddev",
)
def events_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    vdec = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(vdec).cast("double").alias("s1"),
        F.sum((vdec * vdec).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    val = vdec.cast("double")
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = (val - mean) / F.sqrt(var)
    return (
        ev.join(m, "user_id")
        .filter(F.col("n") > 1)
        .select("event_id", "user_id", val.alias("value"), z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) >= 3.0)
    )


# ---------------------------------------------------------------------------
# capstone: the full curation funnel with per-stage attrition
# ---------------------------------------------------------------------------


@register(
    "docs_curation_funnel",
    """
WITH RECURSIVE scored AS (
    SELECT doc_id, text, source,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
    FROM documents
),
quality AS (
    SELECT doc_id, text, source FROM scored
    WHERE n_tokens >= 10 AND punct_ratio <= 0.2 AND stop_ratio >= 0.05
),
exact AS (
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM quality GROUP BY md5(text)
),
ex AS (
    SELECT q.doc_id, q.text, q.source FROM quality q JOIN exact e ON e.doc_id = q.doc_id
),
tok2 AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM ex
    WHERE len(string_split(text, ' ')) >= 3
),
sh2 AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM tok2
),
sig2 AS (
    SELECT doc_id,
           md5(MIN(md5('s1:' || shingle)) || MIN(md5('s2:' || shingle)) || MIN(md5('s3:' || shingle))) AS b1,
           md5(MIN(md5('s4:' || shingle)) || MIN(md5('s5:' || shingle)) || MIN(md5('s6:' || shingle))) AS b2
    FROM sh2 GROUP BY doc_id
),
pairs2 AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig2 a JOIN sig2 b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
        UNION ALL
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig2 a JOIN sig2 b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    )
),
sym2 AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs2
    UNION SELECT doc_b AS u, doc_a AS v FROM pairs2
),
reach2(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM ex
    UNION
    SELECT CAST(s.u AS BIGINT), r.lbl FROM sym2 s JOIN reach2 r ON r.v = s.v
),
near_kept AS (
    SELECT v AS doc_id FROM (SELECT v, MIN(lbl) AS lbl FROM reach2 GROUP BY v)
    WHERE v = lbl
),
sampled AS (
    SELECT n.doc_id FROM near_kept n JOIN ex d ON d.doc_id = n.doc_id
    WHERE substr(md5(d.source || ':' || CAST(n.doc_id AS VARCHAR)), 1, 8) <
          CASE WHEN d.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
               THEN '33333333' ELSE '0ccccccc' END
)
SELECT 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 'quality', CAST(COUNT(*) AS BIGINT) FROM quality
UNION ALL SELECT 'exact_dedup', CAST(COUNT(*) AS BIGINT) FROM exact
UNION ALL SELECT 'near_dedup', CAST(COUNT(*) AS BIGINT) FROM near_kept
UNION ALL SELECT 'sampled', CAST(COUNT(*) AS BIGINT) FROM sampled
""",
    doc="the full curation funnel as one query: quality gates -> exact "
    "dedup (min-id per content hash) -> near-dedup (MinHash-LSH "
    "candidate graph, connected components, keep cluster-min) -> "
    "deterministic stratified sample; emits per-stage attrition counts. "
    "Spark runs the iterative CC operator, the oracle a recursive CTE — "
    "an end-to-end integration check over five chained operators",
)
def docs_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import connected_components
    from watsondedupe_spark.queries.llm_pipeline import _SEEDS, _STOPWORDS, _docs_parallel

    docs = _docs_parallel(spark, sf_dir)
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "text",
        "source",
        F.size(toks).alias("n_tokens"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))).cast(
                "double"
            )
            / F.length("text")
        ).alias("punct_ratio"),
        (
            F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double") / F.size(toks)
        ).alias("stop_ratio"),
    )
    # the five stage counts fan out from this chain — cache the shared
    # prefix so each count reuses it instead of re-scoring the corpus
    quality = scored.filter(
        (F.col("n_tokens") >= 10) & (F.col("punct_ratio") <= 0.2) & (F.col("stop_ratio") >= 0.05)
    ).select("doc_id", "text", "source").cache()
    exact_ids = quality.groupBy(F.md5("text")).agg(F.min("doc_id").cast("long").alias("doc_id"))
    ex = quality.join(exact_ids.select("doc_id"), "doc_id", "left_semi").cache()

    # minhash bands over the exact-dedup survivors (same seeds as the
    # query-surface signature so the oracle's band keys match)
    sh = ex.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(F.split("text", " ")) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.get(F.split("text", " "), i),
                    F.get(F.split("text", " "), i + 1),
                    F.get(F.split("text", " "), i + 2),
                ),
            )
        ).alias("shingle"),
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(seed), F.col("shingle")))).alias(f"m{j+1}")
        for j, seed in enumerate(_SEEDS)
    ]
    sig = (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.md5(F.concat("m1", "m2", "m3")).alias("b1"),
            F.md5(F.concat("m4", "m5", "m6")).alias("b2"),
        )
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("b1").alias("a1"), F.col("b2").alias("a2"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("b1").alias("bb1"), F.col("b2").alias("bb2"))
    lt = F.col("doc_a") < F.col("doc_b")
    pairs = (
        a.join(b, (F.col("a1") == F.col("bb1")) & lt)
        .select("doc_a", "doc_b")
        .union(a.join(b, (F.col("a2") == F.col("bb2")) & lt).select("doc_a", "doc_b"))
        .distinct()
    )
    cc = connected_components(
        pairs, ex.select("doc_id"), node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    near_kept = cc.filter(F.col("node") == F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    gate = F.substring(
        F.md5(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))), 1, 8
    )
    threshold = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), "33333333"
    ).otherwise("0ccccccc")
    sampled = near_kept.join(ex.select("doc_id", "source"), "doc_id").filter(gate < threshold)

    def stage(name, df):
        return df.agg(F.count("*").alias("n_docs")).select(
            F.lit(name).alias("stage"), F.col("n_docs")
        )

    return (
        stage("raw", docs)
        .unionAll(stage("quality", quality))
        .unionAll(stage("exact_dedup", exact_ids))
        .unionAll(stage("near_dedup", near_kept))
        .unionAll(stage("sampled", sampled))
    )


# ---------------------------------------------------------------------------
# time-series similarity search (cf. distributed data-series search papers)
# ---------------------------------------------------------------------------

_SERIES_QUERY_USER = 0
_SERIES_K = 10


@register(
    "events_series_knn",
    f"""
WITH bounds AS (
    SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS lo,
           CAST(date_trunc('day', MAX(ts)) AS DATE) AS hi
    FROM events),
days AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds),
users AS (SELECT DISTINCT user_id FROM events),
daily AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS total
    FROM events GROUP BY 1, 2),
grid AS (
    SELECT u.user_id, d.day,
           COALESCE(dv.total, CAST(0 AS DECIMAL(18,2))) AS total
    FROM users u CROSS JOIN days d
    LEFT JOIN daily dv ON dv.user_id = u.user_id AND dv.day = d.day),
q AS (SELECT day, total FROM grid WHERE user_id = {_SERIES_QUERY_USER}),
dist AS (
    SELECT g.user_id,
           SUM(CAST((g.total - q.total) * (g.total - q.total) AS DECIMAL(38,6))) AS d2
    FROM grid g JOIN q ON q.day = g.day
    WHERE g.user_id <> {_SERIES_QUERY_USER}
    GROUP BY g.user_id)
SELECT user_id, CAST(d2 AS DOUBLE) AS dist2,
       CAST(ROW_NUMBER() OVER (ORDER BY d2, user_id) AS INTEGER) AS rank
FROM dist
ORDER BY d2, user_id
LIMIT {_SERIES_K}
""",
    doc="time-series similarity search: each user's daily-total series "
    "(zero-filled over the corpus day spine) is a vector; exact top-k "
    "nearest users to one query series by squared euclidean distance. "
    "Spark holds each series as one array row and evaluates the distance "
    "row-locally (zip_with fold over a broadcast query vector — the "
    "series-as-vector layout distributed data-series systems use); the "
    "oracle keeps the relational day-grid join. Decimal-exact sums make "
    "the distance bit-stable across both formulations",
)
def events_series_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("lo"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("hi"),
    )
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("total"))
    # one array row per user: totals indexed by day offset, zero-filled —
    # map lookup over the day spine keeps assembly row-local after the
    # single groupBy(user) shuffle
    zero = F.lit(0).cast("decimal(18,2)")
    series = (
        daily.join(F.broadcast(bounds))
        .withColumn("off", F.datediff("day", "lo"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("off", "total"))).alias("m"),
            F.first(F.datediff("hi", "lo")).alias("n_days"),
        )
        .select(
            "user_id",
            F.transform(
                F.sequence(F.lit(0), F.col("n_days")),
                lambda d: F.coalesce(F.try_element_at("m", d), zero),
            ).alias("v"),
        )
    )
    q = series.filter(F.col("user_id") == _SERIES_QUERY_USER).select(
        F.col("v").alias("qv")
    )
    diff2 = F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b))
    d2 = F.aggregate(
        diff2,
        F.lit(0).cast("decimal(38,6)"),
        lambda acc, x: acc + x.cast("decimal(38,6)"),
    )
    dist = (
        series.filter(F.col("user_id") != _SERIES_QUERY_USER)
        .join(F.broadcast(q))
        .select("user_id", d2.alias("d2"))
    )
    # distributed TakeOrdered (per-partition top-k merged on the driver
    # side of the exchange), NOT a bare global rank window — the window
    # form serializes the whole per-user distance set through one task;
    # the rank window then runs over only the <=k survivors
    topk = dist.orderBy("d2", "user_id").limit(_SERIES_K)
    w = Window.orderBy("d2", "user_id")
    return topk.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "user_id", F.col("d2").cast("double").alias("dist2"), "rank"
    )


@register(
    "docs_dup_graph_stats",
    f"""
WITH {_SHINGLES_SQL.strip()},
{_SIG_SQL},
pairs AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
        UNION ALL
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    )
),
deg AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b AS v FROM pairs
    ) GROUP BY v
),
tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs p1
    JOIN pairs p2 ON p2.doc_a = p1.doc_b
    JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree,
       (SELECT n FROM tri) AS n_triangles
""",
    doc="graph analytics over the near-dup candidate graph: degree stats "
    "and exact triangle count. Triangles enumerate via two equi-joins on "
    "the canonically ordered edge list (a<b), so each triangle counts "
    "once and the join keys — not all-pairs — carry the shuffle; degree "
    "skew is the classic caveat and the stop-shingle-bounded candidate "
    "generation is what keeps max_degree small",
)
def docs_dup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_sig_df(spark, sf_dir)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("b1").alias("a1"), F.col("b2").alias("a2"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("b1").alias("bb1"), F.col("b2").alias("bb2"))
    lt = F.col("doc_a") < F.col("doc_b")
    pairs = (
        a.join(b, (F.col("a1") == F.col("bb1")) & lt)
        .select("doc_a", "doc_b")
        .union(a.join(b, (F.col("a2") == F.col("bb2")) & lt).select("doc_a", "doc_b"))
        .distinct()
        .cache()
    )
    deg = (
        pairs.select(F.col("doc_a").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    p1 = pairs.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    p2 = pairs.select(F.col("doc_a").alias("y"), F.col("doc_b").alias("z"))
    p3 = pairs.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("z"))
    tri = p1.join(p2, "y").join(p3, ["x", "z"]).agg(F.count("*").alias("n_triangles"))
    summary = deg.agg(
        F.count("*").alias("n_nodes"), F.max("d").alias("max_degree")
    ).join(F.broadcast(pairs.agg(F.count("*").alias("n_edges")))).join(F.broadcast(tri))
    return summary.select("n_nodes", "n_edges", "max_degree", "n_triangles")


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction + single-pass observed funnel
# ---------------------------------------------------------------------------

_TFIDF_K = 3


@register(
    "docs_tfidf_topk",
    f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term, t.tf,
           (CAST(t.tf AS DOUBLE) * n.n_docs) / CAST(d.df AS DOUBLE) AS score
    FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tf, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term ASC) AS rnk
    FROM scored
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, score
FROM ranked WHERE rnk <= {_TFIDF_K}
""",
    doc="per-document TF-IDF keyword extraction (top-3 terms): tf from "
    "one (doc_id, term) partial-aggregated groupBy, df derived from the "
    "SAME tf table (no second corpus pass), corpus size a 1-row "
    "broadcast. Log-free idf variant tf*N/df — integer products are "
    "exactly representable and one IEEE division is bit-identical "
    "across engines, so scores hash-match the oracle (log() would "
    "drift in the last ulp). Ties broken by term asc, so the ranking "
    "is a deterministic total order. Shuffles: term (df join), doc_id "
    "(top-k window) — at 100 TB the vocab side is Zipf-skewed but "
    "bounded (it is post-aggregation, one row per distinct term), and "
    "AQE handles the residual skew in the term join",
)
def docs_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    score = (
        (F.col("tf").cast("double") * F.col("n_docs")) / F.col("df").cast("double")
    ).alias("score")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", "tf", score)
        .select("doc_id", F.row_number().over(w).alias("rnk"), "term", "tf", "score")
        .filter(F.col("rnk") <= _TFIDF_K)
    )


_FUNNEL_STAGES = (
    (0, "ingested"),
    (1, "min_length"),
    (2, "lang_en"),
    (3, "token_floor"),
)


def observed_funnel_cascade(docs: DataFrame):
    """Build the instrumented cascade: returns ``(staged_df, observations)``
    with one CollectMetrics node between every pair of filters. Split out
    so tests can pin the plan (one CollectMetrics per stage, no extra
    exchanges) without running the action."""
    from pyspark.sql import Observation

    obs = [Observation(f"funnel_s{i}") for i, _ in _FUNNEL_STAGES]
    staged = docs.observe(obs[0], F.count(F.lit(1)).alias("n"))
    staged = staged.filter(F.col("n_chars") >= 150).observe(
        obs[1], F.count(F.lit(1)).alias("n")
    )
    staged = staged.filter(F.col("lang") == "en").observe(
        obs[2], F.count(F.lit(1)).alias("n")
    )
    staged = staged.filter(F.size(F.split("text", " ")) >= 40).observe(
        obs[3], F.count(F.lit(1)).alias("n")
    )
    return staged, obs


@register(
    "docs_observed_funnel",
    """
SELECT CAST(0 AS INTEGER) AS stage, 'ingested' AS name,
       CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL
SELECT CAST(1 AS INTEGER), 'min_length', CAST(COUNT(*) AS BIGINT)
FROM documents WHERE n_chars >= 150
UNION ALL
SELECT CAST(2 AS INTEGER), 'lang_en', CAST(COUNT(*) AS BIGINT)
FROM documents WHERE n_chars >= 150 AND lang = 'en'
UNION ALL
SELECT CAST(3 AS INTEGER), 'token_floor', CAST(COUNT(*) AS BIGINT)
FROM documents
WHERE n_chars >= 150 AND lang = 'en' AND len(string_split(text, ' ')) >= 40
""",
    doc="single-pass filter-cascade instrumentation via df.observe / "
    "CollectMetrics: one Observation per stage is attached BETWEEN the "
    "cascade's filters, so one action over the corpus yields every "
    "stage's surviving-row count as plan-side metrics — no per-stage "
    "count() jobs, no second scan, and (unlike accumulators) exactly-"
    "once semantics under task retries. This is the production pattern "
    "for funnel/DQ counters on a 100 TB curation run: the counters ride "
    "the pipeline's own pass. The returned 4-row table is built from "
    "the observed metrics",
)
def docs_observed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged, obs = observed_funnel_cascade(_docs(spark, sf_dir))
    # ONE action evaluates the whole cascade; every CollectMetrics node
    # reports its stage count from that single pass.
    staged.write.format("noop").mode("overwrite").save()
    rows = [(i, name, int(obs[i].get["n"])) for i, name in _FUNNEL_STAGES]
    return spark.createDataFrame(rows, "stage int, name string, n_docs long")


# ---------------------------------------------------------------------------
# corpus-level MinHash source-overlap estimation + centroid similarity
# ---------------------------------------------------------------------------

_SRC_MH_K = 24


def _src_overlap_oracle() -> str:
    mins = ",\n".join(
        f"           MIN(md5('o{j}:' || shingle)) AS m{j}" for j in range(_SRC_MH_K)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)" for j in range(_SRC_MH_K)
    )
    return f"""
WITH {_SHINGLES_SQL.strip()},
src AS (
    SELECT DISTINCT d.source, s.shingle
    FROM sh s JOIN documents d ON d.doc_id = s.doc_id
),
sig AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS sz,
{mins}
    FROM src GROUP BY source
),
inter AS (
    SELECT x.source AS source_a, y.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared
    FROM src x JOIN src y ON x.shingle = y.shingle AND x.source < y.source
    GROUP BY x.source, y.source
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.sz AS sz_a, b.sz AS sz_b,
           CAST({matches} AS DOUBLE) / {_SRC_MH_K}.0 AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
)
SELECT p.source_a, p.source_b, p.sz_a, p.sz_b,
       COALESCE(i.shared, 0) AS shared, p.est_jaccard,
       CAST(COALESCE(i.shared, 0) AS DOUBLE)
           / (p.sz_a + p.sz_b - COALESCE(i.shared, 0)) AS exact_jaccard,
       ABS(p.est_jaccard
           - CAST(COALESCE(i.shared, 0) AS DOUBLE)
             / (p.sz_a + p.sz_b - COALESCE(i.shared, 0))) AS abs_err
FROM pairs p LEFT JOIN inter i
  ON i.source_a = p.source_a AND i.source_b = p.source_b
"""


@register(
    "docs_source_overlap_minhash",
    _src_overlap_oracle(),
    doc="corpus-level source-pair overlap via minwise estimation: each "
    "source's distinct 3-gram shingle set is summarized to K=24 minhash "
    "values (MIN of md5(seed||shingle), the portable permutation "
    "surrogate already proven by docs_minhash_pairs) in ONE "
    "partial-aggregated pass, and est_jaccard(A,B) = matching-min "
    "fraction over the tiny sources^2 pair table. The exact arm "
    "(shingle-keyed intersection join -> exact_jaccard, abs_err) is the "
    "estimator's own accuracy audit, graded alongside it. Scale shape: "
    "both arms aggregate to (sources x vocabulary) cardinality before "
    "any join — the corpus is never pairwise-joined at doc granularity, "
    "and per-shingle posting lists are bounded by the source count, so "
    "the plan survives 100 TB where a doc-level exact comparison would "
    "not. This is the cheap inter-source duplication screen run BEFORE "
    "committing to a full cross-source dedup pass",
)
def docs_source_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import shingles_df

    # the (source, shingle) distinct set feeds BOTH arms (minhash sig
    # agg + exact intersection join); cache it so the corpus-side work
    # runs once — the standing substrate pattern (minhash_sig_df etc.)
    src = substrate(
        spark,
        sf_dir,
        "source_shingles",
        lambda: shingles_df(spark, sf_dir)
        .join(F.broadcast(_docs(spark, sf_dir).select("doc_id", "source")), "doc_id")
        .select("source", "shingle")
        .distinct()
        .cache(),
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(f"o{j}:"), F.col("shingle")))).alias(f"m{j}")
        for j in range(_SRC_MH_K)
    ]
    sig = src.groupBy("source").agg(F.count("*").cast("long").alias("sz"), *mins)
    a, b = sig.alias("a"), sig.alias("b")
    matches = sum(
        F.when(F.col(f"a.m{j}") == F.col(f"b.m{j}"), 1).otherwise(0)
        for j in range(_SRC_MH_K)
    )
    pairs = a.join(F.broadcast(b), F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.sz").alias("sz_a"),
        F.col("b.sz").alias("sz_b"),
        (matches.cast("double") / F.lit(float(_SRC_MH_K))).alias("est_jaccard"),
    )
    x, y = src.alias("x"), src.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"), F.col("y.source").alias("source_b")
        )
        .agg(F.count("*").cast("long").alias("shared_raw"))
    )
    shared = F.coalesce("shared_raw", F.lit(0)).cast("long")
    exact = shared.cast("double") / (F.col("sz_a") + F.col("sz_b") - shared)
    return pairs.join(inter, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "sz_a",
        "sz_b",
        shared.alias("shared"),
        "est_jaccard",
        exact.alias("exact_jaccard"),
        F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
    )


_EMB_DIM = 64


def _centroid_sim_oracle() -> str:
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i),
ce AS (
    SELECT e.label, d.i,
           CAST(floor(CAST(list_extract(e.embedding, CAST(d.i AS INTEGER)) AS DOUBLE)
                      * 1000 + 0.5) AS BIGINT) AS v
    FROM embeddings e CROSS JOIN dims d
),
sums AS (SELECT label, i, SUM(v) AS s FROM ce GROUP BY label, i),
cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
norms AS (SELECT label, SUM(s * s) AS nrm FROM sums GROUP BY label),
dots AS (
    SELECT x.label AS label_a, y.label AS label_b, SUM(x.s * y.s) AS dot
    FROM sums x JOIN sums y ON x.i = y.i AND x.label < y.label
    GROUP BY x.label, y.label
)
SELECT d.label_a, d.label_b, ca.n AS n_a, cb.n AS n_b,
       CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE))
                             / sqrt(CAST(nb.nrm AS DOUBLE)) AS cos_centroid
FROM dots d
JOIN cnt ca ON ca.label = d.label_a
JOIN cnt cb ON cb.label = d.label_b
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
"""


@register(
    "emb_label_centroid_sim",
    _centroid_sim_oracle(),
    doc="cluster-centroid cosine matrix (SemDeDup's companion audit: "
    "which clusters are near-duplicates OF EACH OTHER and should merge "
    "before per-cluster dedup; also the shard-drift screen between "
    "corpus partitions). One partial-aggregated pass sums the "
    "floor(x*1000+0.5)-quantized embedding per (label, dim) — the "
    "count cancels in cosine, so centroids are never divided and every "
    "sum/dot/norm stays an exact BIGINT; the final "
    "dot/sqrt(na)/sqrt(nb) is the same fixed-order IEEE chain the "
    "emb_knn_cosine oracle proves bit-identical across engines. The "
    "pair table is labels^2 (tiny, broadcast); the corpus contributes "
    "exactly one scan with map-side combine — at 100 TB this is the "
    "same plan with more partitions",
)
def emb_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one corpus pass: the labels-row sig table is cached so the a/b
    # sides of the pair join don't each re-aggregate the embeddings
    def build() -> DataFrame:
        sums = [
            F.sum(F.element_at("qv", d + 1)).alias(f"s{d}") for d in range(_EMB_DIM)
        ]
        sig = (
            _emb(spark, sf_dir)
            .select("label", _quant_vec().alias("qv"))
            .groupBy("label")
            .agg(F.count("*").cast("long").alias("n"), *sums)
        )
        nrm = sum(F.col(f"s{d}") * F.col(f"s{d}") for d in range(_EMB_DIM))
        return sig.select(
            "label", "n", nrm.alias("nrm"), *[f"s{d}" for d in range(_EMB_DIM)]
        ).cache()

    sig = substrate(spark, sf_dir, "label_centroid_sig", build)
    a, b = sig.alias("a"), sig.alias("b")
    dot = sum(F.col(f"a.s{d}") * F.col(f"b.s{d}") for d in range(_EMB_DIM))
    cos = (
        dot.cast("double")
        / F.sqrt(F.col("a.nrm").cast("double"))
        / F.sqrt(F.col("b.nrm").cast("double"))
    ).alias("cos_centroid")
    return a.join(F.broadcast(b), F.col("a.label") < F.col("b.label")).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        cos,
    )


# ---------------------------------------------------------------------------
# matryoshka truncation recall: how many embedding dims does ANN need?
# ---------------------------------------------------------------------------

_MATRYOSHKA_DIMS = (16, 32)


def _matryoshka_oracle() -> str:
    from watsondedupe_spark.queries.llm_pipeline import _KNN_ORACLE_SQL

    arms = ",\n".join(
        f"t{d} AS (SELECT {d} AS dims, query_id, neighbor_id, 1 AS hit FROM ("
        + _KNN_ORACLE_SQL.replace("generate_series(1, 64)", f"generate_series(1, {d})")
        + f") s{d})"
        for d in _MATRYOSHKA_DIMS
    )
    union = " UNION ALL ".join(f"SELECT * FROM t{d}" for d in _MATRYOSHKA_DIMS)
    dimvals = " UNION ALL ".join(f"SELECT {d} AS dims" for d in _MATRYOSHKA_DIMS)
    return f"""
WITH exact_q AS (SELECT query_id, neighbor_id FROM ({_KNN_ORACLE_SQL}) x),
{arms},
approx AS ({union}),
dimtab AS ({dimvals})
SELECT dm.dims, e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.hit) AS BIGINT) AS n_hits,
       CAST(COUNT(a.hit) AS DOUBLE) / COUNT(*) AS recall
FROM dimtab dm CROSS JOIN exact_q e
LEFT JOIN approx a
  ON a.dims = dm.dims AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY dm.dims, e.query_id
"""


def _knn_topk_trunc(spark: SparkSession, sf_dir: str, d: int) -> DataFrame:
    """Exact brute-force cosine top-10 over only the FIRST ``d`` embedding
    dims — the emb_knn_cosine plan (row-local zip_with dot products,
    broadcast query vectors, salted two-phase top-k) applied to a
    ``slice()`` of the quantized vector."""
    from watsondedupe_spark.queries.llm_pipeline import _KNN_QUERIES

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.slice(_quant_vec(), 1, d).alias("v")
    )
    nrm = F.aggregate(
        F.zip_with("v", "v", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = emb.select("vec_id", "v", nrm.alias("nrm"))
    q = cand.filter(F.col("vec_id").isin(*_KNN_QUERIES)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            (
                dot.cast("double")
                / F.sqrt(F.col("qnrm").cast("double"))
                / F.sqrt(F.col("nrm").cast("double"))
            ).alias("cosine"),
        )
    )
    w_part = Window.partitionBy("qid", "salt").orderBy(F.desc("cosine"), "cid")
    w_full = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return (
        sims.withColumn("salt", F.pmod(F.col("cid"), F.lit(32)))
        .withColumn("prank", F.row_number().over(w_part))
        .filter(F.col("prank") <= 10)
        .withColumn("rank", F.row_number().over(w_full).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"))
    )


@register(
    "emb_matryoshka_recall",
    _matryoshka_oracle(),
    doc="matryoshka truncation audit: recall@10 of exact cosine top-k "
    "computed over only the FIRST 16 / 32 embedding dims vs the full "
    "64-dim exact top-k, per (dims, query). This is the number that "
    "decides how much of each embedding a 100 TB deployment must "
    "store, ship, and dot-product — truncation is the cheapest ANN "
    "speedup there is (a slice(), no index rebuild) IF recall holds. "
    "Each truncated arm is the emb_knn_cosine plan over slice(v,1,d) "
    "(quantized-integer dot/norms, broadcast query rows, salted "
    "two-phase top-k); the audit join is bounded by queries x k rows. "
    "Oracle composes the graded _KNN_ORACLE_SQL at three dim widths, "
    "so the graded contract covers the COMPARISON across widths",
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import emb_knn_cosine

    exact = emb_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    arms = [
        _knn_topk_trunc(spark, sf_dir, d).select(
            F.lit(d).alias("dims"), "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        for d in _MATRYOSHKA_DIMS
    ]
    approx = arms[0]
    for a in arms[1:]:
        approx = approx.unionByName(a)
    dimtab = spark.createDataFrame([(d,) for d in _MATRYOSHKA_DIMS], "dims int")
    return (
        exact.crossJoin(F.broadcast(dimtab))
        .join(approx, ["dims", "query_id", "neighbor_id"], "left")
        .groupBy("dims", "query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit").cast("double") / F.count("*")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# IVF list-balance audit: the skew diagnostic behind every ANN latency SLO
# ---------------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    from watsondedupe_spark.queries.engine_native import (
        _IVF_CENT_KEY,
        _QUANT_VEC_SQL,
        _iq_cos_sql,
    )

    return f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, {_QUANT_VEC_SQL.format(v='embedding')} AS qcv
    FROM embeddings
    ORDER BY {_IVF_CENT_KEY}, vec_id LIMIT 16
),
base AS (
    SELECT vec_id, {_QUANT_VEC_SQL.format(v='embedding')} AS qv FROM embeddings
),
scored AS (
    SELECT e.vec_id, c.centroid_id, {_iq_cos_sql('e.qv', 'c.qcv')} AS csim
    FROM base e CROSS JOIN cents c
),
assign1 AS (
    SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM scored)
    WHERE rn = 1
),
cell AS (
    SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM assign1 GROUP BY centroid_id
),
tot AS (
    SELECT SUM(n_vecs) AS total, CAST(COUNT(*) AS BIGINT) AS n_cells FROM cell
)
SELECT c.centroid_id, c.n_vecs,
       CAST(c.n_vecs AS DOUBLE) / total AS share,
       CAST(c.n_vecs * n_cells AS DOUBLE) / total AS skew
FROM cell c CROSS JOIN tot
"""


@register(
    "emb_ivf_balance_audit",
    _ivf_balance_oracle(),
    doc="IVF inverted-list balance audit: rows per coarse cell plus each "
    "cell's share and skew (n * n_cells / total — 1.0 is perfectly "
    "balanced). THE pre-deployment diagnostic for a partitioned ANN "
    "index: a hot cell is simultaneously a probe-latency outlier, a "
    "straggler task, and (under n_probe routing) an accuracy sink, and "
    "the fix chosen (re-cluster, split the cell, salt its list) is "
    "decided from exactly this table. Assignment is the one-Arrow-pass "
    "integer-matmul kernel (ivf_assign_np — no corpus x centroids "
    "fan-out, no window, no shuffle); the audit itself is one "
    "16-row aggregate joined to a 1-row total by broadcast. The same "
    "plan at 100 TB is the same scan with more partitions. Cites "
    "ivf_centroids' md5-keyed deterministic sample, so the oracle "
    "derives the identical cells",
)
def emb_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ivf_assign_np, ivf_centroids

    emb = _emb(spark, sf_dir)
    cents = ivf_centroids(emb, n_centroids=16)
    per_cell = (
        ivf_assign_np(emb, cents, n_probe=1)
        .groupBy("centroid_id")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )
    tot = per_cell.agg(
        F.sum("n_vecs").alias("total"), F.count("*").cast("long").alias("n_cells")
    )
    return per_cell.crossJoin(F.broadcast(tot)).select(
        "centroid_id",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("total")).alias("share"),
        ((F.col("n_vecs") * F.col("n_cells")).cast("double") / F.col("total")).alias(
            "skew"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding anisotropy: one power-iteration step toward the top PC
# ---------------------------------------------------------------------------


def _top_pc_oracle() -> str:
    from watsondedupe_spark.queries.engine_native import _QUANT_VEC_SQL

    return f"""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
q AS (
    SELECT vec_id, {_QUANT_VEC_SQL.format(v='embedding')} AS qv FROM embeddings
),
ce AS (
    SELECT vec_id, CAST(d.i AS BIGINT) AS i,
           list_extract(qv, CAST(d.i AS INTEGER)) AS v
    FROM q CROSS JOIN dims d
),
dv AS (
    SELECT vec_id, SUM(CASE WHEN i % 2 = 1 THEN v ELSE -v END) AS d
    FROM ce GROUP BY vec_id
),
comp AS (
    SELECT c.i AS dim, CAST(SUM(c.v * dv.d) AS BIGINT) AS component
    FROM ce c JOIN dv ON dv.vec_id = c.vec_id
    GROUP BY c.i
),
mx AS (SELECT MAX(abs(component)) AS maxabs FROM comp)
SELECT dim, component, CAST(component AS DOUBLE) / maxabs AS share
FROM comp CROSS JOIN mx
"""


@register(
    "emb_top_pc_power",
    _top_pc_oracle(),
    doc="embedding anisotropy probe: one exact power-iteration step "
    "v1 = (X^T X) v0 toward the top principal component, from the fixed "
    "alternating-sign start vector v0[i] = (-1)^(i+1). A dominant "
    "direction in v1 is the classic symptom of anisotropic (rank-"
    "collapsed) embeddings, the drift diagnostic run before trusting "
    "cosine similarity on a new encoder drop. Computed without ever "
    "materializing the covariance matrix: per row the scalar d = q.v0 "
    "(row-local), then sum of q*d per dimension — posexplode + partial "
    "aggregation means each of the corpus partitions ships exactly 64 "
    "rows into the final 64-key shuffle, so the plan at 100 TB is one "
    "scan + a constant-width merge. Quantized-integer arithmetic keeps "
    "every sum order-free and the final IEEE divisions bit-identical "
    "across engines",
)
def emb_top_pc_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _quant_vec

    qv = _emb(spark, sf_dir).select("vec_id", _quant_vec().alias("qv"))
    # d = q . v0 with v0 = +1 at odd 1-based dims (even 0-based pos), -1 else
    signed = F.transform(
        "qv", lambda x, pos: F.when(pos % 2 == 0, x).otherwise(-x)
    )
    withd = qv.select(
        "qv",
        F.aggregate(
            signed, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("d"),
    )
    comp = (
        withd.select(F.posexplode("qv").alias("pos", "v"), "d")
        .groupBy("pos")
        .agg(F.sum(F.col("v") * F.col("d")).cast("long").alias("component"))
    )
    mx = comp.agg(F.max(F.abs("component")).alias("maxabs"))
    return comp.crossJoin(F.broadcast(mx)).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        "component",
        (F.col("component").cast("double") / F.col("maxabs")).alias("share"),
    )


# ---------------------------------------------------------------------------
# Streaming ops: watermark-delay tuning from the out-of-orderness profile
# ---------------------------------------------------------------------------

#: FIXED number of arrival-order blocks for the two-phase prefix max.
#: Round-8 revision: the previous fixed block SIZE (10k arrivals) made
#: the block COUNT grow with the corpus — so the block-prefix table was
#: an unbounded SinglePartition window plus an unbounded broadcast (the
#: funnel audit's first catch). A fixed block COUNT bounds both at 4096
#: rows forever; block membership stays monotone in event_id, so the
#: greatest(run_in, prev_max) prefix semantics are unchanged.
_LATE_BLOCKS = 4096

def _late_block_bound(spark: SparkSession, sf_dir: str) -> int:
    """max(event_id)+1 of ``sf_dir`` — one column-pruned 1-row
    aggregate, collected once per session (the same pattern as the
    mutual-kNN plane-rule corpus count). Any true upper bound keeps the
    block mapping monotone and < _LATE_BLOCKS; embedding it as a literal
    avoids a per-run crossJoin/broadcast stage for a static corpus."""

    def build() -> int:
        m = _events(spark, sf_dir).agg((F.max("event_id") + 1).alias("m")).collect()[0]["m"]
        # empty table -> None; any positive bound is correct (the least()
        # clamp in the block expression keeps block monotone regardless)
        return max(int(m or 1), 1)

    return substrate(spark, sf_dir, "late_block_bound", build)


@register(
    "events_watermark_lateness",
    f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
wm AS (
    SELECT us,
           MAX(us) OVER (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w
    FROM e
),
hist AS (
    SELECT (w - us) // 60000000 AS late_min,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(w - us) AS BIGINT) AS max_late_us
    FROM wm GROUP BY 1
),
tot AS (SELECT SUM(n_events) AS total FROM hist)
SELECT late_min, n_events, max_late_us,
       CAST(n_events AS DOUBLE) / total AS share
FROM hist CROSS JOIN tot
""",
    doc="out-of-orderness profile: per event, lateness vs the running "
    "maximum event-time over arrival order (event_id), bucketed into "
    "minutes — THE table a streaming pipeline reads to choose its "
    "withWatermark delay (pick the bucket covering the tail you are "
    "willing to drop). The global running max is computed scalably as a "
    f"two-phase prefix scan over a FIXED count of arrival-order blocks "
    f"({_LATE_BLOCKS}): a per-block window, a block-level prefix max "
    f"bounded at {_LATE_BLOCKS} rows forever (SinglePartition window + "
    "broadcast both provably bounded — the round-8 funnel-audit fix; a "
    "fixed block SIZE made the block count grow with the corpus), and "
    "greatest() of the two — no single-partition window over the corpus. "
    "Oracle: DuckDB's straightforward single-window formulation, which "
    "the two-phase plan must match row-for-row",
)
def events_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _late_block_bound(spark, sf_dir)
    # block = least(floor(event_id * B / (max+1)), B-1), wrapped in
    # pmod(, B). Both wrappers are identities on the real domain (the
    # floor is always < B when m is the true bound): the pmod makes the
    # bound visible to the single-partition/broadcast audits, and the
    # LEAST keeps the id->block mapping MONOTONE even if m is stale
    # (ids >= m clamp into the last block instead of pmod-wrapping into
    # early blocks and corrupting the prefix max — the round-8 review
    # catch; sf_dir contents are immutable here, but a wrong bound must
    # degrade to correct-and-skewed, never to silently wrong)
    e = _events(spark, sf_dir).select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.pmod(
            F.least(
                F.floor(F.col("event_id") * _LATE_BLOCKS / F.lit(m)),
                F.lit(_LATE_BLOCKS - 1),
            ),
            _LATE_BLOCKS,
        ).cast("long").alias("block"),
    )
    w_in = (
        Window.partitionBy("block")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    blocks = e.groupBy("block").agg(F.max("us").alias("bmax"))
    w_blk = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    prefix = blocks.select("block", F.max("bmax").over(w_blk).alias("prev_max"))
    wm = (
        e.withColumn("run_in", F.max("us").over(w_in))
        .join(F.broadcast(prefix), "block")
        .select(
            "us",
            F.greatest(
                F.col("run_in"), F.coalesce(F.col("prev_max"), F.col("run_in"))
            ).alias("w"),
        )
    )
    hist = (
        wm.select(((F.col("w") - F.col("us")) / F.lit(60_000_000)).cast("long").alias("late_min"),
                  (F.col("w") - F.col("us")).alias("late_us"))
        .groupBy("late_min")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("late_us").cast("long").alias("max_late_us"),
        )
    )
    tot = hist.agg(F.sum("n_events").alias("total"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "late_min",
        "n_events",
        "max_late_us",
        (F.col("n_events").cast("double") / F.col("total")).alias("share"),
    )


# ---------------------------------------------------------------------------
# Curation insight: does duplication correlate with document length?
# ---------------------------------------------------------------------------


def _dup_corr_oracle() -> str:
    cluster_sql = _REGISTRY["docs_dup_clusters"].oracle
    return f"""
WITH cc AS (SELECT doc_id, cluster_id FROM ({cluster_sql}) c0),
sz AS (
    SELECT doc_id, CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM cc
),
xy AS (
    SELECT s.cluster_size AS x,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS y
    FROM sz s JOIN documents d ON d.doc_id = s.doc_id
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM xy
)
SELECT CAST(n AS BIGINT) AS n_docs,
       sx / n AS mean_cluster_size,
       sy / n AS mean_tokens,
       (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         AS corr_dup_tokens
FROM m
"""


@register(
    "docs_quality_dup_corr",
    _dup_corr_oracle(),
    doc="curation insight: Pearson correlation between a document's "
    "near-dup cluster size (from the MinHash-LSH connected components) "
    "and its whitespace token count — the one-number answer to 'are our "
    "duplicates systematically shorter/longer than unique content?', "
    "which decides whether dedup shifts the corpus length distribution "
    "enough to re-tune sequence packing. Moments are exact BIGINT sums "
    "(order-free) cast to double once, then the closed-form corr "
    "evaluated with the identical IEEE expression tree in both engines "
    "(the stats_corr_qty_price recipe). Plan: the CC output joined to a "
    "2-column projection of documents, collapsed by partial aggregation "
    "to a single 6-moment row — the corpus text is never shuffled",
)
def docs_quality_dup_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import docs_dup_clusters

    cc = docs_dup_clusters(spark, sf_dir)
    sz = cc.select(
        "doc_id",
        F.count("*").over(Window.partitionBy("cluster_id")).cast("long").alias("x"),
    )
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("y")
    )
    m = (
        sz.join(toks, "doc_id")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        n.cast("long").alias("n_docs"),
        (sx / n).alias("mean_cluster_size"),
        (sy / n).alias("mean_tokens"),
        (
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("corr_dup_tokens"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss signed projection + recall audit
# ---------------------------------------------------------------------------

_JL_DIMS = 16


def _jl_signs() -> list[list[int]]:
    """The deterministic +-1 projection matrix, keyed by md5(i || '_' || j)
    over 1-based (input dim i, output dim j) — byte-identical to the SQL
    derivation in the oracle (same md5, same 60-bit prefix parity)."""
    import hashlib

    def sgn(i: int, j: int) -> int:
        h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:15]
        return 1 if int(h, 16) % 2 == 0 else -1

    return [[sgn(i, j) for i in range(1, 65)] for j in range(1, _JL_DIMS + 1)]


def _jl_recall_oracle() -> str:
    from watsondedupe_spark.queries.engine_native import _QUANT_VEC_SQL, _iq_cos_sql

    exact_sql = _REGISTRY["emb_knn_cosine"].oracle
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
pd AS (SELECT unnest(generate_series(1, {_JL_DIMS})) AS j),
s AS (
    SELECT i, j,
           CASE WHEN (('0x' || substr(md5(i || '_' || j), 1, 15))::BIGINT % 2) = 0
                THEN 1 ELSE -1 END AS sgn
    FROM dims CROSS JOIN pd
),
q AS (SELECT vec_id, {_QUANT_VEC_SQL.format(v='embedding')} AS qv FROM embeddings),
ce AS (
    SELECT vec_id, d.i AS i, list_extract(qv, CAST(d.i AS INTEGER)) AS v
    FROM q CROSS JOIN dims d
),
proj AS (
    SELECT c.vec_id, s.j, SUM(c.v * s.sgn) AS y
    FROM ce c JOIN s ON s.i = c.i
    GROUP BY c.vec_id, s.j
),
pv AS (SELECT vec_id, list(y ORDER BY j) AS yv FROM proj GROUP BY vec_id),
sims AS (
    SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_iq_cos_sql('p.yv', 'b.yv')} AS cosine
    FROM pv p CROSS JOIN pv b
    WHERE p.vec_id < 3 AND b.vec_id != p.vec_id
),
approx AS (
    SELECT query_id, neighbor_id, 1 AS hit
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM sims)
    WHERE rnk <= 10
)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.hit) AS BIGINT) AS n_hits,
       CAST(COUNT(a.hit) AS DOUBLE) / COUNT(*) AS recall
FROM (SELECT query_id, neighbor_id FROM ({exact_sql}) x) e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


@register(
    "emb_jl_recall",
    _jl_recall_oracle(),
    doc="Johnson-Lindenstrauss sketch audit: recall@10 of cosine kNN in "
    "a 16-dim signed-random-projection space (y = S q, S an md5-keyed "
    "+-1 matrix — the database-friendly JL construction; Achlioptas "
    "2003) against the exact 64-dim top-k. The JL sketch is the "
    "standing alternative to matryoshka truncation when the encoder "
    "was NOT trained nested: 4x fewer bytes per vector with distance "
    "distortion bounded w.h.p., and this row measures the realized "
    "recall cost on OUR corpus before a deployment swaps the sketch "
    "into its candidate-generation tier. Projection is row-local "
    "integer arithmetic (16 exact dot products per vector, no shuffle); "
    "the kNN arm broadcasts the 3-query sample; the comparison joins "
    "<= 30-row sets. All sums are order-free integers, so the sketch, "
    "the ranking, and the recall are bit-identical across engines",
)
def emb_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _quant_vec, emb_knn_cosine

    signs = _jl_signs()
    qv = _emb(spark, sf_dir).select("vec_id", _quant_vec().alias("qv"))
    proj_cols = [
        F.aggregate(
            F.zip_with(
                "qv",
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"y{j}")
        for j in range(_JL_DIMS)
    ]
    pv = qv.select("vec_id", F.array(*[c for c in proj_cols]).alias("yv"))
    queries = pv.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("yv").alias("qy")
    )
    dot = F.aggregate(
        F.zip_with("yv", "qy", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    sims = (
        pv.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot.cast("double") / F.sqrt(nrm("yv").cast("double")) / F.sqrt(nrm("qy").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    approx = (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    exact = emb_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit").cast("double") / F.count("*")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage: OOV rate per source against the corpus top-V vocab
# ---------------------------------------------------------------------------

_OOV_VOCAB = 24


@register(
    "docs_oov_rate",
    f"""
WITH toks AS (
    SELECT d.source, t.tok
    FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
    WHERE t.tok != ''
),
vocab AS (
    SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT {_OOV_VOCAB})
),
per AS (
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.source
)
SELECT source, n_tokens, n_oov,
       CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
FROM per
""",
    doc="tokenizer-coverage audit: per-source out-of-vocabulary token "
    "rate against the corpus-global top-{V} vocabulary (count DESC, "
    "token ASC — deterministic). THE per-source number a pipeline reads "
    "before freezing a fixed vocab/tokenizer: a source with an outlier "
    "OOV rate will fragment into over-long token sequences (inflating "
    "its effective token budget) or degrade to UNK-heavy training text. "
    "Plan: one token-count aggregation (partial-agg, shuffle keyed by "
    "token ~ vocabulary-sized, never corpus-sized), a TakeOrdered "
    "top-{V} that broadcasts back as the vocab probe, and one "
    "per-source partial agg over the token stream — the corpus text "
    "itself is never shuffled, so the plan at 100 TB is two scans + "
    "vocabulary-sized exchanges".format(V=_OOV_VOCAB),
)
def docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_OOV_VOCAB)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Partition-pruned ANN probe: the IVF lists as a partitioned parquet store
# ---------------------------------------------------------------------------

def _stage_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF inverted lists as a parquet store PARTITIONED
    BY centroid_id — the on-disk layout a 100 TB ANN deployment uses so a
    probe's I/O is |corpus| * n_probe / n_cells instead of a full scan.
    Write-once per sf_dir with the atomic scratch-then-rename publish
    (the events staging recipe: a crash leaves only an orphan scratch
    dir; concurrent stagers race harmlessly; a stale incomplete occupant
    is evicted under a flock)."""
    return substrate(spark, sf_dir, "ivf_store", lambda: _build_ivf_store(spark, sf_dir))


def _build_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    from watsondedupe_spark.operators.similarity import ivf_assign_np, ivf_centroids

    key = os.path.abspath(sf_dir)
    tag = hashlib.md5(f"{key}:ivf16".encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"wds_ivf_store_{tag}")
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        scratch = tempfile.mkdtemp(prefix=f"wds_ivf_store_build_{tag}_")
        emb = _emb(spark, sf_dir)
        cents = ivf_centroids(emb, n_centroids=16)
        (
            ivf_assign_np(emb, cents, n_probe=1)
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(scratch)
        )
        with open(os.path.join(scratch, "_STAGED"), "w") as fh:
            fh.write("ok")
        try:
            os.rename(scratch, stage)
        except OSError:
            import fcntl
            import shutil

            fdl = os.open(stage + ".lock", os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fdl, fcntl.LOCK_EX)
                if not os.path.exists(done):
                    shutil.rmtree(stage, ignore_errors=True)
                    try:
                        os.rename(scratch, stage)
                    except OSError:
                        shutil.rmtree(scratch, ignore_errors=True)
                else:
                    shutil.rmtree(scratch, ignore_errors=True)  # lost the race
            finally:
                fcntl.flock(fdl, fcntl.LOCK_UN)
                os.close(fdl)
    if not os.path.exists(done):
        raise RuntimeError(f"IVF store staging at {stage} is incomplete")
    return stage


@register(
    "emb_ann_partitioned_probe",
    _REGISTRY["emb_ann_topk_ivf"].oracle,
    doc="IVF probe against the PERSISTED partitioned index: the inverted "
    "lists live as a parquet store partitioned by centroid_id, queries "
    "route to their n_probe=4 nearest cells, and the probe reads ONLY "
    "those partition directories — the plan carries a PartitionFilters "
    "entry (pinned by test_plans), so at 100 TB the scan is "
    "|corpus| * n_probe / n_cells bytes, not the corpus. This is the "
    "storage-side half of the IVF story: emb_ann_topk_ivf proves the "
    "routing math, this row proves the LAYOUT prunes (identical "
    "results, same oracle — build once, probe forever). The probed "
    "cell-id set is <= 12 ids (n_queries x n_probe), a bounded "
    "driver-side collect that becomes the static partition predicate",
)
def emb_ann_partitioned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import (
        cosine,
        ivf_assign_np,
        ivf_centroids,
    )

    store = _stage_ivf_store(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    cents = ivf_centroids(emb, n_centroids=16)
    probes = ivf_assign_np(
        emb.filter(F.col("vec_id") < 3), cents, n_probe=4
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "centroid_id"
    )
    probed = sorted(
        {r.centroid_id for r in probes.select("centroid_id").distinct().collect()}
    )
    lists = (
        spark.read.parquet(store)
        .filter(F.col("centroid_id").isin(probed))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
            F.col("centroid_id").cast("long").alias("centroid_id"),
        )
    )
    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


# ---------------------------------------------------------------------------
# Label-quality screen: LSH-bucket label impurity
# ---------------------------------------------------------------------------


def _label_impurity_oracle() -> str:
    from watsondedupe_spark.queries.engine_native import _lsh_bucket_sql

    return f"""
WITH b AS (
    SELECT vec_id, label, {_lsh_bucket_sql('embedding')} AS bucket
    FROM embeddings
),
co AS (
    SELECT a.label AS label,
           CASE WHEN a.label != c.label THEN 1 ELSE 0 END AS diff
    FROM b a JOIN b c ON c.bucket = a.bucket AND c.vec_id != a.vec_id
),
per AS (
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(diff) AS BIGINT) AS n_diff
    FROM co GROUP BY label
)
SELECT label, n_pairs, n_diff,
       CAST(n_diff AS DOUBLE) / n_pairs AS impurity
FROM per
"""


@register(
    "emb_label_impurity",
    _label_impurity_oracle(),
    doc="label-noise screen: per label, the fraction of same-LSH-bucket "
    "co-member pairs whose labels DISAGREE — geometric neighbors with "
    "conflicting labels are either mislabeled points or genuinely "
    "ambiguous classes, and an outlier impurity row is the signal to "
    "audit that label's examples before training a classifier on them "
    "(the confident-learning intuition run as one cheap SQL-shaped "
    "pass, no model needed). Uses the SAME md5-derived sign-LSH buckets "
    "as the graded ANN path, so candidate neighborhoods are the index's "
    "own — the pair join is keyed by bucket (never all-pairs) and at "
    "100 TB inherits the bounded-bucket salting strategy of the "
    "embedding near-dup operator. Counts are exact integers; the one "
    "division is the only double",
)
def emb_label_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import sign_lsh_bucket

    b = _emb(spark, sf_dir).select(
        "vec_id", "label", sign_lsh_bucket(F.col("embedding"), n_planes=6).alias("bucket")
    )
    a = b.select(
        F.col("vec_id").alias("vid_a"), F.col("label").alias("label"), "bucket"
    )
    c = b.select(F.col("vec_id").alias("vid_c"), F.col("label").alias("label_c"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("vid_c") != F.col("vid_a"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("label_c") != F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_diff"),
        )
        .select(
            "label",
            "n_pairs",
            "n_diff",
            (F.col("n_diff").cast("double") / F.col("n_pairs")).alias("impurity"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining: adjacent-bigram lift (rational PMI stand-in)
# ---------------------------------------------------------------------------

_COLLOC_K = 20


@register(
    "docs_collocation_lift",
    f"""
WITH tok AS (
    SELECT string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
    SELECT unnest(list_transform(generate_series(1, len(t)-1),
                                 i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM tok
),
bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY bigram),
ug AS (SELECT unnest(t) AS w FROM tok),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM ug GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM bg),
top AS (
    SELECT bigram, n_ab FROM bc ORDER BY n_ab DESC, bigram LIMIT {_COLLOC_K}
)
SELECT t.bigram, t.n_ab, a.n_w AS n_a, b.n_w AS n_b,
       CAST(t.n_ab * n_big AS DOUBLE) / CAST(a.n_w * b.n_w AS DOUBLE) AS lift
FROM top t
JOIN uc a ON a.w = string_split(t.bigram, ' ')[1]
JOIN uc b ON b.w = string_split(t.bigram, ' ')[2]
CROSS JOIN tot
""",
    doc="collocation mining: the top-{K} adjacent word bigrams with "
    "their association lift n_ab * N / (n_a * n_b) — a rational PMI "
    "stand-in (identical ranking signal, no log, so it stays IEEE-"
    "bit-identical across engines). The phrase-mining pass a tokenizer "
    "team runs to decide which multi-word units deserve dedicated "
    "vocabulary entries. Plan: bigram + unigram counts are two "
    "partial-agg passes whose shuffles carry vocabulary-sized keys, "
    "the top-{K} is a TakeOrdered, and the unigram lookups join "
    "against a {K}-row broadcast side — the corpus text is never "
    "shuffled, so 100 TB costs two scans + vocab-sized exchanges"
    "".format(K=_COLLOC_K),
)
def docs_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _docs_parallel

    toks = _docs_parallel(spark, sf_dir).select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.concat_ws(" ", F.get("t", i), F.get("t", i + 1)),
            )
        ).alias("bigram")
    )
    bc = bigrams.groupBy("bigram").agg(F.count("*").cast("long").alias("n_ab"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_w"))
    )
    tot = bigrams.agg(F.count("*").cast("long").alias("n_big"))
    top = bc.orderBy(F.desc("n_ab"), "bigram").limit(_COLLOC_K)
    a = uc.select(F.col("w").alias("wa"), F.col("n_w").alias("n_a"))
    b = uc.select(F.col("w").alias("wb"), F.col("n_w").alias("n_b"))
    parts = F.split("bigram", " ")
    return (
        top.withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(a, "wa")
        .join(b, "wb")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_big")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# PQ quantization-distortion audit: which subspace loses the most signal
# ---------------------------------------------------------------------------

_PQ_DISTORTION_ORACLE = """
WITH base AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings
),
samp AS (
    SELECT qv, ROW_NUMBER() OVER (ORDER BY skey, vec_id) - 1 AS code
    FROM (
        SELECT vec_id, qv,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
        FROM base
        ORDER BY skey, vec_id
        LIMIT 16
    )
),
cb AS (
    SELECT sp.s, samp.code, list_slice(samp.qv, sp.s * 8 + 1, sp.s * 8 + 8) AS cv
    FROM samp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
),
enc AS (
    SELECT b.vec_id, cb.s, cb.code,
           list_reduce(list_transform(
               list_zip(list_slice(b.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x) AS d2
    FROM base b CROSS JOIN cb
),
chosen AS (
    SELECT vec_id, s, d2
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
          FROM enc)
    WHERE rn = 1
),
per AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(d2) AS BIGINT) AS sq_err
    FROM chosen GROUP BY s
),
eng AS (
    SELECT sp.s,
           CAST(SUM(list_reduce(list_transform(
               list_slice(b.qv, sp.s * 8 + 1, sp.s * 8 + 8), x -> x * x),
               (acc, x) -> acc + x)) AS BIGINT) AS energy
    FROM base b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
    GROUP BY sp.s
)
SELECT CAST(per.s AS BIGINT) AS subspace, n_vecs, sq_err, energy,
       CAST(sq_err AS DOUBLE) / energy AS distortion
FROM per JOIN eng ON eng.s = per.s
"""


@register(
    "emb_pq_distortion",
    _PQ_DISTORTION_ORACLE,
    doc="PQ quantization-distortion audit: per subspace, the exact "
    "integer squared reconstruction error of the assigned code entry "
    "summed over the corpus, normalized by the subspace's signal energy "
    "— the table that says WHICH 8-dim slice the 32x-compressed index "
    "is butchering (an outlier row means that subspace needs more "
    "codes, a k-means refine, or an OPQ-style rotation before the ADC "
    "scores can be trusted). Completes the ANN diagnostics trio: list "
    "balance (where probes cost), probe sweep (what recall buys), "
    "distortion (where the compression loses it). Reuses the shared "
    "one-build index (codes + codebooks); the Spark side recomputes "
    "each vector's d2 to its STORED code via a literal-broadcast "
    "codebook — one corpus pass, 8-key partial agg, all integers until "
    "the final division",
)
def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from watsondedupe_spark.queries.curation_ext import _ann_index
    from watsondedupe_spark.queries.llm_pipeline import _quant_vec

    _, _, cbs, codes = _ann_index(spark, sf_dir)
    qcb = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(int(math.floor(x * 1000 + 0.5))) for x in code])
                    for code in sub
                ]
            )
            for sub in cbs
        ]
    )
    base = _emb(spark, sf_dir).select("vec_id", _quant_vec().alias("qv"))
    per_sub = (
        base.join(codes.select("vec_id", "codes"), "vec_id")
        .select("qv", "codes", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"))
        .select(
            "s",
            F.slice("qv", F.col("s") * 8 + 1, F.lit(8)).alias("sv"),
            F.element_at(
                F.element_at(qcb, F.col("s") + 1),
                F.element_at("codes", F.col("s") + 1) + 1,
            ).alias("cv"),
        )
        .select(
            "s",
            F.aggregate(
                F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            F.aggregate(
                F.transform("sv", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("e"),
        )
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("d2").cast("long").alias("sq_err"),
            F.sum("e").cast("long").alias("energy"),
        )
    )
    return per_sub.select(
        F.col("s").cast("long").alias("subspace"),
        "n_vecs",
        "sq_err",
        "energy",
        (F.col("sq_err").cast("double") / F.col("energy")).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# int8 scalar-quantization recall: the cheapest compression a vector
# store ships (4x over float32, no codebooks, no training) — does it hold?
# ---------------------------------------------------------------------------


def _sq8_oracle() -> str:
    from watsondedupe_spark.queries.llm_pipeline import (
        _KNN_ORACLE_SQL,
        _KNN_QUERIES,
        _QUANT,
    )

    quant = _QUANT.format(x="list_extract(e.embedding, CAST(d.i AS INTEGER))")
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
ce AS (
    SELECT e.vec_id, d.i, {quant} AS v
    FROM embeddings e CROSS JOIN dims d
),
stats AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ce GROUP BY i),
rec AS (
    SELECT c.vec_id, c.i,
           CASE WHEN s.mx = s.mn THEN s.mn * 255
                ELSE s.mn * 255
                     + ((c.v - s.mn) * 255 // (s.mx - s.mn)) * (s.mx - s.mn)
           END AS r
    FROM ce c JOIN stats s ON s.i = c.i
),
rnorms AS (SELECT vec_id, SUM(r * r) AS rnrm FROM rec GROUP BY vec_id),
qe AS (SELECT vec_id AS qid, i, v FROM ce WHERE vec_id IN {tuple(_KNN_QUERIES)}),
qnorms AS (SELECT qid, SUM(v * v) AS qnrm FROM qe GROUP BY qid),
dots AS (
    SELECT q.qid, r.vec_id AS cid, SUM(q.v * r.r) AS dot
    FROM qe q JOIN rec r ON q.i = r.i AND r.vec_id != q.qid
    GROUP BY q.qid, r.vec_id
),
sims AS (
    SELECT d.qid, d.cid,
           CAST(d.dot AS DOUBLE) / sqrt(CAST(qn.qnrm AS DOUBLE))
                                 / sqrt(CAST(rn.rnrm AS DOUBLE)) AS cosine
    FROM dots d
    JOIN qnorms qn ON qn.qid = d.qid
    JOIN rnorms rn ON rn.vec_id = d.cid
),
approx AS (
    SELECT qid, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM sims)
    WHERE rn <= 10
),
exact_q AS (SELECT query_id, neighbor_id FROM ({_KNN_ORACLE_SQL}) x)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.cid) AS BIGINT) AS n_hits,
       CAST(COUNT(a.cid) AS DOUBLE) / COUNT(*) AS recall
FROM exact_q e
LEFT JOIN approx a ON a.qid = e.query_id AND a.cid = e.neighbor_id
GROUP BY e.query_id
"""


@register(
    "emb_sq8_recall",
    _sq8_oracle(),
    doc="int8 scalar-quantization recall audit: encode every embedding "
    "dim to an 8-bit code against per-dim corpus min/max, decode, and "
    "measure recall@10 of the dequantized exact top-k vs the full-"
    "precision exact top-k, per query. SQ8 is the baseline compression "
    "every production vector store offers (4x smaller, no codebook "
    "training, pure per-dim affine) — this table is the go/no-go for "
    "flipping it on at 100 TB, sitting beside the PQ (32x) and "
    "matryoshka (slice) audits so the storage/recall frontier is "
    "graded end to end. The per-dim min/max is ONE corpus pass of 128 "
    "partially-aggregated scalars (no explode shuffle — a 1-row "
    "broadcast); encode/decode stays integer-exact on both engines "
    "(floor-division against the 255-scaled reconstruction, so the "
    "rank order is bit-identical); top-k is the salted two-phase "
    "emb_knn_cosine plan over the reconstructed vectors",
)
def emb_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _KNN_QUERIES, emb_knn_cosine

    emb = _emb(spark, sf_dir).select("vec_id", _quant_vec().alias("qv"))
    stats1 = emb.agg(
        *[F.min(F.element_at("qv", i)).alias(f"mn{i}") for i in range(1, 65)],
        *[F.max(F.element_at("qv", i)).alias(f"mx{i}") for i in range(1, 65)],
    )
    stats_arr = F.array(
        *[
            F.struct(F.col(f"mn{i}").alias("mn"), F.col(f"mx{i}").alias("mx"))
            for i in range(1, 65)
        ]
    )

    def _recon(q, s):
        num = (q - s["mn"]) * 255
        den = s["mx"] - s["mn"]
        code = ((num - F.pmod(num, den)) / den).cast("long")
        return F.when(den == 0, s["mn"] * 255).otherwise(s["mn"] * 255 + code * den)

    with_r = (
        emb.crossJoin(F.broadcast(stats1))
        .select("vec_id", "qv", stats_arr.alias("st"))
        .select("vec_id", "qv", F.zip_with("qv", "st", _recon).alias("r"))
    )
    rnrm = F.aggregate(
        F.zip_with("r", "r", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = with_r.select("vec_id", "r", rnrm.alias("rnrm"))
    qnrm = F.aggregate(
        F.zip_with("qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    q = (
        emb.filter(F.col("vec_id").isin(*_KNN_QUERIES))
        .select(F.col("vec_id").alias("qid"), F.col("qv").alias("qver"), qnrm.alias("qnrm"))
    )
    dot = F.aggregate(
        F.zip_with("qver", "r", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            (
                dot.cast("double")
                / F.sqrt(F.col("qnrm").cast("double"))
                / F.sqrt(F.col("rnrm").cast("double"))
            ).alias("cosine"),
        )
    )
    w_part = Window.partitionBy("qid", "salt").orderBy(F.desc("cosine"), "cid")
    w_full = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    approx = (
        sims.withColumn("salt", F.pmod(F.col("cid"), F.lit(32)))
        .withColumn("prank", F.row_number().over(w_part))
        .filter(F.col("prank") <= 10)
        .withColumn("rank", F.row_number().over(w_full))
        .filter(F.col("rank") <= 10)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), F.lit(1).alias("hit"))
    )
    exact = emb_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit").cast("double") / F.count("*")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# hard-negative mining: nearest neighbors that must NOT match — the pairs
# a contrastive embedding trainer actually learns from
# ---------------------------------------------------------------------------

_HARDNEG_K = 5


def _hard_neg_oracle() -> str:
    from watsondedupe_spark.queries.llm_pipeline import _KNN_QUERIES, _QUANT

    quant = _QUANT.format(x="list_extract(e.embedding, CAST(d.i AS INTEGER))")
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
ce AS (
    SELECT e.vec_id, d.i, {quant} AS v
    FROM embeddings e CROSS JOIN dims d
),
norms AS (SELECT vec_id, SUM(v * v) AS nrm FROM ce GROUP BY vec_id),
lab AS (SELECT vec_id, label FROM embeddings),
qe AS (SELECT vec_id AS qid, i, v FROM ce WHERE vec_id IN {tuple(_KNN_QUERIES)}),
dots AS (
    SELECT q.qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
    FROM qe q JOIN ce c ON q.i = c.i AND c.vec_id != q.qid
    GROUP BY q.qid, c.vec_id
),
sims AS (
    SELECT d.qid, ql.label AS qlabel, d.cid, cl.label AS clabel,
           CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE))
                                 / sqrt(CAST(nc.nrm AS DOUBLE)) AS cosine
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.qid
    JOIN norms nc ON nc.vec_id = d.cid
    JOIN lab ql ON ql.vec_id = d.qid
    JOIN lab cl ON cl.vec_id = d.cid
    WHERE ql.label != cl.label
)
SELECT qid AS query_id, CAST(qlabel AS INTEGER) AS query_label,
       cid AS neighbor_id, CAST(clabel AS INTEGER) AS neighbor_label,
       cosine, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM sims)
WHERE rnk <= {_HARDNEG_K}
"""


@register(
    "emb_hard_negatives",
    _hard_neg_oracle(),
    doc="contrastive hard-negative mining: for each probe vector, the "
    "top-5 highest-cosine neighbors whose LABEL DIFFERS — the "
    "semantically-confusable pairs an embedding trainer pairs with "
    "each anchor so the margin is learned where it is thinnest "
    "(random in-batch negatives are too easy to move the loss). This "
    "is the selection step of every retrieval/rerank training "
    "pipeline; at 100 TB it is the exact same plan — the probe set "
    "broadcasts as whole quantized vectors, every candidate row "
    "computes dot/norms row-locally inside codegen, the label "
    "inequality is a pre-rank filter (so mined pairs never shuffle), "
    "and the top-k is the salted two-phase rank. Quantized-integer "
    "dot/norms keep the float cosine bit-identical on both engines",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _KNN_QUERIES

    emb = _emb(spark, sf_dir).select("vec_id", "label", _quant_vec().alias("v"))
    nrm = F.aggregate(
        F.zip_with("v", "v", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = emb.select("vec_id", "label", "v", nrm.alias("nrm"))
    q = cand.filter(F.col("vec_id").isin(*_KNN_QUERIES)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = (
        cand.crossJoin(F.broadcast(q))
        .filter((F.col("vec_id") != F.col("qid")) & (F.col("label") != F.col("qlabel")))
        .select(
            "qid",
            "qlabel",
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clabel"),
            (
                dot.cast("double")
                / F.sqrt(F.col("qnrm").cast("double"))
                / F.sqrt(F.col("nrm").cast("double"))
            ).alias("cosine"),
        )
    )
    w_part = Window.partitionBy("qid", "salt").orderBy(F.desc("cosine"), "cid")
    w_full = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return (
        sims.withColumn("salt", F.pmod(F.col("cid"), F.lit(32)))
        .withColumn("prank", F.row_number().over(w_part))
        .filter(F.col("prank") <= _HARDNEG_K)
        .withColumn("rank", F.row_number().over(w_full).cast("int"))
        .filter(F.col("rank") <= _HARDNEG_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").cast("int").alias("query_label"),
            F.col("cid").alias("neighbor_id"),
            F.col("clabel").cast("int").alias("neighbor_label"),
            "cosine",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# tokenizer fertility: tokens-per-word by language — the number that
# decides whose documents get silently over-billed by the token budget
# ---------------------------------------------------------------------------

_PRETOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@register(
    "docs_token_fertility",
    f"""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_pretok) AS BIGINT) AS n_pretok,
       CAST(SUM(n_tok_chars) AS BIGINT) AS n_tok_chars,
       CAST(SUM(n_pretok) AS DOUBLE) / SUM(n_words) AS fertility,
       CAST(SUM(n_tok_chars) AS DOUBLE) / SUM(n_pretok) AS avg_tok_len
FROM (
    SELECT lang, source,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '{_PRETOK_RE}')) AS n_pretok,
           len(replace(text, ' ', '')) AS n_tok_chars
    FROM documents
)
GROUP BY lang, source
""",
    doc="tokenizer fertility audit: per (lang, source), whitespace words "
    "vs BPE-style pre-tokens (alpha runs | digit runs | punct runs — "
    "the GPT-2-style pre-tokenization every BPE trainer segments "
    "within) and characters per pre-token. Fertility (pre-tokens per "
    "word) is THE cross-language fairness number for a token-budgeted "
    "corpus: a language tokenizing at 2x fertility pays twice the "
    "budget per word, so mixture weights computed in tokens silently "
    "under-sample it — this table is what you read before setting the "
    "docs_token_budget_mix rates. One corpus pass, row-local regex "
    "counts, (lang, source)-keyed partial agg; text never shuffles. "
    "The disjoint alternation classes make Java-regex and RE2 "
    "semantics provably identical, keeping the counts oracle-exact",
)
def docs_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _docs(spark, sf_dir).select(
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(_PRETOK_RE), 0)).alias("n_pretok"),
        F.length(F.replace("text", F.lit(" "), F.lit(""))).alias("n_tok_chars"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_pretok").cast("long").alias("n_pretok"),
        F.sum("n_tok_chars").cast("long").alias("n_tok_chars"),
        (F.sum("n_pretok").cast("double") / F.sum("n_words")).alias("fertility"),
        (F.sum("n_tok_chars").cast("double") / F.sum("n_pretok")).alias("avg_tok_len"),
    )


# ---------------------------------------------------------------------------
# sequential Poisson sampling: exact-k, size-biased, coordination-free
# ---------------------------------------------------------------------------

_SPS_K = 100


@register(
    "docs_weighted_sample",
    f"""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight, priority,
       CAST(rnk AS INTEGER) AS rank
FROM (
    SELECT doc_id, source, n_chars,
           CAST(('0x' || substr(md5('sps:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               // GREATEST(n_chars, 1) AS priority,
           ROW_NUMBER() OVER (ORDER BY
               CAST(('0x' || substr(md5('sps:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   // GREATEST(n_chars, 1),
               doc_id) AS rnk
    FROM documents
)
WHERE rnk <= {_SPS_K}
""",
    doc="sequential Poisson sampling (Ohlsson): exact-k weighted sample "
    "with inclusion probability ~ proportional to size — each doc "
    "draws a deterministic 60-bit md5 uniform, its priority is "
    "u // weight (integer floor division, weight = n_chars), and the "
    "k SMALLEST priorities win. This is the curation sampler that "
    "hash-threshold gates can't be: exact sample size (thresholds "
    "give binomial counts) AND size-biased (big documents "
    "proportionally likelier), while staying coordination-free and "
    "reproducible across runs, engines, partitionings, and corpus "
    "growth (a doc's priority never changes, so samples are "
    "consistent under refresh — the property survey sampling calls "
    "permanent random numbers). Plan: one scan, row-local hash "
    "arithmetic, distributed TakeOrdered top-k — no shuffle of the "
    "corpus, no rand(), oracle-exact by construction",
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GREATEST(n_chars, 1): a zero-length doc must not NULL-out (Spark DIV)
    # or error (DuckDB //) the priority — both sides guard identically.
    pri = F.expr(
        "CAST(conv(substr(md5(concat('sps:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        " DIV GREATEST(n_chars, 1)"
    )
    ranked = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("weight"), pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(_SPS_K)
    )
    w = Window.orderBy("priority", "doc_id")
    return ranked.select(
        "doc_id", "source", "weight", "priority", F.row_number().over(w).cast("int").alias("rank")
    )


# ---------------------------------------------------------------------------
# per-source quality calibration: rank-normalize scores inside each source
# so one global threshold can't silently empty the hard sources
# ---------------------------------------------------------------------------


def _quality_calibration_oracle() -> str:
    q = _REGISTRY["docs_quality"].oracle
    return f"""
WITH q AS ({q}),
scored AS (
    SELECT d.doc_id, d.source, q.quality_score,
           PERCENT_RANK() OVER (PARTITION BY d.source
                                ORDER BY q.quality_score, d.doc_id) AS src_pct
    FROM q JOIN documents d ON d.doc_id = q.doc_id
)
SELECT doc_id, source, quality_score, src_pct,
       CAST(least(9, CAST(floor(src_pct * 10) AS BIGINT)) AS INTEGER) AS calib_decile
FROM scored
"""


@register(
    "docs_quality_calibration",
    _quality_calibration_oracle(),
    doc="per-source quality calibration: percent-rank each document's "
    "composite quality score WITHIN its source, then bucket into "
    "calibrated deciles. Raw quality scores are not comparable across "
    "sources (a scanned-book corpus and a forum dump have different "
    "score distributions), so a single global threshold silently "
    "empties the hard sources and keeps the easy ones — rank "
    "calibration is the standard fix before cross-source selection "
    "(equivalent to per-source quantile normalization). The score is "
    "the graded docs_quality formula recomputed in the same scan that "
    "carries source (no join); the only shuffle is the per-source "
    "window partitioning, with doc_id tie-break so ranks are total "
    "and engine-portable",
)
def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _STOPWORDS

    toks = F.split("text", " ")
    # mirrors the graded docs_quality formula, with source kept in-scan
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        (
            F.least(F.lit(1.0), F.size(toks).cast("long") / 50.0)
            * (
                1.0
                - (
                    (
                        F.length("text")
                        - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
                    ).cast("double")
                    / F.length("text")
                )
            )
            * (
                0.5
                + F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double")
                / F.size(toks)
            )
        ).alias("quality_score"),
    )
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.percent_rank().over(w).alias("src_pct"),
    ).select(
        "*",
        F.least(F.lit(9), F.floor(F.col("src_pct") * 10).cast("long"))
        .cast("int")
        .alias("calib_decile"),
    )


# ---------------------------------------------------------------------------
# seasonal anomaly profile: (day-of-week, hour) baseline + 3-sigma rate —
# the calendar-aware outlier screen flat z-scores can't be
# ---------------------------------------------------------------------------


@register(
    "events_seasonal_anomaly",
    """
WITH keyed AS (
    SELECT CAST(EXTRACT(DOW FROM ts) AS INTEGER) AS dow,
           CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v,
           CAST(value AS DECIMAL(18,2)) AS vdec
    FROM events
),
m AS (
    SELECT dow, hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vdec) AS DOUBLE) AS s1,
           CAST(SUM(CAST(vdec * vdec AS DECIMAL(28,4))) AS DOUBLE) AS s2
    FROM keyed GROUP BY dow, hr
)
SELECT k.dow, k.hr, m.n,
       m.s1 / m.n AS mean,
       sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)) AS sd,
       CAST(SUM(CASE WHEN abs((k.v - m.s1 / m.n)
                / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1))) >= 3.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN abs((k.v - m.s1 / m.n)
                / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1))) >= 3.0
                THEN 1 ELSE 0 END) AS DOUBLE) / m.n AS outlier_rate
FROM keyed k JOIN m ON m.dow = k.dow AND m.hr = k.hr
WHERE m.n > 1
GROUP BY k.dow, k.hr, m.n, m.s1, m.s2
""",
    doc="seasonal anomaly profile: per (day-of-week, hour-of-day) "
    "bucket, the exact-moment mean/sd baseline and the share of "
    "events sitting 3+ sigma from THEIR OWN calendar bucket — the "
    "screen that separates 'weekday 9am is always hot' from a real "
    "anomaly, which a flat per-user z-score (events_user_zscore) "
    "cannot. Two passes over events re-shuffling on the same 168-key "
    "grain: a decimal-exact moment aggregate, then the baseline joins "
    "back BY BROADCAST (the profile is at most 7x24 rows at any "
    "corpus size) for the outlier count — the fact table never "
    "shuffles for the join. Portable DOW via Spark dayofweek()-1 == "
    "DuckDB EXTRACT(DOW) (both Sunday-0); fixed-order IEEE math for "
    "the sigma test",
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    vdec = F.col("value").cast("decimal(18,2)")
    keyed = _events(spark, sf_dir).select(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        vdec.cast("double").alias("v"),
        vdec.alias("vdec"),
    )
    m = keyed.groupBy("dow", "hr").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vdec").cast("double").alias("s1"),
        F.sum((F.col("vdec") * F.col("vdec")).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1))
    is_out = (F.abs((F.col("v") - F.col("s1") / F.col("n")) / sd) >= 3.0).cast("long")
    return (
        keyed.join(F.broadcast(m), ["dow", "hr"])
        .filter(F.col("n") > 1)
        .groupBy("dow", "hr", "n", "s1", "s2")
        .agg(
            F.sum(is_out).cast("long").alias("n_outliers"),
        )
        .select(
            "dow",
            "hr",
            "n",
            mean.alias("mean"),
            sd.alias("sd"),
            "n_outliers",
            (F.col("n_outliers").cast("double") / F.col("n")).alias("outlier_rate"),
        )
    )


# ---------------------------------------------------------------------------
# OPQ-lite: energy-balanced dimension permutation before PQ — does
# rotating (permuting) the space fix the subspace the 32x compression hurts?
# ---------------------------------------------------------------------------


def _opq_distortion_oracle() -> str:
    return """
WITH base AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings
),
dims AS (SELECT unnest(generate_series(1, 64)) AS d),
ed AS (
    SELECT d.d, SUM(list_extract(b.qv, CAST(d.d AS INTEGER))
                    * list_extract(b.qv, CAST(d.d AS INTEGER))) AS e
    FROM base b CROSS JOIN dims d GROUP BY d.d
),
ranked AS (SELECT d, ROW_NUMBER() OVER (ORDER BY e DESC, d) - 1 AS r FROM ed),
perm AS (SELECT d, r % 8 AS s, r // 8 AS pos FROM ranked),
pbase AS (
    SELECT b.vec_id,
           list(list_extract(b.qv, CAST(p.d AS INTEGER)) ORDER BY p.s, p.pos) AS qv
    FROM base b CROSS JOIN perm p GROUP BY b.vec_id
),
samp AS (
    SELECT qv, ROW_NUMBER() OVER (ORDER BY skey, vec_id) - 1 AS code
    FROM (
        SELECT vec_id, qv,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
        FROM pbase
        ORDER BY skey, vec_id
        LIMIT 16
    )
),
cb AS (
    SELECT sp.s, samp.code, list_slice(samp.qv, sp.s * 8 + 1, sp.s * 8 + 8) AS cv
    FROM samp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
),
enc AS (
    SELECT b.vec_id, cb.s, cb.code,
           list_reduce(list_transform(
               list_zip(list_slice(b.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x) AS d2
    FROM pbase b CROSS JOIN cb
),
chosen AS (
    SELECT vec_id, s, d2
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
          FROM enc)
    WHERE rn = 1
),
per AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(d2) AS BIGINT) AS sq_err
    FROM chosen GROUP BY s
),
eng AS (
    SELECT sp.s,
           CAST(SUM(list_reduce(list_transform(
               list_slice(b.qv, sp.s * 8 + 1, sp.s * 8 + 8), x -> x * x),
               (acc, x) -> acc + x)) AS BIGINT) AS energy
    FROM pbase b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
    GROUP BY sp.s
)
SELECT CAST(per.s AS BIGINT) AS subspace, n_vecs, sq_err, energy,
       CAST(sq_err AS DOUBLE) / energy AS distortion
FROM per JOIN eng ON eng.s = per.s
"""


@register(
    "emb_opq_distortion",
    _opq_distortion_oracle(),
    doc="OPQ-lite distortion audit: permute dimensions into energy-"
    "BALANCED subspaces (rank dims by corpus signal energy, deal them "
    "round-robin across the 8 subspaces — the standard dimension-"
    "permutation initialization of Optimized Product Quantization) "
    "and re-run the exact emb_pq_distortion measurement on the "
    "permuted space. Read beside the identity-layout row: when the "
    "contiguous-slice PQ shows one hot subspace hoarding the signal "
    "energy, this table is the evidence for (or against) shipping "
    "the permutation — a free 2x-ish distortion equalizer that "
    "changes NO storage format, only the slice map. The permutation "
    "derives from one 128-scalar corpus pass (a bounded 64-int "
    "collect, the BPE-argmax precedent) and bakes into the plan as a "
    "literal array re-index; codebook build and encode reuse the "
    "graded pq_codebooks/pq_encode kernels on the permuted vectors",
)
def emb_opq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from watsondedupe_spark.operators.similarity import pq_encode
    from watsondedupe_spark.queries.llm_pipeline import _quant_vec

    emb = _emb(spark, sf_dir).select("vec_id", "embedding", _quant_vec().alias("qv"))
    # r13 (guide §2.6/§5): the energy aggregate and the codebook SAMPLE
    # are independent corpus reads — the 16 sample rows are picked by
    # md5(vec_id) alone, and the permutation is a driver-side literal
    # reindex that applies just as well to the 16 collected raw vectors
    # as to a permuted frame. The old form serialized collect(energy)
    # -> build pemb -> collect(sample over pemb); now both bounded
    # collects run from two driver threads and the sample is permuted
    # on the driver (16 x 64 floats), producing byte-identical
    # codebooks (permute-then-slice == slice of driver-permuted row).
    from watsondedupe_spark.pool import fix_pool

    skey = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")

    def _energy():
        return emb.agg(
            *[
                F.sum(F.element_at("qv", i) * F.element_at("qv", i)).alias(f"e{i}")
                for i in range(1, 65)
            ]
        ).collect()[0]

    def _sample():
        return (
            emb.select("vec_id", "embedding")
            .orderBy(skey, "vec_id")
            .limit(16)
            .collect()
        )

    with fix_pool(2) as (submit, fixes):
        submit(_energy)
        submit(_sample)
    e_row, sample_rows = (f.result() for f in fixes)
    order = sorted(range(1, 65), key=lambda d: (-e_row[f"e{d}"], d))
    assign = [(r % 8, r // 8, d) for r, d in enumerate(order)]
    pi = [d for _s, _p, d in sorted(assign)]  # permuted position -> source dim
    pemb = emb.select(
        "vec_id",
        F.array(*[F.element_at("embedding", d) for d in pi]).alias("pemb"),
        F.array(*[F.element_at("qv", d) for d in pi]).alias("pqv"),
    )
    # same [m][ks][d/m] structure pq_codebooks(pemb) built, from the
    # driver-permuted sample (identical sample set and order: the sort
    # key is md5(vec_id), unchanged by the permutation)
    pvecs = [[float(r["embedding"][d - 1]) for d in pi] for r in sample_rows]
    cbs = [[v[s * 8 : (s + 1) * 8] for v in pvecs] for s in range(8)]
    # r12 (guide §3.1): carry pqv THROUGH the encoder instead of joining
    # codes back to a second pemb subtree on vec_id — the join re-ran the
    # whole embeddings scan + 128-element permutation projection on both
    # sides and paid a two-sided exchange for it. One pass, zero joins.
    codes = pq_encode(pemb, cbs, vec_col="pemb", quantize=1000, keep_cols=("pqv",))
    qcb = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(int(math.floor(x * 1000 + 0.5))) for x in code])
                    for code in sub
                ]
            )
            for sub in cbs
        ]
    )
    per_sub = (
        codes.select("pqv", "codes", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"))
        .select(
            "s",
            F.slice("pqv", F.col("s") * 8 + 1, F.lit(8)).alias("sv"),
            F.element_at(
                F.element_at(qcb, F.col("s") + 1),
                F.element_at("codes", F.col("s") + 1) + 1,
            ).alias("cv"),
        )
        .select(
            "s",
            F.aggregate(
                F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            F.aggregate(
                F.transform("sv", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("e"),
        )
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("d2").cast("long").alias("sq_err"),
            F.sum("e").cast("long").alias("energy"),
        )
    )
    return per_sub.select(
        F.col("s").cast("long").alias("subspace"),
        "n_vecs",
        "sq_err",
        "energy",
        (F.col("sq_err").cast("double") / F.col("energy")).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# cross-modality dedup agreement: do the text measure and the embedding
# measure flag the SAME pairs?
# ---------------------------------------------------------------------------


def _text_vs_emb_oracle() -> str:
    jac = _REGISTRY["docs_jaccard_pairs"].oracle
    emb = _near_dup_oracle()
    return f"""
WITH tp AS (SELECT doc_a, doc_b FROM ({jac}) t),
ep AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({emb}) e)
SELECT CASE WHEN tp.doc_a IS NOT NULL AND ep.doc_a IS NOT NULL THEN 'both'
            WHEN tp.doc_a IS NOT NULL THEN 'text_only'
            ELSE 'embedding_only' END AS agreement,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM tp FULL OUTER JOIN ep ON tp.doc_a = ep.doc_a AND tp.doc_b = ep.doc_b
GROUP BY 1
"""


@register(
    "docs_text_vs_embedding_dedup",
    _text_vs_emb_oracle(),
    doc="cross-modality dedup agreement: exact text duplicate pairs "
    "(rare-shingle Jaccard >= 0.4) full-outer-joined against "
    "embedding near-dup pairs (LSH-bucketed exact cosine), counted by "
    "agreement class — both / text_only / embedding_only. The "
    "disagreement rows are the interesting ones at 100 TB: text_only "
    "means the embedding model maps duplicates apart (a model-quality "
    "smell the dedup pipeline would silently inherit), embedding_only "
    "means semantic duplicates exact-text measures cannot see (the "
    "pairs SemDeDup exists for) — and the sizes of those two buckets "
    "decide whether a text-only dedup pass is sufficient for the "
    "corpus. Both pair sets are the cached bounded substrates; the "
    "comparison is one equi full-outer join on pair keys, vec/doc id "
    "spaces deliberately shared by the corpus generator",
)
def docs_text_vs_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import docs_jaccard_pairs

    tp = docs_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b", F.lit(1).alias("t"))
    ep = emb_near_dup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), F.lit(1).alias("e")
    )
    return (
        tp.join(ep, ["doc_a", "doc_b"], "full_outer")
        .select(
            F.when(F.col("t").isNotNull() & F.col("e").isNotNull(), "both")
            .when(F.col("t").isNotNull(), "text_only")
            .otherwise("embedding_only")
            .alias("agreement")
        )
        .groupBy("agreement")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix: the classifier graded against its labels
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    pred = _REGISTRY["docs_langid"].oracle
    return f"""
WITH p AS (SELECT doc_id, pred_lang FROM ({pred}) x),
j AS (
    SELECT d.lang AS actual_lang, p.pred_lang
    FROM documents d JOIN p ON p.doc_id = d.doc_id
),
tot AS (SELECT actual_lang, CAST(COUNT(*) AS BIGINT) AS n_actual FROM j GROUP BY actual_lang)
SELECT j.actual_lang, j.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / t.n_actual AS row_rate
FROM j JOIN tot t ON t.actual_lang = j.actual_lang
GROUP BY j.actual_lang, j.pred_lang, t.n_actual
"""


@register(
    "docs_langid_confusion",
    _langid_confusion_oracle(),
    doc="language-ID confusion matrix: the graded marker-count "
    "classifier (docs_langid) scored against the corpus's own lang "
    "labels — per (actual, predicted) cell, the doc count and its "
    "share of the actual language's row. The model-evaluation shape "
    "every heuristic classifier in the curation stack needs before "
    "its output gates anything (a language mis-ID silently reroutes "
    "documents through the wrong quality thresholds and mixture "
    "buckets). Score and label ride one scan each, joined on doc_id; "
    "the per-language totals join back keyed on the handful of "
    "languages; everything partial-aggregates",
)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import docs_langid

    pred = docs_langid(spark, sf_dir).select("doc_id", "pred_lang")
    j = (
        _docs(spark, sf_dir)
        .select("doc_id", F.col("lang").alias("actual_lang"))
        .join(pred, "doc_id")
    )
    tot = j.groupBy("actual_lang").agg(F.count("*").cast("long").alias("n_actual"))
    return (
        j.groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .join(F.broadcast(tot), "actual_lang")
        .select(
            "actual_lang",
            "pred_lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_actual")).alias("row_rate"),
        )
    )


# ---------------------------------------------------------------------------
# vocabulary coverage curve: corpus token mass covered at each vocab cut
# ---------------------------------------------------------------------------

_COVERAGE_CUTS = (4, 8, 16, 32)


@register(
    "docs_vocab_coverage_curve",
    f"""
WITH toks AS (
    SELECT t AS tok FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ) WHERE t != ''
),
vocab AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rnk
    FROM toks GROUP BY tok
),
tot AS (SELECT SUM(cnt) AS total, CAST(COUNT(*) AS BIGINT) AS vocab_size FROM vocab),
cuts AS (SELECT unnest({list(_COVERAGE_CUTS)}) AS cut)
SELECT CAST(c.cut AS INTEGER) AS cut,
       CAST(SUM(CASE WHEN v.rnk <= c.cut THEN v.cnt ELSE 0 END) AS BIGINT) AS covered_tokens,
       CAST(t.total AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN v.rnk <= c.cut THEN v.cnt ELSE 0 END) AS DOUBLE) / t.total
           AS coverage,
       t.vocab_size
FROM vocab v CROSS JOIN cuts c CROSS JOIN tot t
GROUP BY c.cut, t.total, t.vocab_size
""",
    doc="vocabulary coverage curve: the share of ALL corpus token "
    "occurrences covered by the top-N vocabulary, swept across cut "
    "sizes in one pass — the vocab-size decision curve read before "
    "freezing a tokenizer (docs_oov_rate audits ONE chosen cut per "
    "source; this is the curve that chooses the cut). Token counts "
    "partial-aggregate to a vocabulary-sized relation; the rank "
    "window and the conditional cut sums run over THAT relation "
    "(vocabulary-scale, not corpus-scale — corpus text shuffles only "
    "into the count agg); cuts and the 1-row total broadcast. "
    "Deterministic (count desc, token) ranking makes every cut's "
    "membership engine-exact",
)
def docs_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    # frequency rank via the house two-phase prefix scan: a bare
    # Window.orderBy funneled the whole VOCABULARY (Heaps-law unbounded)
    # through one task — the round-8 single-partition audit's first
    # catch. Rank = exclusive prefix-count of ones in (cnt desc, tok)
    # order; the struct key makes the range shuffle carry that order.
    from watsondedupe_spark.operators.text import global_prefix_sum

    keyed = vocab.select(
        "cnt",
        F.struct((-F.col("cnt")).alias("nc"), F.col("tok").alias("t")).alias("_ord"),
        F.lit(1).alias("_one"),
    )
    ranked = (
        global_prefix_sum(keyed, "_ord", "_one", out_col="_rnk0", ones=True)
        .select("cnt", (F.col("_rnk0") + 1).cast("int").alias("rnk"))
    )
    tot = vocab.agg(
        F.sum("cnt").alias("total"), F.count("*").cast("long").alias("vocab_size")
    )
    cuts = spark.createDataFrame([(c,) for c in _COVERAGE_CUTS], "cut int")
    return (
        ranked.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(tot))
        .groupBy("cut", "total", "vocab_size")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("cut"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("covered_tokens")
        )
        .select(
            F.col("cut").cast("int").alias("cut"),
            "covered_tokens",
            F.col("total").cast("long").alias("total_tokens"),
            (F.col("covered_tokens").cast("double") / F.col("total")).alias("coverage"),
            "vocab_size",
        )
    )


# ---------------------------------------------------------------------------
# mixture diversity: Simpson concentration of the corpus over sources —
# the one-number monitor for a drifting mixture
# ---------------------------------------------------------------------------


@register(
    "docs_mixture_diversity",
    """
WITH per AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
tot AS (SELECT lang, SUM(n) AS t FROM per GROUP BY lang)
SELECT p.lang,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       CAST(t.t AS BIGINT) AS n_docs,
       CAST(SUM(p.n * p.n) AS DOUBLE) / (t.t * t.t) AS simpson,
       CAST(t.t * t.t AS DOUBLE) / SUM(p.n * p.n) AS effective_sources,
       CAST(MAX(p.n) AS DOUBLE) / t.t AS top_share
FROM per p JOIN tot t ON t.lang = p.lang
GROUP BY p.lang, t.t
""",
    doc="mixture diversity monitor: per language, the Simpson "
    "concentration index over sources (sum p_i^2 — the probability "
    "two random docs share a source), its inverse (the EFFECTIVE "
    "number of sources — 10 equal sources score 10.0, one dominant "
    "source scores ~1), and the top source's share. This is the "
    "one-line dashboard number that catches mixture drift: a crawler "
    "outage or an over-eager dedup pass shows up as effective_sources "
    "dropping long before anyone reads the full mixture table. "
    "Rational arithmetic only (n^2 sums over exact counts, one "
    "division) — no entropy logs, so the index is bit-portable. Two "
    "partial aggs sharing the (lang, source) grain; the per-lang "
    "totals join a relation bounded by languages x sources",
)
def docs_mixture_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _docs(spark, sf_dir).groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = per.groupBy("lang").agg(F.sum("n").alias("t"))
    return (
        per.join(F.broadcast(tot), "lang")
        .groupBy("lang", "t")
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.sum(F.col("n") * F.col("n")).alias("ss"),
            F.max("n").alias("mx"),
        )
        .select(
            "lang",
            "n_sources",
            F.col("t").cast("long").alias("n_docs"),
            (F.col("ss").cast("double") / (F.col("t") * F.col("t"))).alias("simpson"),
            ((F.col("t") * F.col("t")).cast("double") / F.col("ss")).alias(
                "effective_sources"
            ),
            (F.col("mx").cast("double") / F.col("t")).alias("top_share"),
        )
    )


# ---------------------------------------------------------------------------
# embedding vector-quality screen: degenerate-vector audit before ANN
# ---------------------------------------------------------------------------


@register(
    "emb_vector_quality",
    """
WITH b AS (
    SELECT vec_id,
           list_reduce(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                  * CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)),
               (acc, x) -> acc + x) AS nrm2,
           len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) AS n_nan,
           len(list_filter(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)),
               x -> x = 0)) AS n_zero_dims
    FROM embeddings
),
t AS (
    SELECT percentile_disc(0.01) WITHIN GROUP (ORDER BY nrm2) AS lo,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY nrm2) AS hi
    FROM b WHERE n_nan = 0
)
SELECT CASE WHEN b.n_nan > 0 THEN 'nan'
            WHEN b.nrm2 = 0 THEN 'zero'
            WHEN b.nrm2 < t.lo THEN 'low_norm'
            WHEN b.nrm2 > t.hi THEN 'high_norm'
            ELSE 'normal' END AS quality,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(b.nrm2) AS BIGINT) AS min_nrm2,
       CAST(MAX(b.nrm2) AS BIGINT) AS max_nrm2,
       CAST(SUM(b.n_zero_dims) AS BIGINT) AS total_zero_dims
FROM b CROSS JOIN t
GROUP BY 1
""",
    doc="embedding vector-quality screen: classify every vector as "
    "nan / zero / low_norm / high_norm / normal against 1st/99th "
    "percentile_disc bounds on the exact integer squared norm, with "
    "zero-dimension tallies per class — the pre-ANN data-quality "
    "gate (a batch of zero or NaN vectors from a crashed encoder "
    "silently poisons every cosine; norm outliers distort IVF "
    "centroids and PQ codebooks). One corpus pass for the row-local "
    "norms, a 1-row percentile reduce broadcast back, one class "
    "rollup — the emb-side sibling of dq_expectations. Integer "
    "norms make the class boundaries bit-exact across engines",
)
def emb_vector_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quant_vec()
    nrm2 = F.aggregate(
        F.transform(qv, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    b = _emb(spark, sf_dir).select(
        "vec_id",
        nrm2.alias("nrm2"),
        F.size(F.filter("embedding", lambda x: F.isnan(x.cast("double")))).alias("n_nan"),
        F.size(F.filter(qv, lambda x: x == 0)).alias("n_zero_dims"),
    )
    t = b.filter(F.col("n_nan") == 0).agg(
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY nrm2)").alias("lo"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY nrm2)").alias("hi"),
    )
    cls = (
        F.when(F.col("n_nan") > 0, "nan")
        .when(F.col("nrm2") == 0, "zero")
        .when(F.col("nrm2") < F.col("lo"), "low_norm")
        .when(F.col("nrm2") > F.col("hi"), "high_norm")
        .otherwise("normal")
    )
    return (
        b.crossJoin(F.broadcast(t))
        .select(cls.alias("quality"), "nrm2", "n_zero_dims")
        .groupBy("quality")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.min("nrm2").cast("long").alias("min_nrm2"),
            F.max("nrm2").cast("long").alias("max_nrm2"),
            F.sum("n_zero_dims").cast("long").alias("total_zero_dims"),
        )
    )


# ---------------------------------------------------------------------------
# dedup impact audit: what the canonical-per-cluster pass actually removes
# ---------------------------------------------------------------------------


def _dedup_impact_oracle() -> str:
    canon = _REGISTRY["docs_canonical_per_cluster"].oracle
    return f"""
WITH canon AS (SELECT canonical_doc FROM ({canon}) x),
tagged AS (
    SELECT d.source,
           CASE WHEN c.canonical_doc IS NOT NULL THEN 'kept' ELSE 'dropped' END AS status,
           d.n_chars,
           len(string_split(d.text, ' ')) AS n_tokens
    FROM documents d LEFT JOIN canon c ON c.canonical_doc = d.doc_id
),
srctot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs FROM documents GROUP BY source)
SELECT t.status, t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(t.n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
       CAST(COUNT(*) AS DOUBLE) / s.src_docs AS share_of_source
FROM tagged t JOIN srctot s ON s.source = t.source
GROUP BY t.status, t.source, s.src_docs
"""


@register(
    "docs_dedup_impact_audit",
    _dedup_impact_oracle(),
    doc="dedup survivorship audit: per (kept | dropped, source), the "
    "doc/char/token mass the canonical-per-cluster dedup pass keeps "
    "vs removes, with each cell's share of its source — the bias "
    "check run AFTER dedup and BEFORE training, because near-dup "
    "removal is never uniform (boilerplate-heavy sources lose far "
    "more than long-form ones, and a mixture tuned pre-dedup is "
    "silently wrong post-dedup; this table is the correction's "
    "input). Composes the graded CC + canonical selection; the "
    "audit itself is one left semi-style join of documents against "
    "the canonical set and two partial aggs — all integer sums plus "
    "two fixed-order double divisions, no float accumulation",
)
def docs_dedup_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import docs_canonical_per_cluster

    # one row per cluster — grows with the corpus, so the canonical set
    # must never broadcast (round-8 no-corpus-broadcast rule)
    canon = (
        docs_canonical_per_cluster(spark, sf_dir)
        .select(F.col("canonical_doc").alias("doc_id"), F.lit(1).alias("is_canon"))
        .hint("shuffle_hash")
    )
    tagged = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "n_chars", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(canon, "doc_id", "left")
        .select(
            "source",
            F.when(F.col("is_canon").isNotNull(), "kept").otherwise("dropped").alias("status"),
            "n_chars",
            "n_tokens",
        )
    )
    srctot = _docs(spark, sf_dir).groupBy("source").agg(
        F.count("*").cast("long").alias("src_docs")
    )
    return (
        tagged.groupBy("status", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .join(F.broadcast(srctot), "source")
        .select(
            "status",
            "source",
            "n_docs",
            "total_chars",
            "total_tokens",
            (F.col("total_chars").cast("double") / F.col("n_docs")).alias("mean_chars"),
            (F.col("n_docs").cast("double") / F.col("src_docs")).alias("share_of_source"),
        )
    )


# ---------------------------------------------------------------------------
# exact Kolmogorov-Smirnov drift test: each source's length distribution
# vs the rest of the corpus — the distribution-shift alarm, made integer
# ---------------------------------------------------------------------------


@register(
    "docs_length_ks_drift",
    """
WITH pts AS (SELECT source, n_chars AS x FROM documents),
per AS (SELECT source, x, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY source, x),
gtab AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS g FROM pts GROUP BY x),
srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t1 FROM pts GROUP BY source),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM pts),
spine AS (
    SELECT s.source, s.t1, gx.x, gx.g, COALESCE(p.c, 0) AS c
    FROM srcs s
    CROSS JOIN gtab gx
    LEFT JOIN per p ON p.source = s.source AND p.x = gx.x
),
cum AS (
    SELECT source, t1, x,
           SUM(c) OVER (PARTITION BY source ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
           SUM(g) OVER (PARTITION BY source ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg
    FROM spine
),
num AS (
    SELECT c.source, c.t1, n.total - c.t1 AS t2, c.x,
           abs(c.cs * (n.total - c.t1) - (c.cg - c.cs) * c.t1) AS d_num
    FROM cum c CROSS JOIN n
)
SELECT source,
       CAST(t1 AS BIGINT) AS n_source,
       CAST(t2 AS BIGINT) AS n_rest,
       CAST(MAX(d_num) AS BIGINT) AS ks_num,
       CAST(MAX(d_num) AS DOUBLE) / (t1 * t2) AS ks_d,
       CAST(MIN(CASE WHEN d_num = md THEN x END) AS BIGINT) AS at_length
FROM (SELECT *, MAX(d_num) OVER (PARTITION BY source) AS md FROM num)
GROUP BY source, t1, t2
""",
    doc="exact two-sample Kolmogorov-Smirnov drift test: per source, "
    "the KS statistic between ITS length distribution and the rest of "
    "the corpus — the standing distribution-shift alarm for ingest "
    "monitoring (a re-crawled source whose pages doubled in length "
    "fires here while every mean/stddev monitor sleeps). The whole "
    "computation is INTEGER-exact: ECDF differences are compared via "
    "the cross-multiplied numerator |c1*t2 - c2*t1| (no float ECDFs, "
    "so the max and its attaining length are bit-portable), with one "
    "final double division for the reported D. The ECDF spine is the "
    "distinct value domain x sources (value-domain scale, not corpus "
    "scale); cumulative sums run per source over that spine; the "
    "corpus itself is touched by two counting aggs only",
)
def docs_length_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs(spark, sf_dir).select("source", F.col("n_chars").alias("x"))
    per = pts.groupBy("source", "x").agg(F.count("*").cast("long").alias("c"))
    glob = pts.groupBy("x").agg(F.count("*").cast("long").alias("g"))
    srcs = pts.groupBy("source").agg(F.count("*").cast("long").alias("t1"))
    n = pts.agg(F.count("*").cast("long").alias("total"))
    # the x spine (distinct lengths) and the (source, x) counts grow
    # with the corpus: broadcast the BOUNDED per-source table into the
    # fan-out instead, and pin the (source, x) probe shuffle-hash
    # (round-8 no-corpus-broadcast rule)
    spine = (
        F.broadcast(srcs)
        .crossJoin(glob)
        .join(per.hint("shuffle_hash"), ["source", "x"], "left")
        .select("source", "t1", "x", "g", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spine.select(
        "source",
        "t1",
        "x",
        F.sum("c").over(wc).alias("cs"),
        F.sum("g").over(wc).alias("cg"),
    )
    num = cum.crossJoin(F.broadcast(n)).select(
        "source",
        "t1",
        (F.col("total") - F.col("t1")).alias("t2"),
        "x",
        F.abs(
            F.col("cs") * (F.col("total") - F.col("t1"))
            - (F.col("cg") - F.col("cs")) * F.col("t1")
        ).alias("d_num"),
    )
    wm = Window.partitionBy("source")
    return (
        num.withColumn("md", F.max("d_num").over(wm))
        .groupBy("source", "t1", "t2")
        .agg(
            F.max("d_num").cast("long").alias("ks_num"),
            F.min(F.when(F.col("d_num") == F.col("md"), F.col("x")))
            .cast("long")
            .alias("at_length"),
        )
        .select(
            "source",
            F.col("t1").cast("long").alias("n_source"),
            F.col("t2").cast("long").alias("n_rest"),
            "ks_num",
            (F.col("ks_num").cast("double") / (F.col("t1") * F.col("t2"))).alias("ks_d"),
            "at_length",
        )
    )


# ---------------------------------------------------------------------------
# embeddings: mutual (reciprocal) kNN pairs — the dedup-verification graph
# ---------------------------------------------------------------------------

_MUTUAL_K = 5
_MUTUAL_PLANES = 4  # floor; the graded SFs (50/500 vectors) stay at 4
_MUTUAL_MAX_PLANES = 16  # ceiling shared by plan and oracle (mask width)
_MUTUAL_TARGET_BUCKET = 32  # expected rows per bucket the plane count targets


def _mutual_planes(n_rows: int) -> int:
    """Plane count scaled to corpus size: buckets ~ n/TARGET so the
    expected bucket stays ~TARGET rows and the in-bucket matmul stays
    LINEAR in the corpus (fixed planes make it quadratic — the 30x
    scale gate caught exactly that: sec_ratio 40x at rows_ratio 8x).
    Clamped to [4, 16]; the SQL oracle computes the SAME rule from
    COUNT(*) and masks a 16-plane bucket with mod 2**p (plane bits are
    positionally ordered, so the p-plane bucket IS the 16-plane bucket
    mod 2**p) — implementation and oracle stay exact at every SF, not
    just below 512 rows. ceil(log2(n/32)) is float-safe here: n/32.0
    is exact, log2 of an exact power of two is exact, and for
    non-powers the distance to the nearest integer (~1/(n ln 2)) dwarfs
    the 1-ulp libm error. Recall per vector stays roughly constant
    because candidates-per-vector is the bucket size — the standard
    LSH capacity scaling."""
    import math

    return min(
        _MUTUAL_MAX_PLANES,
        max(_MUTUAL_PLANES, math.ceil(math.log2(max(n_rows / _MUTUAL_TARGET_BUCKET, 1.0)))),
    )


def _mutual_knn_oracle() -> str:
    from watsondedupe_spark.queries.curation_ext import _icos_sql
    from watsondedupe_spark.queries.engine_native import _lsh_bucket_sql

    return f"""
WITH pl AS (
    SELECT LEAST({_MUTUAL_MAX_PLANES},
                 GREATEST({_MUTUAL_PLANES},
                          CAST(CEIL(LOG2(GREATEST(COUNT(*) / {float(_MUTUAL_TARGET_BUCKET)}, 1.0)))
                               AS INTEGER))) AS p
    FROM embeddings
),
b AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v,
           {_lsh_bucket_sql('embedding', n_planes=_MUTUAL_MAX_PLANES)}
               % CAST(pow(2, pl.p) AS BIGINT) AS bucket
    FROM embeddings CROSS JOIN pl
),
directed AS (
    SELECT x.vec_id AS src, y.vec_id AS dst,
           {_icos_sql('x.v', 'y.v')} AS cosine
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id != y.vec_id
),
topk AS (
    SELECT src, dst, cosine, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY cosine DESC, dst) AS rnk
        FROM directed)
    WHERE rnk <= {_MUTUAL_K}
)
SELECT a.src AS vec_a, a.dst AS vec_b, a.cosine AS cosine,
       a.rnk AS rank_ab, b.rnk AS rank_ba
FROM topk a JOIN topk b ON a.src = b.dst AND a.dst = b.src
WHERE a.src < a.dst
"""


@register(
    "emb_mutual_knn_pairs",
    _mutual_knn_oracle(),
    doc="reciprocal-kNN pairs: the high-precision near-dup verification "
    "graph (a, b kept only when each is in the OTHER's top-k) — the "
    "standard asymmetry filter that kills hub vectors, which sit in "
    "everyone's top-k without reciprocating. Candidates come from the "
    "shared sign-LSH bucket (never all-pairs over the corpus), ranks "
    "from one per-source window over the bucket-bounded directed "
    "edges, and reciprocity from a self-join of the top-k edge list "
    "on the reversed key — at 100 TB that join carries k rows per "
    "vector, not the candidate fan-out. Cosines are quantized-integer "
    "exact (order-free), so Spark folds and the SQL oracle agree "
    "bit-for-bit.",
)
def emb_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import sign_lsh_bucket

    n_rows = substrate(spark, sf_dir, "emb_rows", lambda: _emb(spark, sf_dir).count())
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        _quant_vec().alias("v"),
        sign_lsh_bucket(F.col("embedding"), n_planes=_mutual_planes(n_rows)).alias(
            "bucket"
        ),
    )

    # Every vector's candidate set lives entirely inside its own bucket,
    # so the directed top-k can be computed as ONE integer matmul per
    # bucket group (Arrow worker, BLAS) instead of a |bucket|^2-row pair
    # join folded element-wise in the JVM — same quantized-int cosine
    # and (desc cosine, dst) tie order, ~5x faster at sf0.1 and the gap
    # widens with bucket size. Only k rows per vector leave the kernel.
    k = _MUTUAL_K

    def _topk_group(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.asarray(list(pdf["v"]), dtype=np.int64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"src": [], "dst": [], "cosine": [], "rnk": []}
            ).astype({"src": "int64", "dst": "int64", "cosine": "float64", "rnk": "int32"})
        nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
        S = (V @ V.T).astype(np.float64) / nrm[:, None] / nrm[None, :]
        np.fill_diagonal(S, -np.inf)
        # rank by (-cosine, dst id): lexsort is stable, so sorting ids
        # under a primary -cosine key reproduces the window tie order
        order = np.lexsort((np.broadcast_to(ids, S.shape), -S), axis=1)[:, : min(k, n - 1)]
        rows = np.repeat(np.arange(n), order.shape[1])
        cols = order.ravel()
        return pd.DataFrame(
            {
                "src": ids[rows],
                "dst": ids[cols],
                "cosine": S[rows, cols],
                "rnk": np.tile(np.arange(1, order.shape[1] + 1, dtype=np.int32), n),
            }
        )

    # the reciprocity self-join consumes the edge list TWICE (forward +
    # reversed); without a materialization Spark re-runs the Arrow
    # matmul kernel for the second side (two FlatMapGroupsInPandas
    # subtrees in the plan). The edge list is bounded at k rows per
    # vector, so one eager checkpoint feeds both sides (r12, guide
    # §1.2) — Python pass count 2 -> 1.
    topk = emb.groupBy("bucket").applyInPandas(
        _topk_group, "src long, dst long, cosine double, rnk int"
    ).localCheckpoint(eager=True)
    back = topk.select(
        F.col("src").alias("b_src"), F.col("dst").alias("b_dst"),
        F.col("rnk").alias("rank_ba"),
    )
    return (
        topk.join(
            back,
            (F.col("src") == F.col("b_dst")) & (F.col("dst") == F.col("b_src")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            "cosine",
            F.col("rnk").alias("rank_ab"),
            "rank_ba",
        )
    )


# ---------------------------------------------------------------------------
# LSH capacity planning: predicted verify cost per plane count
# ---------------------------------------------------------------------------

_CAP_MAX_PLANES = 8
_CAP_PLANE_CHOICES = (2, 4, 6, 8)


def _capacity_oracle() -> str:
    from watsondedupe_spark.queries.engine_native import _lsh_bucket_sql

    return f"""
WITH b AS (
    SELECT {_lsh_bucket_sql('embedding', n_planes=_CAP_MAX_PLANES)} AS bucket8
    FROM embeddings
),
fanned AS (
    SELECT p.n_planes, b.bucket8 % CAST(pow(2, p.n_planes) AS BIGINT) AS bucket
    FROM b CROSS JOIN (SELECT unnest(ARRAY{list(_CAP_PLANE_CHOICES)}) AS n_planes) p
),
hist AS (
    SELECT n_planes, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM fanned GROUP BY 1, 2
)
SELECT CAST(n_planes AS INT) AS n_planes,
       CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS predicted_pairs
FROM hist GROUP BY n_planes
"""


@register(
    "emb_lsh_capacity_plan",
    _capacity_oracle(),
    doc="LSH capacity planning: for each candidate plane count, the "
    "bucket histogram and the EXACT verify cost it implies (sum of "
    "C(n_b, 2) over buckets) — the planning table behind the adaptive "
    "plane rule that keeps the reciprocal-kNN verify linear (the 30x "
    "scale gate caught the fixed-plane quadratic; this query is how "
    "you pick the plane count BEFORE paying for the wrong one). One "
    "corpus pass computes the 8-plane bucket; every coarser bucketing "
    "is its low-bit mask (plane j's sign does not depend on plane "
    "count), so the 4-way sweep is a 4x fan-out of 16-byte rows, not "
    "4 corpus scans. Max-bucket is reported beside the sum because "
    "the worst GROUP, not the average, is what breaks an executor.",
)
def emb_lsh_capacity_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import sign_lsh_bucket

    b8 = _emb(spark, sf_dir).select(
        sign_lsh_bucket(F.col("embedding"), n_planes=_CAP_MAX_PLANES).alias("bucket8")
    )
    choices = spark.createDataFrame(
        [(p,) for p in _CAP_PLANE_CHOICES], "n_planes long"
    )
    fanned = b8.crossJoin(F.broadcast(choices)).select(
        "n_planes",
        F.pmod(
            F.col("bucket8"), F.pow(F.lit(2.0), F.col("n_planes")).cast("long")
        ).alias("bucket"),
    )
    hist = fanned.groupBy("n_planes", "bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    return hist.groupBy("n_planes").agg(
        F.count("*").cast("long").alias("n_buckets_used"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("long"))
        .cast("long")
        .alias("predicted_pairs"),
    ).select(
        F.col("n_planes").cast("int").alias("n_planes"),
        "n_buckets_used",
        "max_bucket",
        "predicted_pairs",
    )
