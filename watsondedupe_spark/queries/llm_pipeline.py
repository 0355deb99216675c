"""LLM-training-pipeline operators over ``documents`` / ``embeddings``.

Engine-side additions (BASELINE.json north star): exact + near
deduplication, text analysis, document fingerprinting, and similarity
search — each oracle-checked against DuckDB. Portability rules used
throughout:

- hashes: ``md5`` (lowercase hex in both engines) — minhash values are
  *lexicographic minima of md5 hex strings*, a uniform permutation
  surrogate that needs no 64-bit integer parity;
- vector math: embeddings are quantized ``floor(x*1000 + 0.5)`` to
  BIGINT so dot products and norms are exact integer sums
  (order-independent), and the final cosine is a fixed sequence of IEEE
  double ops — identical bits on both engines;
- regex: Spark's ``regexp_replace`` is global by default, DuckDB needs
  the ``'g'`` flag.

The scalable forms (MinHash-LSH banding instead of all-pairs, stop-
shingle frequency cutoff) are used even though sf0.01 would tolerate
brute force — the same plans run at 100 TB with band buckets as the
shuffle key.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from watsondedupe_spark.queries import register
from watsondedupe_spark.substrates import substrate

# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with scan parallelism >= the session's cores.

    A small corpus arriving as one parquet file scans as ONE partition,
    which serializes every narrow transform before the first shuffle —
    explode-heavy work (shingling, fingerprinting) then runs on a single
    core no matter how many are free. A cheap round-robin repartition of
    the raw rows (a few MB) unlocks the full width; at 100 TB the scan
    has thousands of partitions naturally and this is a no-op.
    """
    df = _docs(spark, sf_dir)
    want = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        df = df.repartition(want)
    return df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


#: distinct word-3-gram shingles per doc (docs with >= 3 tokens)
_SHINGLES_SQL = """
tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM tok
)
"""


def shingles_df(spark: SparkSession, sf_dir: str, distinct: bool = True) -> DataFrame:
    # Shape notes (measured):
    # - tokens MUST be materialized as a projected column before the
    #   n-gram transform — an inline F.split shared across F.get calls
    #   is re-evaluated per array element inside the higher-order
    #   lambda (no CSE there), re-splitting each text ~3x per shingle;
    # - explode + distinct() (map-side partial dedup, one shuffle)
    #   beats shuffle-free explode(array_distinct(...)) ~4x —
    #   ArrayDistinct over string arrays evaluates interpreted and
    #   quadratic per row, outside codegen;
    # - consumers whose aggregate is duplicate-insensitive (MIN for
    #   minhash) pass distinct=False and skip that shuffle entirely.
    toks = F.split("text", " ")
    out = (
        _docs_parallel(spark, sf_dir)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(
                        " ", F.get("t", i), F.get("t", i + 1), F.get("t", i + 2)
                    ),
                )
            ).alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


_N_HASHES = 6
_SEEDS = [f"s{j}:" for j in range(1, _N_HASHES + 1)]

_SIG_SQL = (
    "sig AS (\n    SELECT doc_id,\n"
    + ",\n".join(
        f"           MIN(md5('{seed}' || shingle)) AS m{j+1}" for j, seed in enumerate(_SEEDS)
    )
    + ",\n           md5(MIN(md5('s1:' || shingle)) || MIN(md5('s2:' || shingle)) || MIN(md5('s3:' || shingle))) AS b1"
    + ",\n           md5(MIN(md5('s4:' || shingle)) || MIN(md5('s5:' || shingle)) || MIN(md5('s6:' || shingle))) AS b2"
    + "\n    FROM sh GROUP BY doc_id\n)"
)


def minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (k=6) + two LSH band keys per document.

    Shape note: explode + groupBy(doc_id) with six MIN aggregates beats
    the tempting zero-shuffle row-local form (six array_min(transform)
    columns over the shingle array) by ~4x here — six inline copies of
    the shingle-array expression blow up the generated code and fall out
    of whole-stage codegen, while the exploded form hashes each shingle
    row-wise in codegen and map-side-combines before its single shuffle.
    (MIN is insensitive to duplicate shingles, so the distinct-free
    shingle stream is correct input and one whole shuffle cheaper.)

    The result is CACHED per (session, sf_dir): five queries in the
    near-dup suite consume the same signatures, and at scale a corpus
    build materializes signatures once (a ~100-byte row per document —
    orders of magnitude under the corpus) and amortizes them across
    every downstream dedup/verify pass. Exchange reuse already shares
    the aggregation WITHIN a query; the cache shares it ACROSS queries.
    """
    return substrate(spark, sf_dir, "minhash_sig", lambda: _build_minhash_sig(spark, sf_dir))


def _build_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir, distinct=False)
    aggs = [
        F.min(F.md5(F.concat(F.lit(seed), F.col("shingle")))).alias(f"m{j+1}")
        for j, seed in enumerate(_SEEDS)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "*",
        F.md5(F.concat("m1", "m2", "m3")).alias("b1"),
        F.md5(F.concat("m4", "m5", "m6")).alias("b2"),
    ).cache()


# ---------------------------------------------------------------------------
# exact + normalized dedup
# ---------------------------------------------------------------------------


@register(
    "docs_exact_dedup",
    """
SELECT md5(text) AS content_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS representative
FROM documents GROUP BY md5(text)
""",
    doc="exact dedup: content-hash groupBy; representative = min doc_id "
    "(the O3 content-address idea applied to whole documents)",
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("representative"),
        )
    )


@register(
    "docs_norm_dedup",
    """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS representative
FROM documents GROUP BY 1
""",
    doc="normalized dedup: lowercase, strip punctuation, collapse spaces, then hash",
)
def docs_norm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " ")
    )
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(norm).alias("norm_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("representative"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup candidates + exact n-gram Jaccard
# ---------------------------------------------------------------------------

_EST_SQL = (
    "CAST(("
    + " + ".join(f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(1, _N_HASHES + 1))
    + ") AS DOUBLE) / 6.0"
)


@register(
    "docs_minhash_pairs",
    f"""
WITH {_SHINGLES_SQL.strip()},
{_SIG_SQL}
SELECT DISTINCT doc_a, doc_b, est_sim FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_EST_SQL} AS est_sim
    FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    UNION ALL
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_EST_SQL} AS est_sim
    FROM sig a JOIN sig b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
)
""",
    doc="MinHash-LSH near-dup candidates: shingle -> 6 minhashes -> 2 bands "
    "-> band structs exploded into (bk, bv) rows and ONE composite-key "
    "self-join (the 100 TB path: one shuffle keyed on the band value, "
    "never all-pairs, signatures aggregated once); est_sim = matching "
    "minhash fraction",
)
def docs_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_sig_df(spark, sf_dir)
    ms = [f"m{j}" for j in range(1, _N_HASHES + 1)]
    banded = sig.select(
        "doc_id",
        *ms,
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("bk"), F.col("b1").alias("bv")),
                F.struct(F.lit(2).alias("bk"), F.col("b2").alias("bv")),
            )
        ).alias("b"),
    ).select("doc_id", *ms, F.col("b.bk").alias("bk"), F.col("b.bv").alias("bv"))
    a, b = banded.alias("a"), banded.alias("b")
    est = (
        sum(
            F.when(F.col(f"a.m{j}") == F.col(f"b.m{j}"), 1).otherwise(0)
            for j in range(1, _N_HASHES + 1)
        ).cast("double")
        / 6.0
    ).alias("est_sim")
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), est)
        .distinct()
    )


_STOP_SHINGLE_MAX = 50  # drop shingles shared by > this many docs (skew guard)


@register(
    "docs_jaccard_pairs",
    f"""
WITH {_SHINGLES_SQL.strip()},
rare AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_STOP_SHINGLE_MAX}
),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shr x JOIN shr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_common,
       CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.4
""",
    doc="exact 3-gram Jaccard near-dup pairs; stop-shingle cutoff "
    f"(freq > {_STOP_SHINGLE_MAX}) bounds the self-join fan-out — the "
    "skew guard that keeps this plan alive at scale",
)
def docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    jac = F.col("n_common").cast("double") / F.col("un")
    return (
        jaccard_pair_stats_df(spark, sf_dir)
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


_CONTAIN_T = "0.8"


@register(
    "docs_shingle_containment",
    f"""
WITH {_SHINGLES_SQL.strip()},
rare AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_STOP_SHINGLE_MAX}
),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shr x JOIN shr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_common,
       CAST(i.n_common AS DOUBLE) / sa.sz AS c_ab,
       CAST(i.n_common AS DOUBLE) / sb.sz AS c_ba
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE GREATEST(CAST(i.n_common AS DOUBLE) / sa.sz,
               CAST(i.n_common AS DOUBLE) / sb.sz) >= {_CONTAIN_T}
""",
    doc="asymmetric shingle containment (Broder): c(A->B) = |A n B|/|A| "
    "over rare 3-grams — catches SUBSET duplicates (a doc quoted or "
    "embedded inside a longer one) whose symmetric Jaccard stays low "
    "because the union is dominated by the longer side. Same "
    "inverted-index substrate as docs_jaccard_pairs (one shared cached "
    "pair table, no extra shingle shuffle); emits both directions so "
    "the curation layer can keep the superset doc and drop the "
    "contained one",
)
def docs_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = jaccard_pair_stats_df(spark, sf_dir)
    c_ab = (F.col("n_common").cast("double") / F.col("sz_a")).alias("c_ab")
    c_ba = (F.col("n_common").cast("double") / F.col("sz_b")).alias("c_ba")
    return (
        st.select("doc_a", "doc_b", "n_common", c_ab, c_ba)
        .filter(F.greatest(F.col("c_ab"), F.col("c_ba")) >= float(_CONTAIN_T))
    )


def jaccard_pair_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram co-occurrence stats per candidate doc pair:
    ``(doc_a, doc_b, n_common, un, sz_a, sz_b)`` with ``un`` the union
    size and ``sz_a``/``sz_b`` the per-side rare-shingle counts — the
    shared substrate of every exact-Jaccard consumer (the >=0.4 pair
    query, the containment query, the threshold sweep, ad-hoc audits).

    Inverted-index formulation: one groupBy(shingle) produces the
    posting list per shingle; the stop-shingle cutoff (<= 50 docs)
    bounds each list so in-bucket pair expansion is row-local array
    math (<= C(50,2) pairs), never a self-join of the posting table.
    Three shuffles total: shingle, doc_id (sizes), (doc_a, doc_b) —
    collect_set fuses the per-doc shingle dedup into the posting-list
    aggregate, so the raw shingle stream never pays its own distinct()
    shuffle (duplicates only occur within one doc, which set-collection
    removes identically).

    CACHED per (session, sf_dir), like ``minhash_sig_df``: the pair
    table is tiny (bounded by the candidate count), and at scale a
    corpus build materializes it once and reads it from every
    threshold/tuning/verify pass instead of re-shuffling the shingle
    stream per consumer.
    """
    return substrate(spark, sf_dir, "jaccard_pairs", lambda: _build_pair_stats(spark, sf_dir))


def _build_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir, distinct=False)
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") <= _STOP_SHINGLE_MAX)
    )
    # per-doc count of *rare* shingles (matches the oracle's `sizes` CTE)
    sizes = (
        buckets.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    # ds is sorted ascending, so nested index expansion yields a < b
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("ds") - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ds") - 1),
                lambda j: F.struct(F.get("ds", i).alias("a"), F.get("ds", j).alias("b")),
            ),
        )
    )
    inter = (
        buckets.filter(F.size("ds") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    # shuffle-hash with the SIZES side as build: Catalyst's static
    # estimate makes the post-agg pair table look tiny and broadcasts
    # IT (BuildLeft) — at the 100x scale tier that hashed relation
    # crossed Spark's 8 GiB broadcast cap and killed the plan. The
    # sizes table grows linearly with docs, the pair table super-
    # linearly; neither should ever broadcast at corpus scale.
    sa = sizes.alias("sa").hint("shuffle_hash")
    sb = sizes.alias("sb").hint("shuffle_hash")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")).alias("un"),
            F.col("sa.sz").alias("sz_a"),
            F.col("sb.sz").alias("sz_b"),
        )
        .cache()
    )


# ---------------------------------------------------------------------------
# text analysis: token counts, quality, language-id, fingerprint
# ---------------------------------------------------------------------------


@register(
    "docs_token_count",
    """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents
""",
    doc="token counting: whitespace split, alpha/numeric regex tokens, "
    "chars/4 BPE estimate",
)
def docs_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).cast("long").alias("n_alpha_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).cast("long").alias("n_num_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_bpe_tokens"),
    )


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@register(
    "docs_quality",
    f"""
SELECT doc_id, n_chars, n_tokens, punct_ratio, stop_ratio, avg_token_len,
       least(1.0, n_tokens / 50.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio) AS quality_score
FROM (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
)
""",
    doc="quality scoring: length/punctuation/stopword ratios -> composite "
    "score (integer counts, deterministic double arithmetic)",
)
def docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))).cast(
                "double"
            )
            / F.length("text")
        ).alias("punct_ratio"),
        (
            F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double") / F.size(toks)
        ).alias("stop_ratio"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / F.size(toks)).alias(
            "avg_token_len"
        ),
    )
    return base.select(
        "*",
        (
            F.least(F.lit(1.0), F.col("n_tokens") / 50.0)
            * (1.0 - F.col("punct_ratio"))
            * (0.5 + F.col("stop_ratio"))
        ).alias("quality_score"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
}


def _marker_sql(lang: str) -> str:
    lst = "(" + ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + ")"
    return f"CAST(len(list_filter(string_split(text, ' '), x -> x IN {lst})) AS BIGINT)"


@register(
    "docs_langid",
    f"""
SELECT doc_id, s_en, s_es, s_de,
       CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
            WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang
FROM (
    SELECT doc_id,
           {_marker_sql('en')} AS s_en,
           {_marker_sql('es')} AS s_es,
           {_marker_sql('de')} AS s_de
    FROM documents
)
""",
    doc="language-ID heuristic: marker-token voting with a deterministic "
    "argmax ladder",
)
def docs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")

    def score(lang):
        return F.size(F.filter(toks, lambda x: x.isin(*_LANG_MARKERS[lang]))).cast("long")

    base = _docs(spark, sf_dir).select(
        "doc_id", score("en").alias("s_en"), score("es").alias("s_es"), score("de").alias("s_de")
    )
    return base.select(
        "*",
        F.when((F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de")), "en")
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de")
        .alias("pred_lang"),
    )


_FP_K = 8  # k-gram length (chars)
_FP_W = 4  # winnowing window (positions)


@register(
    "docs_fingerprint",
    f"""
WITH kg AS (
    SELECT doc_id,
           g.i AS pos,
           md5(substr(text, CAST(g.i AS INTEGER), {_FP_K})) AS h,
           length(text) AS n
    FROM documents
    JOIN (SELECT unnest(generate_series(1, 1024)) AS i) g
      ON g.i <= length(text) - {_FP_K} + 1
),
wmin AS (
    SELECT doc_id, pos, n,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_FP_W - 1} FOLLOWING) AS fp
    FROM kg
)
SELECT doc_id,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM wmin
WHERE pos <= n - {_FP_K} + 1 - {_FP_W - 1}
GROUP BY doc_id
""",
    doc=f"document fingerprinting: winnowing over {_FP_K}-char k-gram md5 "
    f"hashes, window {_FP_W} (rolling-hash fingerprint family)",
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    kg = (
        _docs_parallel(spark, sf_dir)
        .select(
            "doc_id",
            F.length("text").alias("n"),
            F.explode(F.sequence(F.lit(1), F.length("text") - _FP_K + 1)).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            "n",
            "pos",
            F.md5(F.expr(f"substr(text, pos, {_FP_K})")).alias("h"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _FP_W - 1)
    return (
        kg.select("doc_id", "n", "pos", F.min("h").over(w).alias("fp"))
        .filter(F.col("pos") <= F.col("n") - _FP_K + 1 - (_FP_W - 1))
        .groupBy("doc_id")
        .agg(
            F.count_distinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_KNN_QUERIES = (0, 1, 2)
_QUANT = "CAST(floor(CAST({x} AS DOUBLE) * 1000 + 0.5) AS BIGINT)"


def _quant_vec():
    """Embedding quantized to exact integers, row-local."""
    return F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("long")
    )


_KNN_ORACLE_SQL = f"""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
ce AS (
    SELECT e.vec_id, d.i,
           {_QUANT.format(x='list_extract(e.embedding, CAST(d.i AS INTEGER))')} AS v
    FROM embeddings e CROSS JOIN dims d
),
norms AS (SELECT vec_id, SUM(v*v) AS nrm FROM ce GROUP BY vec_id),
qe AS (SELECT vec_id AS qid, i, v FROM ce WHERE vec_id IN {tuple(_KNN_QUERIES)}),
dots AS (
    SELECT q.qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
    FROM qe q JOIN ce c ON q.i = c.i AND c.vec_id != q.qid
    GROUP BY q.qid, c.vec_id
),
sims AS (
    SELECT d.qid, d.cid,
           CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE)) / sqrt(CAST(nc.nrm AS DOUBLE)) AS cosine
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.qid
    JOIN norms nc ON nc.vec_id = d.cid
)
SELECT qid AS query_id, cid AS neighbor_id, cosine,
       CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk FROM sims)
WHERE rnk <= 10
"""


@register(
    "emb_knn_cosine",
    _KNN_ORACLE_SQL,
    doc="brute-force cosine top-k ANN baseline; embeddings quantized to "
    "integers so dot/norm sums are exact and order-independent — the "
    "portability trick that makes float similarity oracle-checkable",
)
def emb_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-local formulation: the (tiny) query set broadcasts as whole
    # quantized vectors; each candidate row computes dot and norms with
    # zip_with/aggregate inside codegen. No explode, no wide shuffle over
    # dimension rows. Top-k is two-phase (salted partial rank, then final
    # rank over <= 32*10 rows per query) so one hot query key can never
    # pin the sort to a single task at scale.
    emb = _emb(spark, sf_dir).select("vec_id", _quant_vec().alias("v"))
    nrm = F.aggregate(
        F.zip_with("v", "v", lambda a, b: a * b), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    cand = emb.select("vec_id", "v", nrm.alias("nrm"))
    q = cand.filter(F.col("vec_id").isin(*_KNN_QUERIES)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0).cast("long"), lambda acc, x: acc + x
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
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


_N_PLANES = 8


def _plane_sign(j: int, i: int) -> int:
    """Deterministic ±1 hyperplane component from md5 — same literal table
    is injected into both engines, so no RNG parity is needed."""
    h = hashlib.md5(f"p{j}:{i}".encode()).hexdigest()
    return 1 if h[0] in "01234567" else -1


_PLANES = [(j, i, _plane_sign(j, i)) for j in range(1, _N_PLANES + 1) for i in range(1, 65)]
_PLANES_SQL = "planes(j, i, s) AS (VALUES " + ", ".join(
    f"({j}, {i}, {s})" for j, i, s in _PLANES
) + ")"


@register(
    "emb_ann_buckets",
    f"""
WITH {_PLANES_SQL},
ce AS (
    SELECT e.vec_id, d.i,
           {_QUANT.format(x='list_extract(e.embedding, CAST(d.i AS INTEGER))')} AS v
    FROM embeddings e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
),
proj AS (
    SELECT c.vec_id, p.j, SUM(p.s * c.v) AS dot
    FROM ce c JOIN planes p ON p.i = c.i
    GROUP BY c.vec_id, p.j
)
SELECT vec_id,
       CAST(SUM(CASE WHEN dot >= 0 THEN CAST(pow(2, j-1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
FROM proj GROUP BY vec_id
""",
    doc="LSH-bucketed ANN (scale path): 8 deterministic random-hyperplane "
    "sign bits -> 256 buckets; candidate search joins within a bucket "
    "instead of all-pairs",
)
def emb_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The hyperplane table is a compile-time constant, so each sign bit
    # is a row-local dot product over array literals (zip_with +
    # aggregate): one scan, zero shuffles, zero joins — the oracle keeps
    # the relational explode/join formulation, which Spark would spend
    # two shuffles on.
    plane_arrs = [
        F.array(*[F.lit(s) for (jj, _i, s) in _PLANES if jj == j])
        for j in range(1, _N_PLANES + 1)
    ]
    dots = [
        F.aggregate(
            F.zip_with("qv", plane_arrs[j - 1], lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"dot{j}")
        for j in range(1, _N_PLANES + 1)
    ]
    proj = _emb(spark, sf_dir).select("vec_id", _quant_vec().alias("qv")).select("vec_id", *dots)
    bucket = sum(
        F.when(F.col(f"dot{j}") >= 0, F.lit(1 << (j - 1)).cast("long")).otherwise(F.lit(0))
        for j in range(1, _N_PLANES + 1)
    )
    return proj.select("vec_id", bucket.cast("long").alias("bucket"))


@register(
    "docs_pipeline_filter",
    f"""
WITH scored AS (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
    FROM documents
),
keep AS (
    SELECT doc_id, text FROM scored
    WHERE n_tokens >= 10 AND punct_ratio <= 0.2 AND stop_ratio >= 0.05
),
dedup AS (
    SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM keep GROUP BY md5(text)
)
SELECT doc_id FROM dedup
""",
    doc="composite training-data filter: quality gates (length, punctuation, "
    "stopword ratios) then exact dedup keeping min doc_id — the filters all "
    "evaluate in one scan before the single dedup shuffle",
)
def docs_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
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
    keep = scored.filter(
        (F.col("n_tokens") >= 10) & (F.col("punct_ratio") <= 0.2) & (F.col("stop_ratio") >= 0.05)
    )
    return (
        keep.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").cast("long").alias("doc_id"))
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# repetition & cross-source contamination metrics
# ---------------------------------------------------------------------------


@register(
    "docs_repetition_ratio",
    """
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 5
),
g AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-4),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))
             AS gram
    FROM tok
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
       CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) AS uniq_ratio
FROM g GROUP BY doc_id
""",
    doc="within-doc repetition metric (Gopher-style quality signal): "
    "fraction of word-5-grams that are distinct; a low ratio flags "
    "boilerplate/looped text. One scan, one shuffle on doc_id; the "
    "distinct-count is per-group exact (ratio of exact ints -> IEEE "
    "double, identical both engines)",
)
def docs_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    grams = (
        _docs_parallel(spark, sf_dir)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 5),
                    lambda i: F.concat_ws(
                        " ",
                        F.get("t", i),
                        F.get("t", i + 1),
                        F.get("t", i + 2),
                        F.get("t", i + 3),
                        F.get("t", i + 4),
                    ),
                )
            ).alias("gram"),
        )
    )
    return grams.groupBy("doc_id").agg(
        F.count("*").alias("total_grams"),
        F.count_distinct("gram").alias("distinct_grams"),
        (F.count_distinct("gram").cast("double") / F.count("*")).alias("uniq_ratio"),
    )


@register(
    "docs_cross_source_overlap",
    f"""
WITH {_SHINGLES_SQL},
src AS (
    SELECT DISTINCT d.source, s.shingle
    FROM sh s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS shared_shingles
FROM src a JOIN src b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY a.source, b.source
""",
    doc="cross-source contamination check (train/test-overlap shape): "
    "distinct word-3-gram shingles per source, self-joined on shingle to "
    "count shared shingles per source pair. The inverted-index join runs "
    "on the pre-deduped (source, shingle) set — the shuffle key is the "
    "shingle, so at 100 TB this scales with corpus vocabulary, never "
    "all-pairs of documents; at real scale use 13-grams so collisions "
    "imply contamination rather than chance",
)
def docs_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        shingles_df(spark, sf_dir)
        .join(F.broadcast(_docs(spark, sf_dir).select("doc_id", "source")), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    a = src.alias("a")
    b = src.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("shared_shingles"))
    )


@register(
    "docs_dup_clusters",
    f"""
WITH RECURSIVE
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM documents
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM sym s JOIN reach r ON r.v = s.v
)
SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY v
""",
    doc="near-dup clustering: connected components over the MinHash-LSH "
    "candidate graph by iterative min-label propagation (one join + one "
    "aggregate per round, lineage truncated per round, O(diameter) "
    "rounds) — the keep-one-per-cluster map a training pipeline "
    "deduplicates with. Oracle: DuckDB recursive CTE transitive closure "
    "— an iterative DataFrame algorithm that still hash-matches SQL",
)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import connected_components

    pairs = docs_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    cc = connected_components(
        pairs, nodes, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


@register(
    "docs_dup_weighting",
    f"""
WITH RECURSIVE
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM documents
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM sym s JOIN reach r ON r.v = s.v
),
clusters AS (
    SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY v
),
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM clusters GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       CAST(1.0 AS DOUBLE) / CAST(s.cluster_size AS DOUBLE) AS train_weight
FROM clusters c JOIN sizes s USING (cluster_id)
""",
    doc="duplication-aware loss weighting — the keep-but-downweight "
    "alternative to dropping near-dups: every doc gets training weight "
    "1/cluster_size from its near-dup connected component, so each "
    "duplicated CONTENT contributes one unit of expected loss mass "
    "regardless of copy count (singletons keep weight 1.0). One "
    "division from an exact integer — engine-identical doubles. At "
    "100 TB: cluster sizes are a partial-agg over the (doc, cluster) "
    "table and join back on cluster_id — two keyed shuffles past the "
    "CC computation the dedup suite already shares.",
)
def docs_dup_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = docs_dup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return clusters.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size").cast("double")).alias("train_weight"),
    )


#: train fraction 7/8 as an exact md5-gate threshold (8 hex digits)
_SPLIT_TRAIN_HEX = format(int((7 / 8) * 4294967296), "08x")


@register(
    "docs_canonical_per_cluster",
    f"""
WITH RECURSIVE
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM documents
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM sym s JOIN reach r ON r.v = s.v
),
clusters AS (
    SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY v
),
scored AS (
    SELECT doc_id,
           least(1.0, len(string_split(text, ' ')) / 50.0)
             * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             * (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS DOUBLE)
                      / len(string_split(text, ' '))) AS quality_score
    FROM documents
)
SELECT cluster_id, canonical_doc, n_members, best_quality
FROM (
    SELECT c.cluster_id,
           s.doc_id AS canonical_doc,
           s.quality_score AS best_quality,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                              ORDER BY s.quality_score DESC, s.doc_id) AS rn
    FROM clusters c JOIN scored s ON s.doc_id = c.doc_id
)
WHERE rn = 1
""",
    doc="quality-aware canonical selection — the survivor-choice step "
    "that closes the dedup loop (detect -> cluster -> CHOOSE): each "
    "near-dup cluster keeps its highest-quality member (composite "
    "length/punct/stopword score, doc_id tiebreak) instead of the "
    "naive lowest-id. One groupBy with max_by over a (score, -id) "
    "struct — map-side partial argmax, a single shuffle on cluster_id, "
    "no window sort of the corpus",
)
def docs_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = docs_dup_clusters(spark, sf_dir)
    sc = docs_quality(spark, sf_dir).select("doc_id", "quality_score")
    tie = F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("nd"))
    return (
        cc.join(sc, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by("doc_id", tie).alias("canonical_doc"),
            F.count("*").cast("long").alias("n_members"),
            F.max_by("quality_score", tie).alias("best_quality"),
        )
        .select("cluster_id", "canonical_doc", "n_members", "best_quality")
    )


@register(
    "docs_leakage_safe_split",
    f"""
WITH RECURSIVE
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM documents
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM sym s JOIN reach r ON r.v = s.v
),
clusters AS (
    SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY v
)
SELECT doc_id, cluster_id,
       CASE WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8)
                 < '{_SPLIT_TRAIN_HEX}'
            THEN 'train' ELSE 'eval' END AS split
FROM clusters
""",
    doc="leakage-safe train/eval split: the assignment unit is the "
    "near-dup CLUSTER (connected components over the MinHash-LSH "
    "candidate graph), not the document — an md5 gate on the cluster "
    "label routes ~7/8 of clusters to train, so two near-duplicate "
    "documents can never straddle the split and leak eval content into "
    "training. Per-doc hashing (the naive split) fails exactly this "
    "invariant; the cluster map costs nothing extra because the dedup "
    "pipeline already maintains it. Gate and labels are md5-derived, so "
    "the split is deterministic across runs, engines, and partitionings",
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = docs_dup_clusters(spark, sf_dir)
    gate = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))), 1, 8
    )
    return cc.select(
        "doc_id",
        "cluster_id",
        F.when(gate < F.lit(_SPLIT_TRAIN_HEX), "train").otherwise("eval").alias("split"),
    )


@register(
    "docs_top_ngrams",
    """
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 3
),
g AS (
    SELECT unnest(list_transform(generate_series(1, len(t)-2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
    FROM tok
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
FROM g GROUP BY gram
ORDER BY n DESC, gram
LIMIT 20
""",
    doc="corpus-level n-gram frequency (LM-style counts): all word-3-gram "
    "occurrences, global top-20 — map-side partial counts into one "
    "shuffle, then TakeOrdered; at 100 TB this is the canonical "
    "high-cardinality count where partial aggregation does all the work",
)
def docs_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    grams = (
        _docs_parallel(spark, sf_dir)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(
                        " ", F.get("t", i), F.get("t", i + 1), F.get("t", i + 2)
                    ),
                )
            ).alias("gram")
        )
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(20)
    )


_PACK_CAP = 256


@register(
    "docs_pack_sequences",
    f"""
WITH t AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
    FROM t
)
SELECT doc_id, n_tokens, "offset",
       CAST(floor("offset" / {_PACK_CAP}) AS BIGINT) AS first_seq,
       CAST(floor(("offset" + n_tokens - 1) / {_PACK_CAP}) AS BIGINT) AS last_seq
FROM c
""",
    doc=f"sequence packing (concat-and-chop into {_PACK_CAP}-token training "
    "sequences): every document's offset in the virtual token stream via "
    "a two-phase distributed prefix sum (range partition -> local cumsum "
    "-> per-partition base offsets broadcast back) — never the "
    "single-task global window the oracle can afford at sf0.01",
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.text import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), _PACK_CAP)


# ---------------------------------------------------------------------------
# incremental near-dedup: a small new batch against the standing corpus
# ---------------------------------------------------------------------------

#: deterministic ~10% slice of doc ids plays the "new arrivals" batch
_INCR_MOD = 10
_INCR_REM = 7

_INCR_EST_SQL = (
    "CAST(("
    + " + ".join(f"CASE WHEN n.m{j} = c.m{j} THEN 1 ELSE 0 END" for j in range(1, _N_HASHES + 1))
    + ") AS DOUBLE) / 6.0"
)


@register(
    "docs_incremental_dedup",
    f"""
WITH {_SHINGLES_SQL.strip()},
{_SIG_SQL},
new_sig AS (SELECT * FROM sig WHERE doc_id % {_INCR_MOD} = {_INCR_REM}),
corp_sig AS (SELECT * FROM sig WHERE doc_id % {_INCR_MOD} <> {_INCR_REM}),
cand AS (
    SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc, {_INCR_EST_SQL} AS est_sim
    FROM corp_sig c JOIN new_sig n ON c.b1 = n.b1
    UNION
    SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc, {_INCR_EST_SQL} AS est_sim
    FROM corp_sig c JOIN new_sig n ON c.b2 = n.b2
)
SELECT new_doc, corpus_doc, est_sim FROM cand WHERE est_sim >= 0.5
""",
    doc="incremental near-dedup (the daily-increment pipeline shape): a "
    "deterministic ~10% doc slice plays the newly-arrived batch; its "
    "MinHash band keys BROADCAST to every executor and the standing "
    "corpus's signature stream probes them in place — the corpus is "
    "never shuffled on band keys and never self-joined, so the join cost "
    "scales with the increment, not the corpus. (At production scale the "
    "corpus signatures are a maintained table — the streaming module's "
    "near_dup_filter_stream keeps exactly that — so the one corpus pass "
    "here is the signature backfill, not a per-increment cost.) Matches "
    "with >= 3 of 6 agreeing minhashes (est_sim >= 0.5) are reported",
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded single-join shape (same as lsh_candidate_pairs /
    # simhash60_candidates): both sides explode their two band keys into
    # (bk, bv) rows and ONE composite-key join replaces two joins +
    # union — the standing corpus streams through exactly once
    sig = minhash_sig_df(spark, sf_dir)
    is_new = F.col("doc_id") % _INCR_MOD == _INCR_REM

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            *[f"m{j}" for j in range(1, _N_HASHES + 1)],
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("bk"), F.col("b1").alias("bv")),
                    F.struct(F.lit(2).alias("bk"), F.col("b2").alias("bv")),
                )
            ).alias("b"),
        ).select(
            "doc_id",
            *[f"m{j}" for j in range(1, _N_HASHES + 1)],
            F.col("b.bk").alias("bk"),
            F.col("b.bv").alias("bv"),
        )

    new_b = banded(sig.filter(is_new)).alias("n")
    corp_b = banded(sig.filter(~is_new)).alias("c")
    est = (
        sum(
            F.when(F.col(f"n.m{j}") == F.col(f"c.m{j}"), 1).otherwise(0)
            for j in range(1, _N_HASHES + 1)
        ).cast("double")
        / 6.0
    ).alias("est_sim")
    return (
        corp_b.join(
            F.broadcast(new_b),
            (F.col("c.bk") == F.col("n.bk")) & (F.col("c.bv") == F.col("n.bv")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
            est,
        )
        .distinct()
        .filter(F.col("est_sim") >= 0.5)
    )


# ---------------------------------------------------------------------------
# streamed near-dup filter: the micro-batch state machine, graded
# ---------------------------------------------------------------------------

# seeds in operators/dedupe.minhash_signatures are s0..s{n-1}; with
# n_hashes=6 / n_bands=2 the bands are md5(m0||m1||m2) and md5(m3||m4||m5)
_STREAM_SIG_SQL = (
    "sig AS (\n    SELECT doc_id,\n"
    + "           md5(MIN(md5('s0:' || shingle)) || MIN(md5('s1:' || shingle)) || MIN(md5('s2:' || shingle))) AS b1,\n"
    + "           md5(MIN(md5('s3:' || shingle)) || MIN(md5('s4:' || shingle)) || MIN(md5('s5:' || shingle))) AS b2\n"
    + "    FROM sh GROUP BY doc_id\n)"
)


@register(
    "docs_near_dup_filter_replay",
    f"""
WITH {_SHINGLES_SQL.strip()},
{_STREAM_SIG_SQL},
bands AS (
    SELECT doc_id, b1 AS bv FROM sig
    UNION ALL
    SELECT doc_id, b2 AS bv FROM sig
),
doomed AS (
    SELECT DISTINCT b.doc_id
    FROM bands b JOIN bands a ON a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT d.doc_id
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM doomed)
""",
    doc="the streaming near-dup filter's micro-batch state machine, "
    "graded end to end: the corpus is replayed through "
    "streaming.near_dup_filter_batch (the exact foreachBatch body of "
    "near_dup_filter_stream — REAL parquet band-store accumulation, "
    "within-batch first-wins, idempotent batch-partitioned writes) in "
    "four monotone doc_id-range batches. Under monotone batching the "
    "sequential semantics collapse to one closed form — a doc is "
    "dropped iff ANY lower-id doc shares an LSH band key — which the "
    "oracle computes relationally, so a state-machine bug (band store "
    "leaking the current batch, within-batch ties broken wrong, a "
    "dropped doc's bands not recorded) hash-mismatches. The "
    "file-source trigger path of the same stream is pinned separately "
    "in test_streaming (batch order off a file source is "
    "mtime-dependent, which no graded row should depend on).",
)
def docs_near_dup_filter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.streaming import near_dup_filter_batch

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    n_batches = 4
    span = (int(hi) - int(lo)) // n_batches + 1
    root = tempfile.mkdtemp(prefix="wds_nd_replay_")
    band_store = f"{root}/bands"
    kept_store = f"{root}/kept"
    try:
        for i in range(n_batches):
            batch = docs.filter(
                (F.col("doc_id") >= int(lo) + i * span)
                & (F.col("doc_id") < int(lo) + (i + 1) * span)
            )
            near_dup_filter_batch(
                batch, i, band_store, kept_store, n_hashes=6, n_bands=2
            )
        kept = (
            spark.read.parquet(kept_store)
            .select(F.col("doc_id").cast("long").alias("doc_id"))
            .localCheckpoint(eager=True)  # pin before the stores vanish
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return kept


# ---------------------------------------------------------------------------
# fixed-point PageRank over the near-dup candidate graph
# ---------------------------------------------------------------------------

_PR_TICK = 1_000_000_000_000  # 1e12 fixed-point ticks
_PR_ROUNDS = 8


def _pagerank_oracle() -> str:
    rounds = []
    for t in range(1, _PR_ROUNDS + 1):
        prev = f"r{t - 1}"
        rounds.append(f"""
r{t} AS (
    SELECT d.u AS v, d.deg,
           {15 * _PR_TICK // 100} + SUM((85 * (p.ticks // p.deg)) // 100)
               AS ticks
    FROM sym s JOIN r{t - 1} p ON p.v = s.v JOIN deg d ON d.u = s.u
    GROUP BY d.u, d.deg
)""")
    return f"""
WITH
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
r0 AS (SELECT u AS v, deg, CAST({_PR_TICK} AS BIGINT) AS ticks FROM deg),
{",".join(rounds)}
SELECT v AS doc_id, CAST(deg AS BIGINT) AS degree,
       CAST(ticks AS BIGINT) AS rank_ticks,
       CAST(ticks AS DOUBLE) / {_PR_TICK} AS pagerank
FROM r{_PR_ROUNDS}
"""


@register(
    "docs_dup_graph_pagerank",
    _pagerank_oracle(),
    doc="fixed-point PageRank over the near-dup candidate graph (8 "
    "damped iterations, d=0.85): the centrality signal that picks the "
    "canonical document of a dup cluster by HOW CONNECTED it is, not "
    "just min-id — the second iterative graph algorithm beside "
    "connected components, and graded exactly: ranks live in integer "
    "1e-12 ticks with floor division at both the share (r/deg) and "
    "damping (85x/100) steps, so every iteration is a BIGINT "
    "join-aggregate that cannot drift between engines (float PageRank "
    "sums contributions in nondeterministic order; fixed-point makes "
    "the reduction order-free). Spark runs the same recurrence as 8 "
    "join+agg rounds with per-round localCheckpoint lineage "
    "truncation (the CC house pattern); the oracle unrolls the 8 "
    "rounds as CTEs. Edges come from the SAME banded LSH candidate "
    "join the clustering queries grade; at 100 TB each round shuffles "
    "the edge list once — O(rounds x |E|), the Pregel cost.",
)
def docs_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = docs_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.selectExpr("doc_a AS u", "doc_b AS v").unionByName(
        pairs.selectExpr("doc_b AS u", "doc_a AS v")
    ).distinct()
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    # r12 optimization (guide §2.4 — remove shuffles outright): the old
    # loop joined `deg` back onto each round's inflow, but `deg` hung
    # off the UN-checkpointed pairs plan, so all 8 rounds re-embedded
    # the whole minhash-LSH candidate subtree (a 431-node physical plan
    # re-running the band self-join per round). Annotating each edge
    # with its RECEIVER's degree once, inside the single head
    # checkpoint, makes every round exactly one join + one aggregate
    # over two bounded-depth inputs: the per-round deg join (and its
    # hash build) disappears, and the final plan is ~8 rounds x 2
    # operators instead of 8 copies of the candidate-generation DAG.
    # Arithmetic, vertex set, and output schema are unchanged
    # (oracle-hash identical): inflow(u) still sums
    # 85*(ticks_v DIV deg_v) DIV 100 over u's edges, and u's own degree
    # now rides the edge rows (F.first over a constant-per-group column
    # — deterministic) instead of a join.
    sym_deg = (
        sym.join(deg, "u")
        .select("u", "v", F.col("deg").alias("u_deg"))
        .localCheckpoint(eager=True)
    )
    # node table derived from the checkpoint, not the pairs plan
    ranks = (
        sym_deg.groupBy("u")
        .agg(F.first("u_deg").alias("deg"))
        .select(
            F.col("u").alias("v"), "deg", F.lit(_PR_TICK).cast("long").alias("ticks")
        )
        .localCheckpoint(eager=True)
    )
    teleport = 15 * _PR_TICK // 100
    for _ in range(_PR_ROUNDS):
        # rank tables are one row per VERTEX — corpus-growing, so the
        # per-round join pins shuffle-hash (round-8 no-corpus-broadcast
        # rule); every side hash-partitions on the vertex key, so
        # rounds share one partitioning
        ranks = (
            sym_deg.join(
                ranks.select(
                    F.col("v").alias("p_v"),
                    F.col("deg").alias("p_deg"),
                    F.col("ticks").alias("p_ticks"),
                ).hint("shuffle_hash"),
                F.col("p_v") == F.col("v"),
            )
            .select(
                "u",
                "u_deg",
                F.expr("(85 * (p_ticks DIV p_deg)) DIV 100").alias("c"),
            )
            .groupBy("u")
            .agg(
                F.sum("c").cast("long").alias("inflow"),
                F.first("u_deg").alias("deg"),
            )
            .select(
                F.col("u").alias("v"),
                "deg",
                (F.lit(teleport).cast("long") + F.col("inflow")).alias("ticks"),
            )
        )
    return ranks.select(
        F.col("v").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.col("ticks").alias("rank_ticks"),
        (F.col("ticks").cast("double") / _PR_TICK).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# cluster-density audit: direct-edge share per dup cluster (chaining risk)
# ---------------------------------------------------------------------------


@register(
    "docs_cluster_density_audit",
    f"""
WITH RECURSIVE
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM documents
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM sym s JOIN reach r ON r.v = s.v
),
cc AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v),
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
    FROM cc GROUP BY cluster_id HAVING COUNT(*) >= 2
),
edges AS (
    SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM pairs p JOIN cc c ON c.doc_id = p.doc_a
    GROUP BY c.cluster_id
)
SELECT s.cluster_id, s.size, COALESCE(e.n_edges, 0) AS n_edges,
       CAST(s.size * (s.size - 1) / 2 AS BIGINT) AS n_possible,
       CAST(COALESCE(e.n_edges, 0) AS DOUBLE)
           / (s.size * (s.size - 1) / 2) AS density,
       CAST(CASE WHEN COALESCE(e.n_edges, 0) < s.size THEN 1 ELSE 0 END AS INT)
           AS is_chain_risk
FROM sizes s LEFT JOIN edges e USING (cluster_id)
""",
    doc="dup-cluster density audit — the chaining-risk diagnostic for "
    "connected-component dedup: CC merges by TRANSITIVITY, so a "
    "cluster can contain pairs that were never direct candidates "
    "(A~B, B~C chains A with C); density = direct-candidate edges / "
    "C(size,2) measures how much of each cluster the evidence "
    "actually covers, and sparse clusters (fewer edges than nodes — "
    "i.e. tree-shaped, the weakest possible connectivity) get the "
    "chain-risk flag a careful pipeline re-verifies before dropping "
    "documents. Edges join to clusters on ONE endpoint (both ends "
    "share a cluster by CC construction — no pair-side shuffle "
    "needed); singleton clusters are excluded (density undefined).",
)
def docs_cluster_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import connected_components

    pairs = docs_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    cc = connected_components(
        pairs, nodes, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    ).select(F.col("node").cast("long").alias("doc_id"), "cluster_id")
    sizes = (
        cc.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("size"))
        .filter(F.col("size") >= 2)
    )
    edges = (
        pairs.join(cc, pairs.doc_a == cc.doc_id)
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    possible = (F.col("size") * (F.col("size") - 1) / 2).cast("long")
    # cluster count grows with the corpus: the per-cluster edge-count
    # table must never broadcast (round-8 no-corpus-broadcast rule)
    return (
        sizes.join(edges.hint("shuffle_hash"), "cluster_id", "left")
        .select(
            "cluster_id",
            "size",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            possible.alias("n_possible"),
            (
                F.coalesce("n_edges", F.lit(0)).cast("double") / possible
            ).alias("density"),
            F.when(F.coalesce("n_edges", F.lit(0)) < F.col("size"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_chain_risk"),
        )
    )


# ---------------------------------------------------------------------------
# cluster repair: exact-Jaccard re-verification + split of flagged clusters
# ---------------------------------------------------------------------------


def _cluster_repair_oracle() -> str:
    return f"""
WITH RECURSIVE
{_SHINGLES_SQL.strip()},
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
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM documents
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM sym s JOIN reach r ON r.v = s.v
),
cc AS (SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY v),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size FROM cc GROUP BY cluster_id),
ecount AS (
    SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM pairs p JOIN cc c ON c.doc_id = p.doc_a
    GROUP BY c.cluster_id
),
flagged AS (
    SELECT s.cluster_id
    FROM sizes s LEFT JOIN ecount e USING (cluster_id)
    WHERE s.size >= 2 AND COALESCE(e.n_edges, 0) < s.size
),
rare AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_STOP_SHINGLE_MAX}
),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
szs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
fedges AS (
    SELECT p.doc_a, p.doc_b
    FROM pairs p
    JOIN cc c ON c.doc_id = p.doc_a
    JOIN flagged f ON f.cluster_id = c.cluster_id
),
inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shr x JOIN shr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
),
verified AS (
    SELECT fe.doc_a, fe.doc_b
    FROM fedges fe
    JOIN inter i ON i.doc_a = fe.doc_a AND i.doc_b = fe.doc_b
    JOIN szs sa ON sa.doc_id = fe.doc_a
    JOIN szs sb ON sb.doc_id = fe.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.4
),
vsym AS (
    SELECT doc_a AS u, doc_b AS v FROM verified
    UNION
    SELECT doc_b AS u, doc_a AS v FROM verified
),
fnodes AS (SELECT c.doc_id FROM cc c JOIN flagged f USING (cluster_id)),
reach2(v, lbl) AS (
    SELECT CAST(doc_id AS BIGINT) AS v, CAST(doc_id AS BIGINT) AS lbl FROM fnodes
    UNION
    SELECT CAST(s.u AS BIGINT) AS v, r.lbl
    FROM vsym s JOIN reach2 r ON r.v = s.v
),
cc2 AS (SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS new_id FROM reach2 GROUP BY v)
SELECT c.doc_id, c.cluster_id,
       CAST(COALESCE(c2.new_id, c.cluster_id) AS BIGINT) AS repaired_cluster_id,
       CAST(CASE WHEN c2.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS was_flagged
FROM cc c LEFT JOIN cc2 c2 USING (doc_id)
"""


@register(
    "docs_cluster_repair",
    _cluster_repair_oracle(),
    doc="cluster repair — the follow-through on the chaining-risk "
    "diagnostic: clusters the density audit flags (fewer direct edges "
    "than nodes — tree-shaped, held together by unverified bridges) "
    "get every candidate edge RE-VERIFIED with exact 3-gram Jaccard "
    "(the shared jaccard_pair_stats substrate, threshold 0.4 — the "
    "same bar docs_jaccard_pairs publishes), and connected components "
    "are recomputed over the surviving edges ONLY within the flagged "
    "clusters — a failed bridge splits its cluster, so transitively "
    "chained non-duplicates stop being dropped together. Dense "
    "clusters keep their labels untouched (their evidence already "
    "covers the membership). Plan: the verify join and the re-CC are "
    "both bounded by flagged-cluster edges/nodes — at 100 TB the "
    "repair costs O(flagged), not O(corpus); the exact-Jaccard table "
    "is the cached pair substrate with its locked build row.",
)
def docs_cluster_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import connected_components

    pairs = docs_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    cc = connected_components(
        pairs, nodes, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    ).select(F.col("node").cast("long").alias("doc_id"), "cluster_id")

    sizes = cc.groupBy("cluster_id").agg(F.count("*").cast("long").alias("size"))
    edge_cl = pairs.join(
        cc.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    )  # both endpoints share a cluster by CC construction
    ecount = edge_cl.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_edges")
    )
    # cluster count grows with the corpus, so BOTH per-cluster rollups
    # and the flagged-cluster id set are corpus-growing relations: none
    # may ride a broadcast (round-8 no-corpus-broadcast rule — the
    # flagged set is a FIXED FRACTION of clusters, not a constant; the
    # round-7 F.broadcast(flagged) here was an unconditional broadcast
    # at every scale, the audit's headline catch this round). All three
    # joins are keyed on cluster_id and pin shuffle-hash.
    flagged = (
        sizes.join(ecount.hint("shuffle_hash"), "cluster_id", "left")
        .filter(
            (F.col("size") >= 2)
            & (F.coalesce("n_edges", F.lit(0)) < F.col("size"))
        )
        .select("cluster_id")
    )

    # exact-Jaccard verification of ONLY the flagged clusters' edges:
    # the join against the cached pair-stats substrate is keyed on the
    # flagged edge set; an edge with no exact-stats row (no rare shared
    # shingle at all) fails verification by construction
    fedges = edge_cl.join(flagged.hint("shuffle_hash"), "cluster_id").select(
        "doc_a", "doc_b"
    )
    stats = jaccard_pair_stats_df(spark, sf_dir).select(
        "doc_a", "doc_b",
        (F.col("n_common").cast("double") / F.col("un")).alias("jaccard"),
    )
    verified = (
        fedges.join(stats, ["doc_a", "doc_b"])
        .filter(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b")
    )

    fnodes = cc.join(flagged.hint("shuffle_hash"), "cluster_id").select("doc_id")
    cc2 = connected_components(
        verified, fnodes, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    ).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("new_id"),
    )
    # cc2 is one row per flagged-cluster member — a corpus FRACTION, so
    # the stitch-back join pins shuffle-hash too
    return cc.join(cc2.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.coalesce("new_id", "cluster_id").cast("long").alias("repaired_cluster_id"),
        F.col("new_id").isNotNull().cast("int").alias("was_flagged"),
    )
