"""Third batch of curation operators — duplicate-SPAN detection, data
mixing, and semantic dedup.

These cover the remaining pieces of a production pretraining-data
pipeline that the earlier batches left out:

- **Exact duplicate-span detection** (the substring-dedup of Lee et al.,
  "Deduplicating Training Data Makes Language Models Better", 2022):
  instead of dropping whole near-duplicate documents, find the exact
  k-token spans that are shared verbatim across >= 2 documents, merged
  into maximal per-document intervals. Downstream, those spans are cut
  out of the training text.
- **Temperature-weighted source mixing** (the sampling step of every
  multi-corpus LM data recipe, e.g. alpha-smoothed sampling in
  multilingual training): per-source keep-rates proportional to
  ``n_s^0.5`` so head sources are downweighted and tail sources kept,
  applied via a deterministic md5 gate.
- **Semantic dedup** (SemDeDup, Abbas et al. 2023): cluster embeddings
  with the deterministic IVF coarse centroids, then drop all but one
  vector from every near-identical group *within* each cluster — the
  pairwise cosine work is confined to cluster-sized buckets, never the
  whole corpus.

Oracle portability follows the house rules (``llm_pipeline`` module
docstring): md5 for gates/fingerprints, integer arithmetic up to a
single final float division, no transcendentals, fixed-order doubles.

Reference parity: none of these exist in WatsonDedupe (SURVEY.md §2.2);
they are engine-side additions for the 100 TB curation use case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from watsondedupe_spark.queries import register
from watsondedupe_spark.queries.llm_pipeline import (
    _EST_SQL,
    _SHINGLES_SQL,
    _SIG_SQL,
    _STOP_SHINGLE_MAX,
    _STOP_SQL,
    _docs,
    _docs_parallel,
    _emb,
    _quant_vec,
)
from watsondedupe_spark.substrates import substrate

# ---------------------------------------------------------------------------
# exact duplicate-span detection (substring dedup)
# ---------------------------------------------------------------------------

#: span unit: verbatim k-token windows (the paper uses 50 BPE tokens; the
#: synthetic corpus' planted duplicates are short, so k=5 words here)
_SPAN_K = 5


@register(
    "docs_dup_spans",
    f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= {_SPAN_K}
),
grams AS (
    SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.g AS g
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(t) - {_SPAN_K - 1}),
                   i -> struct_pack(
                       pos := i,
                       g := md5(array_to_string(list_slice(t, i, i + {_SPAN_K - 1}), ' '))
                   ))) AS s
        FROM tok
    )
),
dup AS (
    SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
),
occ AS (
    SELECT gr.doc_id, gr.pos, gr.pos + {_SPAN_K - 1} AS e
    FROM grams gr JOIN dup USING (g)
),
isl AS (
    SELECT doc_id, pos, e,
           SUM(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM (
        SELECT doc_id, pos, e,
               LAG(e) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_e
        FROM occ
    )
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(e)   AS span_end,
       MAX(e) - MIN(pos) + 1 AS span_len
FROM isl
GROUP BY doc_id, island
""",
    doc="exact duplicate-span detection (substring dedup, Lee et al. "
    "2022): md5 every k-token window with its position, keep windows "
    "seen in >= 2 distinct docs, and merge overlapping/adjacent hits "
    "into maximal per-doc [span_start, span_end] token intervals via a "
    "gaps-and-islands window. The expensive stages shuffle on gram hash "
    "(uniform by construction) and on doc_id (bounded by doc length) — "
    "never on anything corpus-global, so the plan is scale-free",
)
def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _SPAN_K
    toks = F.split("text", " ")
    base = (
        _docs_parallel(spark, sf_dir)
        .filter(F.size(toks) >= k)
        .select("doc_id", toks.alias("t"))
    )
    # one row per k-gram occurrence, tagged with its 1-based token position;
    # the gram text is hashed immediately so the exploded rows stay narrow
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size("t") - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice("t", i, k))).alias("g"),
        ),
    )
    grams = base.select("doc_id", F.explode(gram_structs).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g")
    )
    # grams shared verbatim by >= 2 documents (partial-agg combines
    # map-side; the distinct-doc count shuffles once on the gram hash)
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    # shuffle-hash, never broadcast: the dup-gram set GROWS WITH THE
    # CORPUS (at the 100x scale tier its AQE-chosen broadcast was a
    # 1.1 GB hashed relation that blew the driver's result-size cap —
    # exactly the plan that dies first on a 1000-executor run). Both
    # sides already hash-partition on g for the aggregate, so the
    # shuffled join is the exchange-sharing, scale-free plan.
    occ = grams.join(dup.hint("shuffle_hash"), "g").select(
        "doc_id", "pos", (F.col("pos") + (k - 1)).alias("e")
    )
    # gaps-and-islands: every hit is an interval [pos, pos+k-1]; merge
    # overlapping or adjacent intervals per document. Intervals all have
    # equal length, so lag(e) is the running max end and a single lag
    # suffices (no running-max window needed).
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = occ.withColumn("prev_e", F.lag("e").over(w)).withColumn(
        "new_island",
        F.when(F.col("prev_e").isNull() | (F.col("pos") > F.col("prev_e") + 1), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("e").alias("span_end"),
            (F.max("e") - F.min("pos") + 1).alias("span_len"),
        )
        .select("doc_id", "span_start", "span_end", "span_len")
    )


# ---------------------------------------------------------------------------
# temperature-weighted source mixing
# ---------------------------------------------------------------------------

#: target corpus fraction after mixing (numerator/denominator kept integer)
_MIX_TARGET_DIV = 4  # keep ~N/4 documents overall
#: per-source rate cap, as an exact double (31/32) so floor(rate * 2^32)
#: always fits in 8 hex digits and the lpad'd gate comparison is total
_MIX_RATE_CAP = 31.0 / 32.0


@register(
    "docs_mixture_sample",
    f"""
WITH per_src AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_s,
           CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS isq
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_s) AS BIGINT) AS n_total, CAST(SUM(isq) AS BIGINT) AS s_total
    FROM per_src
),
rates AS (
    SELECT p.source, p.n_s,
           LEAST(
               CAST((t.n_total // {_MIX_TARGET_DIV}) * p.isq AS DOUBLE)
                   / CAST(t.s_total * p.n_s AS DOUBLE),
               {_MIX_RATE_CAP!r}) AS rate
    FROM per_src p CROSS JOIN tot t
),
gated AS (
    SELECT d.doc_id, d.source, d.lang, d.n_chars, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8) <
          lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
)
SELECT doc_id, source, lang, n_chars, rate FROM gated
""",
    doc="temperature-weighted source mixing (alpha=0.5 smoothed sampling "
    "over sources): per-source keep-rate proportional to sqrt(n_s), "
    "normalized to keep ~1/4 of the corpus, capped at 31/32. All "
    "arithmetic stays in exact integers (floor(sqrt()) per source, "
    "integer sums) up to ONE final double division per source, so the "
    "rates are bit-identical across engines; the md5 gate then makes the "
    "sample itself deterministic across runs, engines, and partitionings. "
    "The rate table is one row per source — a broadcast join, no shuffle "
    "of the corpus",
)
def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_s"),
        F.floor(F.sqrt(F.count("*").cast("double"))).cast("long").alias("isq"),
    )
    tot = per_src.agg(
        F.sum("n_s").cast("long").alias("n_total"), F.sum("isq").cast("long").alias("s_total")
    )
    # integer numerator/denominator; ONE double division => exact parity
    rate = F.least(
        ((F.col("n_total") / _MIX_TARGET_DIV).cast("long") * F.col("isq")).cast("double")
        / (F.col("s_total") * F.col("n_s")).cast("double"),
        F.lit(_MIX_RATE_CAP),
    )
    rates = per_src.crossJoin(F.broadcast(tot)).select("source", rate.alias("rate"))
    gate = F.substring(
        F.md5(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))), 1, 8
    )
    threshold = F.lpad(
        F.lower(F.hex(F.floor(F.col("rate") * 4294967296.0).cast("long"))), 8, "0"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(gate < threshold)
        .select("doc_id", "source", "lang", "n_chars", "rate")
    )


# ---------------------------------------------------------------------------
# token-budget mixture construction ("build me a B-token mix")
# ---------------------------------------------------------------------------

#: global token budget as a fraction of the corpus: total_tokens div 5
_BUDGET_DIV = 5


@register(
    "docs_token_budget_mix",
    f"""
WITH toks AS (
    SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
),
per_src AS (
    SELECT source,
           CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
           CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS isq
    FROM toks GROUP BY source
),
tot AS (
    SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(isq) AS BIGINT) AS s_total
    FROM per_src
),
rates AS (
    SELECT p.source, p.src_tokens,
           CAST(((t.total_tokens // {_BUDGET_DIV}) * p.isq) // t.s_total AS BIGINT)
               AS target_tokens,
           LEAST(
               CAST(((t.total_tokens // {_BUDGET_DIV}) * p.isq) // t.s_total AS DOUBLE)
                   / CAST(p.src_tokens AS DOUBLE),
               {_MIX_RATE_CAP!r}) AS rate
    FROM per_src p CROSS JOIN tot t
),
kept AS (
    SELECT tk.source, tk.n_tok, r.rate, r.target_tokens, r.src_tokens
    FROM toks tk JOIN rates r USING (source)
    WHERE substr(md5('mix:' || tk.source || ':' || CAST(tk.doc_id AS VARCHAR)), 1, 8) <
          lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
       MAX(rate) AS rate
FROM kept GROUP BY source
""",
    doc="token-budget mixture construction — the 'assemble a B-token "
    "training mix' op: the global budget (total_tokens div 5) is "
    "apportioned across sources by sqrt(source_tokens) temperature "
    "smoothing, each source's keep-rate is min(target/src_tokens, "
    "31/32), and docs are admitted by the deterministic md5 gate, so "
    "the SAME mix materializes on any engine/partitioning/run. All "
    "arithmetic is exact-integer (div, floor-sqrt) up to one double "
    "division per source. Reports per-source kept docs/tokens vs "
    "target — the audit a mixture run ships with. At 100 TB: the rate "
    "table is one row per source (broadcast), the token count is a "
    "row-local expression, and the corpus is never shuffled — one "
    "partial-agg pass for stats, one map-side gated pass for the mix.",
)
def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    per_src = toks.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_tokens"),
        F.floor(F.sqrt(F.sum("n_tok").cast("double"))).cast("long").alias("isq"),
    )
    tot = per_src.agg(
        F.sum("src_tokens").cast("long").alias("total_tokens"),
        F.sum("isq").cast("long").alias("s_total"),
    )
    target = F.expr(
        f"((total_tokens div {_BUDGET_DIV}) * isq) div s_total"
    ).cast("long")
    rates = (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "src_tokens",
            target.alias("target_tokens"),
            F.least(
                target.cast("double") / F.col("src_tokens").cast("double"),
                F.lit(_MIX_RATE_CAP),
            ).alias("rate"),
        )
    )
    gate = F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))),
        1,
        8,
    )
    threshold = F.lpad(
        F.lower(F.hex(F.floor(F.col("rate") * 4294967296.0).cast("long"))), 8, "0"
    )
    return (
        toks.join(F.broadcast(rates), "source")
        .filter(gate < threshold)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
            F.max("target_tokens").cast("long").alias("target_tokens"),
            F.max("rate").alias("rate"),
        )
    )


# ---------------------------------------------------------------------------
# hashed-linear classifier inference (fastText-shape quality scoring)
# ---------------------------------------------------------------------------

_CLS_BUCKETS = 4096  # hashed vocabulary size (power of 2)


@register(
    "docs_hashed_linear_score",
    f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
b AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5('tok:' || t), 1, 15)) AS BIGINT)
               % {_CLS_BUCKETS} AS bucket
    FROM tok
),
w AS (
    SELECT doc_id, bucket,
           CAST(('0x' || substr(md5('w:' || CAST(bucket AS VARCHAR)), 1, 15))
                AS BIGINT) % 2001 - 1000 AS wgt
    FROM b
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(wgt) AS BIGINT) AS raw_score,
       CAST(SUM(wgt) AS DOUBLE) / (1000.0 * COUNT(*)) AS score,
       CAST(SUM(wgt) AS DOUBLE) / (1000.0 * COUNT(*)) >= 0.0 AS keep
FROM w GROUP BY doc_id
""",
    doc="linear-classifier inference at corpus scale — the fastText-"
    "shape quality filter every curation stack runs (CCNet/LLaMA "
    "pipelines): tokens hash into a {b}-bucket vocabulary, bucket "
    "weights come from a BROADCAST weight table (here md5-derived "
    "integer pseudo-weights standing in for trained ones — the hash-"
    "lookup-aggregate plumbing is the contract; a deployment swaps the "
    "weight table's values), and a doc's score is the mean bucket "
    "weight. The plan is the 100 TB model-inference shape: explode is "
    "map-side, the weight table broadcast-joins (never shuffles the "
    "corpus), and the only shuffle is the per-doc aggregate. INTEGER "
    "weight sums keep the score order-free (one double divide at the "
    "end), so inference is hash-exact vs the SQL oracle.".format(
        b=_CLS_BUCKETS
    ),
)
def docs_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("tok:"), F.col("t"))), 1, 15), 16, 10)
        .cast("long") % _CLS_BUCKETS
    )
    weights = spark.range(_CLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        ).alias("wgt"),
    )
    score = F.col("raw_score").cast("double") / (1000.0 * F.col("n_tok"))
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum("wgt").cast("long").alias("raw_score"),
        )
        .select(
            "doc_id", "n_tok", "raw_score",
            score.alias("score"), (score >= 0.0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# data-constrained repetition schedule (epochs-per-source planning)
# ---------------------------------------------------------------------------

# budget = 3x the corpus (data-constrained: repetition required);
# no source repeats more than 4 epochs (the diminishing-returns knee)
_REP_BUDGET_MULT = 3
_REP_MAX_EPOCHS = 4


@register(
    "docs_repetition_schedule",
    f"""
WITH per_src AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS src_tokens,
           CAST(floor(sqrt(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)))
                AS BIGINT) AS isq
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(isq) AS BIGINT) AS s_total
    FROM per_src
)
SELECT p.source, p.src_tokens,
       CAST(LEAST({_REP_MAX_EPOCHS} * p.src_tokens,
                  (t.total_tokens * {_REP_BUDGET_MULT} * p.isq) // t.s_total)
            AS BIGINT) AS alloc_tokens,
       CAST(LEAST({_REP_MAX_EPOCHS} * p.src_tokens,
                  (t.total_tokens * {_REP_BUDGET_MULT} * p.isq) // t.s_total)
            // p.src_tokens AS BIGINT) AS full_epochs,
       CAST(LEAST({_REP_MAX_EPOCHS} * p.src_tokens,
                  (t.total_tokens * {_REP_BUDGET_MULT} * p.isq) // t.s_total)
            % p.src_tokens AS DOUBLE) / CAST(p.src_tokens AS DOUBLE)
           AS partial_epoch_rate
FROM per_src p CROSS JOIN tot t
""",
    doc="data-constrained repetition planning (the Muennighoff et al. "
    "2023 regime, the flip side of docs_token_budget_mix's subsample "
    "gate): a 3x-corpus token budget is apportioned across sources by "
    "sqrt-temperature, capped at 4 epochs per source (past which "
    "repeated data stops helping), and emitted as (full_epochs + a "
    "deterministic partial-epoch sampling rate) per source — the "
    "schedule a data-constrained training run loads per epoch. All "
    "exact-integer (floor-sqrt, div, mod) up to one double division; "
    "one partial-agg corpus pass, output one row per source.",
)
def docs_repetition_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_src = (
        _docs(spark, sf_dir)
        .select("source", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("src_tokens"),
            F.floor(F.sqrt(F.sum("n_tok").cast("double"))).cast("long").alias("isq"),
        )
    )
    tot = per_src.agg(
        F.sum("src_tokens").cast("long").alias("total_tokens"),
        F.sum("isq").cast("long").alias("s_total"),
    )
    alloc = F.least(
        F.lit(_REP_MAX_EPOCHS) * F.col("src_tokens"),
        F.expr(f"(total_tokens * {_REP_BUDGET_MULT} * isq) div s_total"),
    ).cast("long")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select("source", "src_tokens", alloc.alias("alloc_tokens"))
        .select(
            "source",
            "src_tokens",
            "alloc_tokens",
            # integer div/mod, not double division: at petabyte token
            # counts a double quotient can cross the next integer
            F.expr("alloc_tokens div src_tokens").cast("long").alias("full_epochs"),
            (
                F.expr("alloc_tokens % src_tokens").cast("double")
                / F.col("src_tokens").cast("double")
            ).alias("partial_epoch_rate"),
        )
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup): cluster, then prune within clusters
# ---------------------------------------------------------------------------

_SEM_N_CLUSTERS = 16
_SEM_COSINE = 0.40  # same near-identity threshold as emb_near_dup_pairs


_IVF_CENT_KEY = "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"

_FOLD_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)

_IFOLD_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), "
    "(acc, x) -> acc + x)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_FOLD_DOT.format(a=a, b=b)} / sqrt({_FOLD_DOT.format(a=a, b=a)})"
        f" / sqrt({_FOLD_DOT.format(a=b, b=b)})"
    )


def _icos_sql(a: str, b: str) -> str:
    """Quantized-int cosine: integer dot/norms are exact (< 2^53), so the
    double divisions see identical operands on every engine."""
    return (
        f"CAST({_IFOLD_DOT.format(a=a, b=b)} AS DOUBLE)"
        f" / sqrt(CAST({_IFOLD_DOT.format(a=a, b=a)} AS DOUBLE))"
        f" / sqrt(CAST({_IFOLD_DOT.format(a=b, b=b)} AS DOUBLE))"
    )


@register(
    "emb_semantic_dedup",
    f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
    ORDER BY {_IVF_CENT_KEY}, vec_id LIMIT 16
),
base AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
    FROM embeddings
),
scored AS (
    SELECT e.vec_id, e.v, c.centroid_id,
           {_icos_sql('e.v', 'c.qcv')} AS csim
    FROM base e CROSS JOIN (
        SELECT centroid_id,
               list_transform(cv, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qcv
        FROM cents) c
),
qv AS (
    SELECT vec_id, v, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM scored)
    WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT b.vec_id AS drop_id
    FROM qv a JOIN qv b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_icos_sql('a.v', 'b.v')} >= 0.40
)
SELECT vec_id, centroid_id FROM qv
WHERE vec_id NOT IN (SELECT drop_id FROM dropped)
""",
    doc="SemDeDup (Abbas et al. 2023): assign every embedding to its "
    "nearest deterministic IVF coarse centroid, then within each cluster "
    "drop every vector whose quantized cosine to a LOWER-id cluster "
    "member is >= threshold — keeping exactly one representative per "
    "near-identical group (the min-id one; transitive chains collapse to "
    "their minimum). The quadratic cosine work is confined to single "
    "clusters (|corpus|/n_clusters per bucket), and the pair join "
    "shuffles on centroid_id — never all-pairs on the corpus. Fully "
    "oracle-checked: the md5 centroid key is SQL-derivable, the float "
    "assignment cosine is a left fold on both engines, and the "
    "within-cluster cosine is quantized-integer exact.",
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ivf_assign_np, ivf_centroids

    emb = _emb(spark, sf_dir)
    want = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < want:
        emb = emb.repartition(want)
    cents = ivf_centroids(emb, _SEM_N_CLUSTERS)
    # assignment via the Arrow-pass kernel (ivf_assign_np): no 16x
    # centroid fan-out, no window shuffle; quantized-int routing metric
    # is what the oracle recomputes. The assignment feeds BOTH pair-join
    # sides and the final anti-join: checkpoint it once (house pattern
    # from connected_components) so the scoring pass doesn't run thrice.
    assigned = ivf_assign_np(emb, cents, n_probe=1).select(
        "vec_id", "centroid_id", _quant_vec().alias("v")
    ).localCheckpoint(eager=True)
    # within-cluster pairs only, as ONE numpy matmul per cluster group:
    # the shuffle key stays centroid_id (bounding the quadratic term to
    # cluster size exactly as the former pair equi-join did), but the
    # cosine work runs vectorized in the Arrow worker instead of through
    # interpreted per-element JVM lambdas. Same quantized-int arithmetic
    # and dot / sqrt / sqrt division order, so the drop set is identical.
    threshold = _SEM_COSINE

    def _drop_group(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.asarray(list(pdf["v"]), dtype=np.int64)
        nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
        S = (V @ V.T).astype(np.float64) / nrm[:, None] / nrm[None, :]
        doomed = ((ids[:, None] < ids[None, :]) & (S >= threshold)).any(axis=0)
        return pd.DataFrame({"drop_id": ids[doomed]})

    dropped = (
        assigned.select("centroid_id", "vec_id", "v")
        .groupBy("centroid_id")
        .applyInPandas(_drop_group, "drop_id long")
    )
    return (
        assigned.join(dropped, assigned.vec_id == dropped.drop_id, "left_anti")
        .select("vec_id", "centroid_id")
    )


# ---------------------------------------------------------------------------
# exact-k uniform sample per stratum (hash-ordered top-k)
# ---------------------------------------------------------------------------

_HASH_SAMPLE_K = 10


@register(
    "docs_hash_topk_sample",
    f"""
SELECT source, doc_id, CAST(rn AS INTEGER) AS rn
FROM (
    SELECT source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM documents
)
WHERE rn <= {_HASH_SAMPLE_K}
""",
    doc="exact-k uniform sample per stratum: rank documents inside each "
    "source by md5(doc_id) — a deterministic uniform permutation — and "
    "keep the first k. Unlike rate-gated sampling (docs_stratified_"
    "sample) this yields EXACTLY k rows per stratum regardless of "
    "stratum size; the rank window shuffles on the stratum key only, and "
    "per-partition top-k pushes through the window via the rn<=k limit",
)
def docs_hash_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _HASH_SAMPLE_K)
        .select("source", "doc_id", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------------------
# product-quantization ANN (memory-bounded similarity search)
# ---------------------------------------------------------------------------


# DuckDB mirror of the quantized PQ/ADC pipeline: every stage — the
# md5-keyed codebook sample, the floor(x*1000+0.5) int64 quantization,
# the argmin-L2 code assignment (ties -> lowest code), and the ADC sum —
# is exact integer arithmetic, so both engines agree bit-for-bit.
_PQ_ORACLE = """
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
    SELECT b.vec_id, cb.s, cb.code, cb.cv,
           list_reduce(list_transform(
               list_zip(list_slice(b.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x) AS d2
    FROM base b CROSS JOIN cb
),
chosen AS (
    SELECT vec_id, s, cv
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
          FROM enc)
    WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, qv FROM base WHERE vec_id < 3),
sims AS (
    SELECT q.query_id, ch.vec_id AS neighbor_id,
           CAST(SUM(list_reduce(list_transform(
               list_zip(list_slice(q.qv, ch.s * 8 + 1, ch.s * 8 + 8), ch.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)) AS BIGINT) AS adist
    FROM chosen ch JOIN q ON ch.vec_id != q.query_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
      FROM sims)
WHERE rnk <= 10
"""


@register(
    "emb_ann_topk_pq",
    _PQ_ORACLE,
    doc="PQ/ADC approximate top-k: vectors compress to 8 subspace codes "
    "(32x smaller working set than raw floats — the reason PQ is the "
    "standard billion-vector index layout), queries ship their exact "
    "subspace-distance tables as literals, and the scan scores with 8 "
    "array lookups per vector in ONE pass for all queries. Quantized-"
    "int64 ADC (floor(x*1000+0.5)) makes every score engine-exact, so "
    "the full pipeline — codebook sample, code assignment, ADC ranks — "
    "carries a DuckDB oracle; float-ADC recall vs exact search is "
    "additionally pinned in test_curation_ext",
)
def emb_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ann_topk_pq

    emb, cents, cbs, codes = _ann_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return ann_topk_pq(emb, q, k=10, quantize=1000, codebooks=cbs, codes=codes)


def _ann_index(spark: SparkSession, sf_dir: str):
    """The shared PQ / IVF-PQ index build, cached per (session, sf_dir).

    A production corpus builds its ANN index ONCE — centroid sample,
    one routing pass, codebook sample, one encode pass — and every
    query wave probes the materialized code table. The three PQ-family
    queries here use identical build parameters (n_centroids=16, m=8,
    ks=16, quantize=1000), so sharing the build is exactly the
    deployment shape, the same way ``minhash_sig_df`` shares signatures
    across the near-dup suite. Returns ``(corpus, cents, codebooks,
    codes)`` with ``codes`` carrying ``centroid_id`` (the plain-PQ
    scorer ignores it). The cached code table is ~32x smaller than the
    float corpus by construction.
    """
    return substrate(spark, sf_dir, "ann_index", lambda: _build_ann_index(spark, sf_dir))


def _build_ann_index(spark: SparkSession, sf_dir: str):
    from watsondedupe_spark.operators.similarity import (
        ivf_assign_np,
        ivf_centroids,
        pq_codebooks,
        pq_encode,
    )

    emb = _emb(spark, sf_dir)
    want = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < want:
        emb = emb.repartition(want)
    cents = ivf_centroids(emb, 16)
    assigned = ivf_assign_np(emb, cents, n_probe=1, quantize=1000)
    cbs = pq_codebooks(emb, m=8, ks=16)
    codes = pq_encode(
        assigned, cbs, quantize=1000, keep_cols=("centroid_id",)
    ).cache()
    return emb, cents, cbs, codes


def _ivfpq_sims_cte() -> str:
    # composed from the IVF oracle's routing CTEs (engine_native) and the
    # PQ oracle's codebook CTEs above: both pipelines are exact int64
    # arithmetic under floor(x*1000+0.5), so the composition is too.
    # Ends at the `sims` CTE so the plain and exact-refined finals can
    # share the whole probe+ADC derivation.
    from watsondedupe_spark.queries.engine_native import _IVF_CENT_KEY, _iq_cos_sql

    return f"""
WITH base AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, qv AS qcv
    FROM base ORDER BY {_IVF_CENT_KEY}, vec_id LIMIT 16
),
routed AS (
    SELECT b.vec_id, b.qv, c.centroid_id,
           {_iq_cos_sql('b.qv', 'c.qcv')} AS csim
    FROM base b CROSS JOIN cents c
),
assign1 AS (
    SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM routed)
    WHERE rn = 1
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
    SELECT b.vec_id, cb.s, cb.code, cb.cv,
           list_reduce(list_transform(
               list_zip(list_slice(b.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
               z -> (z[1] - z[2]) * (z[1] - z[2])), (acc, x) -> acc + x) AS d2
    FROM base b CROSS JOIN cb
),
chosen AS (
    SELECT vec_id, s, cv
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
          FROM enc)
    WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, qv, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM routed WHERE vec_id < 3)
    WHERE rn <= 4
),
sims AS (
    SELECT p.query_id, ch.vec_id AS neighbor_id,
           CAST(SUM(list_reduce(list_transform(
               list_zip(list_slice(p.qv, ch.s * 8 + 1, ch.s * 8 + 8), ch.cv),
               z -> (z[1] - z[2]) * (z[1] - z[2])), (acc, x) -> acc + x)) AS BIGINT) AS adist
    FROM chosen ch
    JOIN assign1 a ON a.vec_id = ch.vec_id
    JOIN probes p ON p.centroid_id = a.centroid_id AND ch.vec_id != p.query_id
    GROUP BY 1, 2
)"""


def _ivfpq_oracle() -> str:
    return _ivfpq_sims_cte() + """
SELECT query_id, neighbor_id, adist, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
      FROM sims)
WHERE rnk <= 10
"""


def _ivfpq_refined_oracle(k: int = 10, refine: int = 4) -> str:
    # same probe+ADC derivation; the final stages mirror the refine-at-
    # query-time pattern: ADC shortlist of k*refine, exact quantized-L2
    # re-rank over only those (query, candidate) pairs
    return _ivfpq_sims_cte() + f""",
shortlist AS (
    SELECT query_id, neighbor_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
          FROM sims)
    WHERE rnk <= {k * refine}
),
exact AS (
    SELECT s.query_id, s.neighbor_id,
           CAST(list_reduce(list_transform(list_zip(qb.qv, nb.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2])), (acc, x) -> acc + x) AS BIGINT) AS d2
    FROM shortlist s
    JOIN base qb ON qb.vec_id = s.query_id
    JOIN base nb ON nb.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, d2, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
      FROM exact)
WHERE rnk <= {k}
"""


@register(
    "emb_ann_topk_ivfpq",
    _ivfpq_oracle(),
    doc="IVF-PQ approximate top-k — the standard billion-vector index "
    "layout (FAISS IVFPQ): the coarse quantizer prunes WHICH vectors "
    "are scored (queries probe n_probe=4 of 16 md5-sampled cells) and "
    "product quantization prunes WHAT is read per vector (8 int codes, "
    "32x smaller than the floats). The probe list broadcast-joins the "
    "code table on centroid_id, ADC scoring is 8 gathers+adds per "
    "candidate in one Arrow pass with local top-k, and both pruning "
    "levers multiply at scale: a probe reads n_probe/n_centroids of a "
    "32x-compressed corpus. All-int64 under floor(x*1000+0.5), so "
    "routing + codes + ADC ranks carry a composed DuckDB oracle.",
)
def emb_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ann_topk_ivfpq

    emb, cents, cbs, codes = _ann_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return ann_topk_ivfpq(
        emb, q, k=10, n_centroids=16, n_probe=4, quantize=1000,
        cents=cents, codebooks=cbs, codes=codes,
    )


@register(
    "emb_ann_topk_ivfpq_refined",
    _ivfpq_refined_oracle(k=10, refine=4),
    doc="IVF-PQ with exact re-rank — the full production ANN recipe "
    "(FAISS refine-at-query-time): ADC distances are lossy, so the "
    "index returns a k*4 shortlist and only THOSE vectors' raw values "
    "are fetched (broadcast semi-fetch out of one corpus scan — the "
    "corpus never shuffles) and re-ranked by exact quantized squared "
    "L2, computed JVM-side with zip_with/aggregate. The sublinear "
    "probe+ADC cost is unchanged; the refine adds |q|*k*4 exact "
    "distances. End to end int64-exact, so shortlist AND re-rank carry "
    "one composed DuckDB oracle.",
)
def emb_ann_topk_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ann_topk_ivfpq_refined

    emb, cents, cbs, codes = _ann_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return ann_topk_ivfpq_refined(
        emb, q, k=10, refine=4, n_centroids=16, n_probe=4, quantize=1000,
        cents=cents, codebooks=cbs, codes=codes,
    )


def _append_parity_oracle() -> str:
    """From-scratch encode of the GROWN corpus under artifacts frozen on
    the build half — exactly what pq_index_append must reproduce."""
    from watsondedupe_spark.queries.engine_native import _iq_cos_sql

    return f"""
WITH base AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv,
           CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
    FROM embeddings
),
build AS (SELECT * FROM base WHERE vec_id % 2 = 0),
cents AS (
    SELECT vec_id AS centroid_id, qv AS qcv
    FROM build ORDER BY skey, vec_id LIMIT 16
),
routed AS (
    SELECT b.vec_id, c.centroid_id, {_iq_cos_sql('b.qv', 'c.qcv')} AS csim
    FROM base b CROSS JOIN cents c
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM routed)
    WHERE rn = 1
),
samp AS (
    SELECT qv, ROW_NUMBER() OVER (ORDER BY skey, vec_id) - 1 AS code
    FROM (SELECT vec_id, qv, skey FROM build ORDER BY skey, vec_id LIMIT 16)
),
cb AS (
    SELECT sp.s, samp.code, list_slice(samp.qv, sp.s * 8 + 1, sp.s * 8 + 8) AS cv
    FROM samp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) sp
),
enc AS (
    SELECT b.vec_id, cb.s, cb.code,
           list_reduce(list_transform(
               list_zip(list_slice(b.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
               z -> (z[1] - z[2]) * (z[1] - z[2])), (acc, x) -> acc + x) AS d2
    FROM base b CROSS JOIN cb
),
chosen AS (
    SELECT vec_id, s, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
        FROM enc)
    WHERE rn = 1
)
SELECT c.vec_id, a.centroid_id, CAST(c.s AS INT) AS s, CAST(c.code AS INT) AS code
FROM chosen c JOIN assign a ON a.vec_id = c.vec_id
"""


@register(
    "emb_ann_append_parity",
    _append_parity_oracle(),
    doc="incremental ANN maintenance, driver-graded (round-6 verdict #4): "
    "build the IVF-PQ index on the even-id half of the corpus, append "
    "the odd-id half through pq_index_append under the FROZEN routing "
    "centroids and codebooks (similarity.py:1077 — the O(batch) nightly "
    "append, vs an O(corpus) rebuild), and return the grown code table "
    "exploded to (vec_id, centroid_id, s, code) rows. The oracle is a "
    "from-scratch SQL encode of the WHOLE corpus under artifacts "
    "derived from the build half only — so the append path must be "
    "row-identical to a full rebuild, the invariant that lets queries "
    "ignore how the index was built.",
)
def emb_ann_append_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import (
        ivf_assign_np,
        ivf_centroids,
        pq_codebooks,
        pq_encode,
        pq_index_append,
    )

    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    cents = ivf_centroids(old, 16)
    cbs = pq_codebooks(old, m=8, ks=16)
    codes_old = pq_encode(
        ivf_assign_np(old, cents, n_probe=1, quantize=1000),
        cbs, quantize=1000, keep_cols=("centroid_id",),
    )
    grown = pq_index_append(codes_old, new, cents, cbs, quantize=1000)
    return grown.select(
        "vec_id", "centroid_id", F.posexplode("codes").alias("s", "code")
    ).select(
        "vec_id",
        "centroid_id",
        F.col("s").cast("int").alias("s"),
        F.col("code").cast("int").alias("code"),
    )


# ---------------------------------------------------------------------------
# duplicate-span REMOVAL (the transform the detector exists to feed)
# ---------------------------------------------------------------------------

# the detector's final SELECT, reusable as a CTE body
_SPANS_CTE = f"""
tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= {_SPAN_K}
),
grams AS (
    SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.g AS g
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(t) - {_SPAN_K - 1}),
                   i -> struct_pack(
                       pos := i,
                       g := md5(array_to_string(list_slice(t, i, i + {_SPAN_K - 1}), ' '))
                   ))) AS s
        FROM tok
    )
),
dup AS (
    SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
),
occ AS (
    SELECT gr.doc_id, gr.pos, gr.pos + {_SPAN_K - 1} AS e
    FROM grams gr JOIN dup USING (g)
),
isl AS (
    SELECT doc_id, pos, e,
           SUM(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM (
        SELECT doc_id, pos, e,
               LAG(e) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_e
        FROM occ
    )
),
spans AS (
    SELECT doc_id, MIN(pos) AS span_start, MAX(e) AS span_end
    FROM isl GROUP BY doc_id, island
)
"""


@register(
    "docs_strip_dup_spans",
    f"""
WITH {_SPANS_CTE.strip()},
toks AS (
    SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t)),
                   i -> struct_pack(pos := i, tok := t[i]))) AS u
        FROM tok
        WHERE doc_id IN (SELECT doc_id FROM spans)
    )
),
keep AS (
    SELECT tk.doc_id, tk.pos, tk.tok
    FROM toks tk
    WHERE NOT EXISTS (SELECT 1 FROM spans s
                      WHERE s.doc_id = tk.doc_id
                        AND tk.pos BETWEEN s.span_start AND s.span_end)
),
removed AS (
    SELECT doc_id,
           CAST(SUM(span_end - span_start + 1) AS BIGINT) AS n_removed
    FROM spans GROUP BY doc_id
)
SELECT r.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       r.n_removed
FROM removed r
LEFT JOIN (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM keep GROUP BY doc_id
) k USING (doc_id)
""",
    doc="duplicate-span REMOVAL: for every document the detector flagged, "
    "cut the shared-verbatim token runs out and re-join the survivors — "
    "the transform substring-dedup exists to feed (train on the cleaned "
    "text, not on dropped documents). Spark side keeps the whole edit "
    "row-local: spans collapse to one array per doc (bounded by doc "
    "length), broadcast-style hash join back to the tokenized text, and "
    "a position-aware filter lambda drops covered tokens — no explode of "
    "the corpus at all. A fully-covered document yields an empty string",
)
def docs_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = docs_dup_spans(spark, sf_dir).groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp"),
        F.sum("span_len").cast("long").alias("n_removed"),
    )
    toks = _docs_parallel(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    # two-parameter filter lambda binds (value, 0-based index); a token at
    # 1-based position p survives iff no span covers p
    def outside_spans(x, i):
        p = i + 1
        return ~F.exists(
            "sp",
            lambda s: (s.getField("span_start") <= p) & (p <= s.getField("span_end")),
        )

    return (
        toks.join(spans, "doc_id")
        .select(
            "doc_id",
            F.array_join(F.filter("t", outside_spans), " ").alias("clean_text"),
            "n_removed",
        )
    )


# ---------------------------------------------------------------------------
# exact length-decile curriculum buckets — no global sort
# ---------------------------------------------------------------------------


@register(
    "docs_length_curriculum",
    """
WITH vals AS (
    SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY n_chars
),
cum AS (
    SELECT n_chars, c,
           SUM(c) OVER (ORDER BY n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
    FROM vals
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
cuts AS (
    -- decile d's cutpoint: the smallest value whose cumulative count
    -- reaches ceil(d*n/10) == the exact d*10th-percentile order statistic
    SELECT d.d AS decile, MIN(cm.n_chars) AS cut
    FROM (SELECT unnest(generate_series(1, 9)) AS d) d
    CROSS JOIN tot t
    JOIN cum cm ON cm.cum_c * 10 >= d.d * t.n
    GROUP BY d.d
),
bucketed AS (
    SELECT doc.doc_id, doc.n_chars,
           CAST(1 + COALESCE((SELECT COUNT(*) FROM cuts c
                              WHERE doc.n_chars > c.cut), 0) AS INTEGER) AS bucket
    FROM documents doc
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_len,
       CAST(MAX(n_chars) AS BIGINT) AS max_len
FROM bucketed GROUP BY bucket
""",
    doc="exact decile curriculum buckets WITHOUT a global sort: aggregate "
    "to per-length counts (distinct lengths << corpus), run the "
    "cumulative sum over that tiny table, read the nine exact order "
    "statistics off it with integer arithmetic (cum*10 >= d*n — no "
    "float percentile interpolation, so it is engine-exact), broadcast "
    "the cutpoints back, and bucket with comparisons. This is how exact "
    "quantiles are computed at 100 TB: ntile()/orderBy would serialize "
    "the corpus through one task; the value histogram never does",
)
def docs_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    vals = docs.groupBy("n_chars").agg(F.count("*").cast("long").alias("c"))
    wc = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.withColumn("cum_c", F.sum("c").over(wc))
    tot = vals.agg(F.sum("c").cast("long").alias("n"))
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    cuts = (
        deciles.crossJoin(F.broadcast(tot))
        .join(F.broadcast(cum), F.col("cum_c") * 10 >= F.col("decile") * F.col("n"))
        .groupBy("decile")
        .agg(F.min("n_chars").alias("cut"))
    )
    cut_arr = cuts.agg(F.collect_list("cut").alias("cs"))
    bucketed = docs.crossJoin(F.broadcast(cut_arr)).select(
        "doc_id",
        "n_chars",
        (
            1
            + F.size(
                F.filter(
                    "cs",
                    (lambda nc: lambda c: nc > c)(F.col("n_chars")),
                )
            )
        )
        .cast("int")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_len"),
        F.max("n_chars").cast("long").alias("max_len"),
    )


# ---------------------------------------------------------------------------
# mergeable HLL sketches — shard-local distinct counting
# ---------------------------------------------------------------------------


@register(
    "events_user_hll_by_type",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_2pct
FROM events GROUP BY event_type
""",
    doc="mergeable distinct-user counting: build one Datasketches HLL "
    "sketch per (event_type, shard) map-side, merge with hll_union_agg — "
    "the shard-local-sketch-then-merge shape is how distinct counts work "
    "at 100 TB (a fixed-size sketch per partition crosses the wire, "
    "never the user ids; sketches are also storable for incremental "
    "rollups). HLL binary images are engine-specific, so the oracle "
    "checks the sketch's accuracy CONTRACT: the exact distinct count "
    "plus a flag that the merged estimate landed within 2% (lgk=14 "
    "keeps the expected error ~0.8% far beyond this cardinality).",
)
def events_user_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    # two-level merge: per-shard sketches, then a union-merge per type
    shard = F.spark_partition_id().alias("shard")
    per_shard = events.groupBy("event_type", shard).agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(14)).alias("sk")
    )
    return (
        per_shard.groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("merged"))
        .join(
            events.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("exact_users")
            ),
            "event_type",
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.hll_sketch_estimate("merged").cast("long") - F.col("exact_users"))
                <= 0.02 * F.col("exact_users")
            ).alias("within_2pct"),
        )
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured path (Spark 4 shredded binary JSON)
# ---------------------------------------------------------------------------


@register(
    "events_variant_props",
    """
SELECT event_type,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM (
    SELECT event_type,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
)
GROUP BY event_type
""",
    doc="semi-structured aggregation through the VARIANT type (Spark 4's "
    "shredded binary JSON): parse_json once, typed try_variant_get "
    "paths after — at scale the parse cost is paid once per row and "
    "the binary encoding skips re-tokenizing the JSON per extracted "
    "field, unlike the string get_json_object path (events_json_props, "
    "kept as the comparison shape)",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    v = events.select("event_type", F.parse_json("props").alias("v")).select(
        "event_type", F.try_variant_get("v", "$.k", "long").alias("k")
    )
    return v.groupBy("event_type").agg(
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# event-transition matrix (path analysis over per-user event order)
# ---------------------------------------------------------------------------


@register(
    "events_transition_matrix",
    """
SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT event_type AS prev_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
)
WHERE next_type IS NOT NULL
GROUP BY prev_type, next_type
""",
    doc="event-transition matrix: per-user chronological LEAD pairs "
    "aggregated into (prev, next) counts — the path-analysis primitive "
    "behind funnels and Markov attribution. One shuffle on user_id for "
    "the window (bounded by per-user history), one partial-agg'd "
    "rollup on the (prev, next) pair; the event_id tiebreak makes the "
    "ordering total, so results are engine-exact",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    return pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# sketch-accuracy audit: MinHash estimate vs exact Jaccard
# ---------------------------------------------------------------------------


@register(
    "docs_minhash_accuracy",
    f"""
WITH {_SHINGLES_SQL.strip()},
{_SIG_SQL},
rare AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_STOP_SHINGLE_MAX}
),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shr x JOIN shr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
),
pairs AS (
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.4
)
SELECT p.doc_a, p.doc_b,
       p.jaccard AS exact_jaccard,
       {_EST_SQL} AS minhash_estimate,
       abs(p.jaccard - {_EST_SQL}) AS abs_error
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
""",
    doc="sketch-accuracy audit: for every LSH candidate pair, the "
    "MinHash signature agreement (fraction of matching hash slots = the "
    "Jaccard estimator) next to the exact rare-shingle Jaccard, with "
    "the absolute error. This is the evaluation loop a production "
    "dedupe pipeline runs before trusting a sketch configuration — the "
    "test asserts the mean error stays inside the 1/sqrt(k) envelope. "
    "Joins are the already-bounded candidate pairs; nothing quadratic",
)
def docs_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import docs_jaccard_pairs, minhash_sig_df

    sigs = minhash_sig_df(spark, sf_dir)
    slots = sorted(c for c in sigs.columns if c.startswith("m"))
    est = docs_jaccard_pairs(spark, sf_dir)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in slots]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in slots]
    )
    agree = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in slots
    )
    return (
        est.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("jaccard").alias("exact_jaccard"),
            (agree / F.lit(len(slots))).alias("minhash_estimate"),
        )
        .withColumn(
            "abs_error", F.abs(F.col("exact_jaccard") - F.col("minhash_estimate"))
        )
    )


# ---------------------------------------------------------------------------
# passage chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------

# window/stride in tokens; overlap = _PSG_W - _PSG_S
_PSG_W = 64
_PSG_S = 48


@register(
    "docs_passage_chunks",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
st AS (
    SELECT doc_id, t, len(t) AS n,
           list_filter(generate_series(1, len(t), {_PSG_S}),
                       s -> s = 1 OR s + {_PSG_W - _PSG_S - 1} < len(t)) AS starts
    FROM tok),
p AS (
    SELECT doc_id, t, n,
           CAST(u.i AS INTEGER) AS passage_idx, CAST(u.s AS BIGINT) AS start_tok
    FROM (
        SELECT doc_id, t, n,
               unnest(list_transform(
                   list_zip(starts, generate_series(1, len(starts))),
                   z -> struct_pack(s := z[1], i := z[2]))) AS u
        FROM st)
)
SELECT doc_id, passage_idx, start_tok,
       CAST(len(list_slice(t, start_tok, least(start_tok + {_PSG_W - 1}, n))) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(
           list_slice(t, start_tok, least(start_tok + {_PSG_W - 1}, n)), ' '))
           AS passage_hash
FROM p
""",
    doc="passage chunking for retrieval / context-window prep: each "
    f"document splits into overlapping {_PSG_W}-token windows at stride "
    f"{_PSG_S} (overlap {_PSG_W - _PSG_S}); a trailing window is emitted "
    "only if the previous one did not already reach the end of the "
    "document, so every token is covered exactly once by a window tail "
    "and no passage is a strict suffix of its predecessor. The text-"
    "level sibling of the engine's CDC chunker — fixed-stride instead "
    "of content-defined — and, like it, pure per-row array ops: "
    "sequence/filter/slice/md5 JVM-side, zero shuffles, zero UDFs, so "
    "the plan is a single whole-stage-codegen scan at any corpus size",
)
def docs_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.text import passage_chunks

    return passage_chunks(
        _docs(spark, sf_dir), "text", "doc_id", window=_PSG_W, stride=_PSG_S
    )


# ---------------------------------------------------------------------------
# crawl-shard boundary overlap (tail-of-A == head-of-B)
# ---------------------------------------------------------------------------

#: boundary window: compare the first/last k tokens
_BOUNDARY_K = 8


@register(
    "docs_boundary_overlap",
    f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= {_BOUNDARY_K}
),
edges AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(t, 1, {_BOUNDARY_K}), ' ')) AS head_h,
           md5(array_to_string(list_slice(t, len(t) - {_BOUNDARY_K - 1}, len(t)), ' ')) AS tail_h
    FROM tok
)
SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc
FROM edges a JOIN edges b
  ON a.tail_h = b.head_h AND a.doc_id <> b.doc_id
""",
    doc="crawl-shard boundary overlap: a document whose LAST "
    f"{_BOUNDARY_K} tokens verbatim-equal another document's FIRST "
    f"{_BOUNDARY_K} tokens is the signature of one source page split "
    "across extraction shards — whole-doc near-dup misses it because "
    "the bodies differ. Each doc contributes one head hash and one tail "
    "hash; ONE equijoin on the md5 key finds every splice candidate. "
    "Zero fan-out, one shuffle on a uniform hash key — scale-free",
)
def docs_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _BOUNDARY_K
    t = F.split("text", " ")
    tok = _docs(spark, sf_dir).select("doc_id", t.alias("t")).filter(F.size("t") >= k)
    edges = tok.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", 1, k))).alias("head_h"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.size("t") - (k - 1), k))).alias(
            "tail_h"
        ),
    )
    a, b = edges.alias("a"), edges.alias("b")
    return a.join(
        b, (F.col("a.tail_h") == F.col("b.head_h")) & (F.col("a.doc_id") != F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("tail_doc"), F.col("b.doc_id").alias("head_doc"))


# ---------------------------------------------------------------------------
# inter-document duplicated-gram ratio (boilerplate scoring)
# ---------------------------------------------------------------------------


@register(
    "docs_dup_gram_ratio",
    f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= {_SPAN_K}
),
grams AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(t, i, i + {_SPAN_K - 1}), ' ')) AS g
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_SPAN_K - 1})) AS i FROM tok)
),
dup AS (
    SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
),
per_doc AS (
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
    FROM grams gr LEFT JOIN dup d ON gr.g = d.g
    GROUP BY gr.doc_id
)
SELECT doc_id, n_grams, n_dup,
       CAST(n_dup AS DOUBLE) / n_grams AS dup_gram_ratio
FROM per_doc
WHERE n_dup > 0
""",
    doc="inter-document redundancy score: the fraction of a document's "
    f"{_SPAN_K}-token windows that appear verbatim in at least one OTHER "
    "document — the boilerplate/memorization-risk signal (repetition_"
    "ratio is the INTRA-doc sibling; dup_spans localizes these same hits "
    "into intervals). Gram hashes shuffle once on a uniform md5 key for "
    "the cross-doc count, then once on doc_id for the per-doc ratio; "
    "the corpus never self-joins",
)
def docs_dup_gram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _SPAN_K
    toks = F.split("text", " ")
    base = (
        _docs_parallel(spark, sf_dir)
        .filter(F.size(toks) >= k)
        .select("doc_id", toks.alias("t"))
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, k))),
            )
        ).alias("g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        # shuffle-hash for the same corpus-growth reason as dup_spans
        grams.join(dup.hint("shuffle_hash"), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_dup",
        (F.col("n_dup").cast("double") / F.col("n_grams")).alias("dup_gram_ratio"),
    ).filter(F.col("n_dup") > 0)


# ---------------------------------------------------------------------------
# b-bit MinHash (Li & Koenig): keep ONE bit per hash slot, correct the
# collision floor — 1/32 the sketch bytes, graded against exact Jaccard
# ---------------------------------------------------------------------------

_BBIT_K = 6


def _bbit_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN CAST(('0x' || substr(a.m{j}, 32, 1)) AS BIGINT) % 2 = "
        f"CAST(('0x' || substr(b.m{j}, 32, 1)) AS BIGINT) % 2 THEN 1 ELSE 0 END"
        for j in range(1, _BBIT_K + 1)
    )
    return f"CAST(2 * ({agree}) - {_BBIT_K} AS DOUBLE) / {_BBIT_K}"


def _minhash_bbit_oracle() -> str:
    est = _bbit_sql()
    return f"""
WITH {_SHINGLES_SQL.strip()},
{_SIG_SQL},
rare AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_STOP_SHINGLE_MAX}
),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM shr x JOIN shr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
),
pairs AS (
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.4
)
SELECT p.doc_a, p.doc_b,
       p.jaccard AS exact_jaccard,
       {est} AS bbit_estimate,
       abs(p.jaccard - {est}) AS abs_error
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
"""


@register(
    "docs_minhash_bbit",
    _minhash_bbit_oracle(),
    doc="b-bit MinHash audit (Li & Koenig, b=1): keep only the LOWEST "
    "BIT of each of the k minhash slots — 1/32 the signature bytes of "
    "the 128-bit slots — and estimate Jaccard with the collision-floor "
    "correction J = 2C - 1 (random non-matching bits collide half the "
    "time, so raw agreement C floors at 1/2 and the unbiased "
    "estimator rescales it). Graded per candidate pair against the "
    "exact rare-shingle Jaccard, beside docs_minhash_accuracy's "
    "full-slot estimator — together they are the bytes-vs-variance "
    "frontier for the sketch a 100 TB dedup pipeline must ship "
    "through every shuffle. Same bounded candidate-pair joins as the "
    "accuracy audit; the bit extraction is row-local hex parity, "
    "portable via conv()/'0x' casting on the md5 tail",
)
def docs_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import docs_jaccard_pairs, minhash_sig_df

    sigs = minhash_sig_df(spark, sf_dir)
    slots = [f"m{j}" for j in range(1, _BBIT_K + 1)]

    def parity(col):
        return F.expr(f"CAST(conv(substr({col}, 32, 1), 16, 10) AS BIGINT) % 2")

    est = docs_jaccard_pairs(spark, sf_dir)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[parity(c).alias(f"a_{c}") for c in slots]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[parity(c).alias(f"b_{c}") for c in slots]
    )
    agree = sum((F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in slots)
    bbit = (2 * agree - _BBIT_K).cast("double") / _BBIT_K
    return (
        est.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("jaccard").alias("exact_jaccard"),
            bbit.alias("bbit_estimate"),
            F.abs(F.col("jaccard") - bbit).alias("abs_error"),
        )
    )


# ---------------------------------------------------------------------------
# ADC vs SDC: the two PQ scoring modes, recall-graded side by side —
# what symmetric (code-to-code) scoring costs in accuracy
# ---------------------------------------------------------------------------


def _pq_adc_sdc_oracle() -> str:
    from watsondedupe_spark.queries.llm_pipeline import _KNN_ORACLE_SQL

    sdc_ctes = """
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
    SELECT vec_id, s, code
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
          FROM enc)
    WHERE rn = 1
),
dtab AS (
    SELECT a.s, a.code AS ci, b.code AS cj,
           list_reduce(list_transform(list_zip(a.cv, b.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x) AS dd
    FROM cb a JOIN cb b ON a.s = b.s
),
sd AS (
    SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id,
           CAST(SUM(dt.dd) AS BIGINT) AS sdist
    FROM chosen qc
    JOIN chosen cc ON cc.s = qc.s AND cc.vec_id != qc.vec_id
    JOIN dtab dt ON dt.s = qc.s AND dt.ci = qc.code AND dt.cj = cc.code
    WHERE qc.vec_id < 3
    GROUP BY 1, 2
),
sdc_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sdist, neighbor_id) AS rnk
        FROM sd)
    WHERE rnk <= 10
)"""
    return f"""{sdc_ctes},
exactq AS (SELECT query_id, neighbor_id FROM ({_KNN_ORACLE_SQL}) x),
adc AS (SELECT query_id, neighbor_id FROM ({_PQ_ORACLE}) y)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS adc_hits,
       CAST(COUNT(s.neighbor_id) AS BIGINT) AS sdc_hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS adc_recall,
       CAST(COUNT(s.neighbor_id) AS DOUBLE) / COUNT(*) AS sdc_recall
FROM exactq e
LEFT JOIN adc a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
LEFT JOIN sdc_top s ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


@register(
    "emb_pq_adc_sdc",
    _pq_adc_sdc_oracle(),
    doc="ADC vs SDC recall audit: the two PQ scoring modes side by "
    "side, per query, against the exact top-10. ADC (asymmetric — "
    "exact query vs candidate codes) is what emb_ann_topk_pq ships; "
    "SDC (symmetric — the QUERY is quantized too, scores come from a "
    "precomputed 8x16x16 code-to-code distance table, zero per-query "
    "arithmetic beyond table lookups) is what a code-only pipeline "
    "(e.g. scoring inside the compressed index without the raw "
    "query vector, or all-pairs dedup over codes) must use. This "
    "table prices that convenience in recall. The SDC distance "
    "table bakes in as a literal (2048 ints — the actual production "
    "trick); lookups are row-local aggregate() over the 8 subspaces; "
    "both arms rank with the same tie discipline and integer-exact "
    "arithmetic, composing three graded oracles (exact kNN, ADC "
    "top-k, and the shared codebook derivation)",
)
def emb_pq_adc_sdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from watsondedupe_spark.queries.llm_pipeline import emb_knn_cosine

    emb, cents, cbs, codes = _ann_index(spark, sf_dir)
    qcb = [
        [[int(math.floor(x * 1000 + 0.5)) for x in code] for code in sub] for sub in cbs
    ]
    dtab = F.array(
        *[
            F.array(
                *[
                    F.array(
                        *[
                            F.lit(sum((a - b) * (a - b) for a, b in zip(ci, cj)))
                            for cj in qcb[s]
                        ]
                    )
                    for ci in qcb[s]
                ]
            )
            for s in range(8)
        ]
    )
    c = codes.select("vec_id", "codes")
    qc = c.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes")
    )
    sdist = F.aggregate(
        F.sequence(F.lit(0), F.lit(7)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(
                F.element_at(dtab, s + 1), F.element_at("qcodes", s + 1) + 1
            ),
            F.element_at("codes", s + 1) + 1,
        ),
    )
    sd = (
        c.crossJoin(F.broadcast(qc))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sdist.alias("sdist"))
    )
    w_part = Window.partitionBy("query_id", "salt").orderBy("sdist", "neighbor_id")
    w_full = Window.partitionBy("query_id").orderBy("sdist", "neighbor_id")
    sdc_top = (
        sd.withColumn("salt", F.pmod(F.col("neighbor_id"), F.lit(32)))
        .withColumn("prank", F.row_number().over(w_part))
        .filter(F.col("prank") <= 10)
        .withColumn("rank", F.row_number().over(w_full))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", F.lit(1).alias("sdc_hit"))
    )
    adc_top = emb_ann_topk_pq(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("adc_hit")
    )
    exact = emb_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        exact.join(adc_top, ["query_id", "neighbor_id"], "left")
        .join(sdc_top, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("adc_hit").cast("long").alias("adc_hits"),
            F.count("sdc_hit").cast("long").alias("sdc_hits"),
            (F.count("adc_hit").cast("double") / F.count("*")).alias("adc_recall"),
            (F.count("sdc_hit").cast("double") / F.count("*")).alias("sdc_recall"),
        )
    )


# ---------------------------------------------------------------------------
# relational Bloom filter, FPR-audited: the probabilistic pre-filter
# graded on the one number that justifies it
# ---------------------------------------------------------------------------

_BLOOM_M = 16384
_BLOOM_K = 4


def _bloom_pos_sql(h: str, j: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('b{j}:' || {h}), 1, 8)) AS BIGINT) % {_BLOOM_M}"
    )


def _bloom_fpr_oracle() -> str:
    pos_a = ", ".join(_bloom_pos_sql("h", j) for j in range(_BLOOM_K))
    hits = " + ".join(
        f"CASE WHEN {_bloom_pos_sql('b.h', j)} IN (SELECT p FROM bits) THEN 1 ELSE 0 END"
        for j in range(_BLOOM_K)
    )
    return f"""
WITH a AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
bset AS (SELECT DISTINCT h FROM a),
bits AS (
    SELECT DISTINCT p FROM (
        SELECT unnest([{pos_a}]) AS p FROM bset
    )
),
b AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 1),
probe AS (
    SELECT b.h,
           ({hits}) = {_BLOOM_K} AS flagged,
           b.h IN (SELECT h FROM bset) AS member
    FROM b
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN flagged AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos,
           CAST(SUM(CASE WHEN member AND NOT flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_neg
    FROM probe
),
fill AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits)
SELECT a.n_probes, a.n_members, a.n_flagged, a.n_false_pos, a.n_false_neg,
       f.bits_set,
       CAST(a.n_false_pos AS DOUBLE) / (a.n_probes - a.n_members) AS observed_fpr,
       (CAST(f.bits_set AS DOUBLE) / {_BLOOM_M}) * (CAST(f.bits_set AS DOUBLE) / {_BLOOM_M})
           * (CAST(f.bits_set AS DOUBLE) / {_BLOOM_M}) * (CAST(f.bits_set AS DOUBLE) / {_BLOOM_M})
           AS theoretical_fpr
FROM agg a CROSS JOIN fill f
"""


@register(
    "docs_bloom_fpr_audit",
    _bloom_fpr_oracle(),
    doc="Bloom-filter false-positive audit, fully engine-reproducible: "
    "build an m=16384, k=4 filter over the even-doc content hashes "
    "(positions = md5-slice hashes mod m, the bit set materialized as "
    "a DISTINCT position relation — the relational formulation of the "
    "bitmap), probe every odd doc, and grade n_false_pos (flagged "
    "non-members), n_false_neg (MUST be 0 — the Bloom guarantee, "
    "asserted in the test), the observed FPR, and the theoretical "
    "fill-ratio^k beside it. This is the audit run before trusting a "
    "Bloom pre-filter at 100 TB (the bloom_semi_revenue shape), where "
    "an under-sized filter silently turns a semi-join prune into a "
    "full shuffle. The bit relation is bounded by m regardless of "
    "corpus size and broadcast-joins the probe positions; no "
    "transcendental pow — the k=4 power is spelled as multiplies",
)
def docs_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pos(col, j):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"b{j}:"), col)), 1, 8), 16, 10
        ).cast("long") % _BLOOM_M

    docs = _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("h"))
    a = docs.filter(F.col("doc_id") % 2 == 0).select("h")
    bset = a.distinct()
    bits = (
        bset.select(F.explode(F.array(*[pos(F.col("h"), j) for j in range(_BLOOM_K)])).alias("p"))
        .distinct()
    )
    b = docs.filter(F.col("doc_id") % 2 == 1).select("h")
    # flagged is a function of the hash VALUE, so compute hit counts once
    # per DISTINCT h and join back to every probe row — duplicate probe
    # texts must not inflate n_hit past _BLOOM_K (oracle is per-row CASE).
    probe_pos = b.distinct().select(
        "h", F.posexplode(F.array(*[pos(F.col("h"), j) for j in range(_BLOOM_K)]))
    ).select("h", F.col("col").alias("p"))
    hit_counts = (
        probe_pos.join(F.broadcast(bits.withColumn("inb", F.lit(1))), "p", "left")
        .groupBy("h")
        .agg(F.count("inb").alias("n_hit"))
    )
    member = bset.withColumn("m", F.lit(1))
    probe = (
        b.join(hit_counts, "h")
        .join(F.broadcast(member), "h", "left")
        .select(
            (F.col("n_hit") == _BLOOM_K).alias("flagged"),
            F.col("m").isNotNull().alias("member"),
        )
    )
    agg = probe.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(F.when(F.col("member"), 1).otherwise(0)).cast("long").alias("n_members"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.sum(F.when(F.col("flagged") & ~F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        F.sum(F.when(F.col("member") & ~F.col("flagged"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
    )
    fill = bits.agg(F.count("*").cast("long").alias("bits_set"))
    ratio = F.col("bits_set").cast("double") / _BLOOM_M
    return (
        agg.crossJoin(F.broadcast(fill))
        .select(
            "n_probes",
            "n_members",
            "n_flagged",
            "n_false_pos",
            "n_false_neg",
            "bits_set",
            (
                F.col("n_false_pos").cast("double")
                / (F.col("n_probes") - F.col("n_members"))
            ).alias("observed_fpr"),
            (ratio * ratio * ratio * ratio).alias("theoretical_fpr"),
        )
    )


# ---------------------------------------------------------------------------
# cluster quality: simplified silhouette over the IVF coarse clusters
# ---------------------------------------------------------------------------

_SIL_SCALE = 1_000_000


@register(
    "emb_silhouette",
    f"""
WITH cents AS (
    SELECT vec_id AS centroid_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qcv
    FROM embeddings ORDER BY {_IVF_CENT_KEY}, vec_id LIMIT 16
),
base AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
    FROM embeddings
),
scored AS (
    SELECT e.vec_id, c.centroid_id, {_icos_sql('e.v', 'c.qcv')} AS csim
    FROM base e CROSS JOIN cents c
),
ranked AS (
    SELECT vec_id, centroid_id, csim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, centroid_id) AS rn
    FROM scored
),
sil AS (
    SELECT own.vec_id, own.centroid_id,
           CASE WHEN GREATEST(1 - own.csim, 1 - nxt.csim) = 0 THEN 0
                ELSE CAST(floor(((1 - nxt.csim) - (1 - own.csim))
                          / GREATEST(1 - own.csim, 1 - nxt.csim)
                          * {_SIL_SCALE} + 0.5) AS BIGINT)
           END AS s_scaled
    FROM (SELECT * FROM ranked WHERE rn = 1) own
    JOIN (SELECT * FROM ranked WHERE rn = 2) nxt USING (vec_id)
)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(s_scaled) AS BIGINT) AS sum_s_scaled,
       CAST(SUM(s_scaled) AS DOUBLE) / {_SIL_SCALE} / COUNT(*)
           AS mean_silhouette,
       CAST(SUM(CASE WHEN s_scaled < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_negative
FROM sil GROUP BY centroid_id
""",
    doc="simplified silhouette (centroid-based, Hruschka et al.): per "
    "vector, a = cosine distance to its OWN (nearest) coarse centroid, "
    "b = distance to the best OTHER centroid, s = (b-a)/max(a,b) — the "
    "O(n*k) cluster-quality diagnostic that replaces the O(n^2) "
    "classical silhouette at scale (n*k is the price IVF assignment "
    "already pays; centroids broadcast, corpus never shuffles). "
    "Negative s flags vectors closer to a foreign centroid than their "
    "own — the misassignment count k-means refinement should drive to "
    "zero. Per-row s is quantized to 1e-6 ticks BEFORE the group sum, "
    "so the per-cluster mean is order-free and oracle-exact.",
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ivf_centroids

    emb = _emb(spark, sf_dir)
    cents = ivf_centroids(emb, 16).select(
        "centroid_id",
        F.transform(
            "cv", lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("long")
        ).alias("qcv"),
    )
    dot = F.aggregate(
        F.zip_with("v", "qcv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nrm_v = F.aggregate(
        F.zip_with("v", "v", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nrm_c = F.aggregate(
        F.zip_with("qcv", "qcv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.select("vec_id", _quant_vec().alias("v"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "centroid_id",
            (
                dot.cast("double")
                / F.sqrt(nrm_v.cast("double"))
                / F.sqrt(nrm_c.cast("double"))
            ).alias("csim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), "centroid_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    # own (rn=1) and runner-up (rn=2) come out of ONE aggregation over
    # the windowed stream instead of an rn=1 x rn=2 self-join — the join
    # form re-ran the whole n x k scoring + window pipeline for each
    # side (two Window subtrees + an SMJ in the plan). Every vec_id has
    # exactly k>=2 candidate rows, so both slots are always populated;
    # csim doubles pass through max(when(...)) untouched — bit-identical
    # to the join form (r12, guide §1.2/§3).
    pair = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("centroid_id"))).alias("centroid_id"),
        F.max(F.when(F.col("rn") == 1, F.col("csim"))).alias("own_sim"),
        F.max(F.when(F.col("rn") == 2, F.col("csim"))).alias("next_sim"),
    )
    a_d = F.lit(1) - F.col("own_sim")
    b_d = F.lit(1) - F.col("next_sim")
    sil = pair.select(
        "centroid_id",
        F.when(F.greatest(a_d, b_d) == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor((b_d - a_d) / F.greatest(a_d, b_d) * _SIL_SCALE + 0.5).cast("long")
        )
        .alias("s_scaled"),
    )
    return sil.groupBy("centroid_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("s_scaled").cast("long").alias("sum_s_scaled"),
        (F.sum("s_scaled").cast("double") / _SIL_SCALE / F.count("*")).alias(
            "mean_silhouette"
        ),
        F.sum(F.when(F.col("s_scaled") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
    )


# ---------------------------------------------------------------------------
# Gopher-style per-rule quality gate audit
# ---------------------------------------------------------------------------

# Rule thresholds, scaled to the synthetic corpus (the published Gopher
# bounds — 50..100k words, mean word length 3..10, repetition caps — are
# for web documents; the shape of the audit is what matters).
_GR_WC_LO, _GR_WC_HI = 20, 90
_GR_MWL_LO, _GR_MWL_HI = 4, 10  # published low bound is 3; 4 splits this corpus
_GR_MIN_STOP = 2
_GR_REP_NUM, _GR_REP_DEN = 1, 5  # top token must be <= 1/5 of the words


@register(
    "docs_gopher_rules_audit",
    f"""
WITH toks AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
cnts AS (
    SELECT doc_id, source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2, 3
),
per_doc AS (
    SELECT doc_id, source,
           SUM(cnt) AS wc,
           SUM(length(tok) * cnt) AS chars_ns,
           COUNT(DISTINCT CASE WHEN tok IN {{stop_sql}} THEN tok END) AS n_stop,
           MAX(cnt) AS top_cnt
    FROM cnts
    GROUP BY 1, 2
),
flagged AS (
    SELECT source,
           CASE WHEN wc < {_GR_WC_LO} OR wc > {_GR_WC_HI} THEN 1 ELSE 0 END AS f_wc,
           CASE WHEN chars_ns < {_GR_MWL_LO} * wc
                  OR chars_ns > {_GR_MWL_HI} * wc THEN 1 ELSE 0 END AS f_mwl,
           CASE WHEN n_stop < {_GR_MIN_STOP} THEN 1 ELSE 0 END AS f_stop,
           CASE WHEN top_cnt * {_GR_REP_DEN} > wc * {_GR_REP_NUM} THEN 1 ELSE 0 END
               AS f_rep
    FROM per_doc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wc) AS BIGINT) AS n_fail_wordcount,
       CAST(SUM(f_mwl) AS BIGINT) AS n_fail_meanwordlen,
       CAST(SUM(f_stop) AS BIGINT) AS n_fail_stopwords,
       CAST(SUM(f_rep) AS BIGINT) AS n_fail_repetition,
       CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_rep = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass_all
FROM flagged GROUP BY source
""".replace("{stop_sql}", _STOP_SQL),
    doc="Gopher-rule quality gates (Rae et al. 2021; the ruleset Dolma/"
    "RedPajama curation reuses), audited PER RULE per source: word-count "
    "bounds, mean-word-length bounds (as the integer cross-product "
    "chars < lo*wc, never a float divide), minimum distinct stopwords "
    "(the 'natural language' gate), and top-token repetition cap (the "
    "degenerate-text gate). Per-rule attribution is what a curation "
    "operator actually tunes on — a single composite score can't say "
    "WHICH gate is carving a source. One explode pass builds token "
    "stats; every gate is integer arithmetic; per-source counts come "
    "off the same shuffle key the corpus is already partitioned by.",
)
def docs_gopher_rules_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _STOPWORDS

    toks = _docs(spark, sf_dir).select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    cnts = toks.groupBy("doc_id", "source", "tok").agg(F.count("*").alias("cnt"))
    per_doc = cnts.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("wc"),
        F.sum(F.length("tok") * F.col("cnt")).alias("chars_ns"),
        F.count_distinct(
            F.when(F.col("tok").isin(*_STOPWORDS), F.col("tok"))
        ).alias("n_stop"),
        F.max("cnt").alias("top_cnt"),
    )
    flagged = per_doc.select(
        "source",
        F.when(
            (F.col("wc") < _GR_WC_LO) | (F.col("wc") > _GR_WC_HI), 1
        ).otherwise(0).alias("f_wc"),
        F.when(
            (F.col("chars_ns") < _GR_MWL_LO * F.col("wc"))
            | (F.col("chars_ns") > _GR_MWL_HI * F.col("wc")),
            1,
        ).otherwise(0).alias("f_mwl"),
        F.when(F.col("n_stop") < _GR_MIN_STOP, 1).otherwise(0).alias("f_stop"),
        F.when(
            F.col("top_cnt") * _GR_REP_DEN > F.col("wc") * _GR_REP_NUM, 1
        ).otherwise(0).alias("f_rep"),
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("f_wc").cast("long").alias("n_fail_wordcount"),
        F.sum("f_mwl").cast("long").alias("n_fail_meanwordlen"),
        F.sum("f_stop").cast("long").alias("n_fail_stopwords"),
        F.sum("f_rep").cast("long").alias("n_fail_repetition"),
        F.sum(
            F.when(
                F.col("f_wc") + F.col("f_mwl") + F.col("f_stop") + F.col("f_rep")
                == 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_pass_all"),
    )


# ---------------------------------------------------------------------------
# per-source token-frequency chi-square drift (categorical twin of the
# KS length drift)
# ---------------------------------------------------------------------------

_CHI2_TICKS = 1_000_000


@register(
    "docs_token_chi2_drift",
    f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
st AS (
    SELECT source, t, CAST(COUNT(*) AS BIGINT) AS o FROM tok GROUP BY 1, 2
),
tot AS (
    SELECT t, CAST(SUM(o) AS BIGINT) AS ct FROM st GROUP BY 1
),
ns AS (
    SELECT source, CAST(SUM(o) AS BIGINT) AS n_s FROM st GROUP BY 1
),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n_all FROM st),
terms AS (
    SELECT s.source,
           CASE WHEN tot.ct - s.o > 0 THEN 1 ELSE 0 END AS common,
           CASE WHEN tot.ct - s.o > 0 THEN
             CAST(floor(
               CAST(s.o * (n.n_all - ns.n_s) - (tot.ct - s.o) * ns.n_s AS DOUBLE)
               * CAST(s.o * (n.n_all - ns.n_s) - (tot.ct - s.o) * ns.n_s AS DOUBLE)
               / CAST(ns.n_s AS DOUBLE)
               / CAST(n.n_all - ns.n_s AS DOUBLE)
               / CAST(tot.ct - s.o AS DOUBLE)
               * {_CHI2_TICKS} + 0.5) AS BIGINT)
           ELSE 0 END AS tick
    FROM st s
    JOIN tot ON tot.t = s.t
    JOIN ns ON ns.source = s.source
    CROSS JOIN n
)
SELECT source,
       CAST(SUM(common) AS BIGINT) AS n_common_tokens,
       CAST(COUNT(*) - SUM(common) AS BIGINT) AS n_source_only_tokens,
       CAST(SUM(tick) AS BIGINT) AS chi2_ticks,
       CAST(SUM(tick) AS DOUBLE) / {_CHI2_TICKS} AS chi2
FROM terms GROUP BY source
""",
    doc="per-source token-frequency chi-square drift vs the REST of the "
    "corpus (the categorical twin of the graded KS length drift — KS "
    "sees a shifted length distribution, this sees a shifted "
    "vocabulary): per common token, the one-sample chi-square term "
    "((o*N_rest - c_rest*N_s) / sqrt-free rational form) evaluated "
    "from exact BIGINT cross-products in a DECLARED double division "
    "order, quantized to 1e-6 ticks BEFORE the per-source sum so the "
    "reduction is order-free. Tokens seen only in the source (infinite "
    "expected-zero terms) are excluded and REPORTED as a count instead "
    "— silent exclusion would hide exactly the drift the screen "
    "exists to catch. Two shuffles: (source, token) grain then token "
    "grain for the totals; both bounded by vocabulary x sources, "
    "never corpus rows.",
)
def docs_token_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("o"))
    )
    tot = st.groupBy("t").agg(F.sum("o").cast("long").alias("ct"))
    ns = st.groupBy("source").agg(F.sum("o").cast("long").alias("n_s"))
    n = st.agg(F.sum("o").cast("long").alias("n_all"))
    # the vocabulary table (per-token totals) grows with the corpus
    # (Heaps' law — unbounded): pin the vocab join shuffle-hash; both
    # sides hash-partition on t so the join shares the aggregates'
    # exchange (round-8 no-corpus-broadcast rule). The per-source and
    # 1-row totals stay broadcast — genuinely bounded.
    j = (
        st.join(tot.hint("shuffle_hash"), "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
    )
    rest_ct = F.col("ct") - F.col("o")
    rest_n = F.col("n_all") - F.col("n_s")
    diff = (F.col("o") * rest_n - rest_ct * F.col("n_s")).cast("double")
    tick = F.when(
        rest_ct > 0,
        F.floor(
            diff
            * diff
            / F.col("n_s").cast("double")
            / rest_n.cast("double")
            / rest_ct.cast("double")
            * _CHI2_TICKS
            + 0.5
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    terms = j.select(
        "source",
        F.when(rest_ct > 0, 1).otherwise(0).alias("common"),
        tick.alias("tick"),
    )
    return terms.groupBy("source").agg(
        F.sum("common").cast("long").alias("n_common_tokens"),
        (F.count("*") - F.sum("common")).cast("long").alias("n_source_only_tokens"),
        F.sum("tick").cast("long").alias("chi2_ticks"),
        (F.sum("tick").cast("double") / _CHI2_TICKS).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve
# ---------------------------------------------------------------------------

_VG_DECILES = 10


@register(
    "docs_vocab_growth_curve",
    f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
firsts AS (
    SELECT t, MIN(doc_id) AS first_doc, CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM toks GROUP BY t
),
bounds AS (
    SELECT MAX(doc_id) AS max_doc, COUNT(DISTINCT doc_id) AS n_docs
    FROM documents
),
cuts AS (
    SELECT unnest(generate_series(1, {_VG_DECILES})) AS decile
)
SELECT c.decile,
       CAST(floor((b.max_doc + 1) * c.decile / {_VG_DECILES}) AS BIGINT)
           AS doc_cutoff,
       CAST(SUM(CASE WHEN f.first_doc <
                          floor((b.max_doc + 1) * c.decile / {_VG_DECILES})
                     THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN f.first_doc <
                          floor((b.max_doc + 1) * c.decile / {_VG_DECILES})
                     THEN f.occurrences ELSE 0 END) AS BIGINT)
           AS mass_of_seen_vocab
FROM firsts f CROSS JOIN bounds b CROSS JOIN cuts c
GROUP BY c.decile,
         CAST(floor((b.max_doc + 1) * c.decile / {_VG_DECILES}) AS BIGINT)
""",
    doc="Heaps-law vocabulary growth curve: distinct-token count among "
    "the first k docs (by id), at ten cutoffs — the sub-linear V(n) ~ "
    "K*n^beta curve that says whether a vocabulary/tokenizer frozen on "
    "a corpus prefix will keep drowning in new tokens as data grows "
    "(the companion to docs_vocab_coverage_curve, which slices by RANK "
    "at full corpus; this slices by CORPUS PREFIX). Computed from one "
    "token pass: each token reduces to its FIRST-occurrence doc id "
    "map-side, and every decile is a conditional count over that "
    "vocabulary-grain table — ten cutoffs cost one cross join with a "
    "10-row literal spine, never ten corpus scans.",
)
def docs_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    firsts = toks.groupBy("t").agg(
        F.min("doc_id").alias("first_doc"),
        F.count("*").cast("long").alias("occurrences"),
    )
    bounds = _docs(spark, sf_dir).agg(
        F.max("doc_id").alias("max_doc"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    cuts = spark.range(1, _VG_DECILES + 1).select(F.col("id").alias("decile"))
    cutoff = F.floor((F.col("max_doc") + 1) * F.col("decile") / _VG_DECILES).cast("long")
    return (
        firsts.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(cuts))
        .groupBy("decile", cutoff.alias("doc_cutoff"))
        .agg(
            F.sum(F.when(F.col("first_doc") < cutoff, 1).otherwise(0))
            .cast("long")
            .alias("vocab_size"),
            F.sum(F.when(F.col("first_doc") < cutoff, F.col("occurrences")).otherwise(0))
            .cast("long")
            .alias("mass_of_seen_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# paragraph-level dedup (CCNet-style cross-corpus repeated-segment strip)
# ---------------------------------------------------------------------------

#: paragraph unit: non-overlapping windows of this many whitespace tokens
#: (the corpus has no newline structure, so fixed-width segments stand in
#: for paragraphs — same convention as docs_passage_chunks, stride=window)
_PARA_W = 32


#: shared oracle CTE: every paragraph instance with its first-occurrence
#: rank (rn = 1 is the kept instance; rn > 1 is stripped)
_PARA_CTE = f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
    SELECT doc_id,
           CAST(u.i AS INTEGER) AS passage_idx,
           CAST(u.s AS BIGINT) AS start_tok,
           CAST(len(list_slice(t, u.s, least(u.s + {_PARA_W - 1}, len(t))))
               AS BIGINT) AS n_tokens,
           md5(array_to_string(
               list_slice(t, u.s, least(u.s + {_PARA_W - 1}, len(t))), ' ')) AS h
    FROM (
        SELECT doc_id, t,
               unnest(list_transform(
                   list_zip(starts, generate_series(1, len(starts))),
                   z -> struct_pack(s := z[1], i := z[2]))) AS u
        FROM (SELECT doc_id, t,
                     generate_series(1, len(t), {_PARA_W}) AS starts
              FROM tok))
),
r AS (
    SELECT doc_id, passage_idx, start_tok, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, passage_idx) AS rn
    FROM p
)
"""


def _para_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every paragraph instance with its ``stripped`` verdict (True for
    each instance except the global first occurrence of its hash).
    The first-instance table is corpus-growing; both sides of the
    join-back hash-partition on the segment hash, pinned shuffle-hash."""
    from watsondedupe_spark.operators.text import passage_chunks

    # the raw instance stream and its first-occurrence aggregate are two
    # DIFFERENT consumers of the same tokenize+explode+md5 pipeline —
    # without a materialization the plan runs that pipeline twice (two
    # Generate subtrees over separate documents scans). The instance
    # table is hash+ints only (~1/32 of token count rows), so one eager
    # checkpoint feeds both sides (r12, guide §1.2).
    paras = passage_chunks(
        _docs_parallel(spark, sf_dir), "text", "doc_id",
        window=_PARA_W, stride=_PARA_W,
    ).localCheckpoint(eager=True)
    first = paras.groupBy("passage_hash").agg(
        F.min(F.struct("doc_id", "passage_idx")).alias("first")
    )
    return paras.join(first.hint("shuffle_hash"), "passage_hash").select(
        "doc_id",
        "passage_idx",
        "start_tok",
        "n_tokens",
        (
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("passage_idx") != F.col("first.passage_idx"))
        ).alias("stripped"),
    )


@register(
    "docs_paragraph_dedup",
    f"""
WITH {_PARA_CTE.strip()}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(COUNT(*) FILTER (r.rn > 1) AS BIGINT) AS n_stripped,
       CAST(COALESCE(SUM(r.n_tokens) FILTER (r.rn > 1), 0) AS BIGINT)
           AS tokens_stripped,
       CAST(COUNT(*) FILTER (r.rn > 1) AS DOUBLE) / COUNT(*) AS strip_share
FROM r JOIN documents d ON d.doc_id = r.doc_id
GROUP BY d.source
""",
    doc="paragraph-level dedup (the CCNet curation step, Wenzek et al. "
    "2020): every document splits into non-overlapping "
    f"{_PARA_W}-token segments (docs_passage_chunks with stride=window), "
    "each segment is md5-keyed, and every instance except the globally "
    "FIRST occurrence (min (doc_id, passage_idx) per hash) is marked "
    "stripped — catching boilerplate and partial copies that whole-doc "
    "dedup misses and span-dedup only counts gram-wise. Output: "
    "per-source strip pressure (segments, stripped instances, tokens "
    "removed, share). Scale shape: ZERO corpus-grain joins — stripped = "
    "all-instances minus kept, so the plan is two independent "
    "aggregates (per-source instance totals off one codegen scan, and "
    "the global first instance per hash as a min-struct agg that "
    "carries source along) meeting in a LEFT join on the bounded "
    "provenance label set; the per-instance verdict table (and its "
    "shuffle-hash-pinned hash join-back) exists only where it is "
    "actually needed, in the strip transform",
)
def docs_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.text import passage_chunks

    paras = passage_chunks(
        _docs_parallel(spark, sf_dir).select("doc_id", "text", "source"),
        "text", "doc_id", window=_PARA_W, stride=_PARA_W,
        keep_cols=("source",),
    )
    total = paras.groupBy("source").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    # the kept instance per hash: min (doc_id, passage_idx) — the
    # struct's unique (doc, idx) prefix decides the min; source and
    # n_tokens ride along for the per-source credit
    kept = (
        paras.groupBy("passage_hash")
        .agg(
            F.min(
                F.struct("doc_id", "passage_idx", "source", "n_tokens")
            ).alias("f")
        )
        .groupBy(F.col("f.source").alias("source"))
        .agg(
            F.count("*").cast("long").alias("kept"),
            F.sum("f.n_tokens").cast("long").alias("kept_tokens"),
        )
    )
    # a source whose every paragraph first appeared elsewhere has no
    # kept row — left join + zero-coalesce keeps it in the output.
    # Both sides are source-grain (bounded, a handful of rows); the
    # shuffle_hash pin keeps the strict no-corpus-broadcast audit
    # trivially clean (the kept side's boundedness flows through a
    # struct alias the plan-text classifier cannot resolve)
    return (
        total.join(kept.hint("shuffle_hash"), "source", "left")
        .select(
            "source",
            "n_paras",
            (F.col("n_paras") - F.coalesce(F.col("kept"), F.lit(0)))
            .cast("long")
            .alias("n_stripped"),
            (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0)))
            .cast("long")
            .alias("tokens_stripped"),
            (
                (F.col("n_paras") - F.coalesce(F.col("kept"), F.lit(0))).cast(
                    "double"
                )
                / F.col("n_paras").cast("double")
            ).alias("strip_share"),
        )
    )


# ---------------------------------------------------------------------------
# semantic decontamination (embedding-cosine eval-set leakage)
# ---------------------------------------------------------------------------

#: eval benchmark = the first N vec_ids — FIXED-COUNT by construction
#: (a benchmark does not grow with the training corpus), which is what
#: makes the closure-captured reference matrix legitimately bounded
_DECON_EVAL_N = 64
#: flag threshold: the house near-identity cosine (emb_near_dup_pairs)
_DECON_THR = 0.40


@register(
    "emb_decontaminate",
    f"""
WITH ev AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings WHERE vec_id < {_DECON_EVAL_N}
),
tr AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings WHERE vec_id >= {_DECON_EVAL_N}
),
ms AS (
    SELECT t.vec_id, t.label, MAX({{icos}}) AS max_sim
    FROM tr t CROSS JOIN ev e
    GROUP BY t.vec_id, t.label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COUNT(*) FILTER (max_sim >= {_DECON_THR}) AS BIGINT) AS n_flagged,
       MAX(max_sim) AS top_sim
FROM ms GROUP BY label
""".replace("{icos}", _icos_sql("t.qv", "e.qv")),
    doc="semantic decontamination: the embedding-space complement of the "
    "token-n-gram docs_decontaminate — flag every training vector whose "
    "max quantized cosine to ANY eval-benchmark vector reaches the "
    f"near-identity threshold ({_DECON_THR}), per label: train count, "
    "flagged count, and the highest similarity seen. The eval set is the "
    f"first {_DECON_EVAL_N} vec_ids — fixed-count by construction, the "
    "way a real benchmark is — so the reference matrix is a bounded "
    "closure capture (centroid/codebook class, NOT corpus-growing) and "
    "the whole scan is one Arrow pass: per batch a single "
    "|batch| x |eval| integer matmul emits one max_sim per vector — no "
    "fan-out, no shuffle, no window before the final bounded-key label "
    "rollup. Quantized-integer cosine (exact int64 dot/norms, then "
    "dot / sqrt / sqrt double divisions) keeps numpy, Spark, and the "
    "DuckDB fold bit-identical; max over identical doubles is "
    "order-free, so the output hash-matches",
)
def emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import max_cosine_vs_set

    emb = _emb(spark, sf_dir)
    want = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < want:
        emb = emb.repartition(want)
    ev = emb.filter(F.col("vec_id") < _DECON_EVAL_N).select("vec_id", "embedding")
    tr = emb.filter(F.col("vec_id") >= _DECON_EVAL_N)
    ms = max_cosine_vs_set(tr, ev, keep_cols=("label",))
    return ms.groupBy("label").agg(
        F.count("*").cast("long").alias("n_train"),
        F.sum(F.when(F.col("max_sim") >= _DECON_THR, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.max("max_sim").alias("top_sim"),
    )


@register(
    "docs_strip_paragraphs",
    f"""
WITH {_PARA_CTE.strip()},
strip AS (
    SELECT doc_id, start_tok, start_tok + n_tokens - 1 AS end_tok, n_tokens
    FROM r WHERE rn > 1
),
toks AS (
    SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t)),
                   i -> struct_pack(pos := i, tok := t[i]))) AS u
        FROM tok
        WHERE doc_id IN (SELECT doc_id FROM strip)
    )
),
keep AS (
    SELECT tk.doc_id, tk.pos, tk.tok
    FROM toks tk
    WHERE NOT EXISTS (SELECT 1 FROM strip s
                      WHERE s.doc_id = tk.doc_id
                        AND tk.pos BETWEEN s.start_tok AND s.end_tok)
),
removed AS (
    SELECT doc_id, CAST(SUM(n_tokens) AS BIGINT) AS n_removed
    FROM strip GROUP BY doc_id
)
SELECT rm.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       rm.n_removed
FROM removed rm
LEFT JOIN (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM keep GROUP BY doc_id
) k USING (doc_id)
""",
    doc="paragraph-dedup REMOVAL (the transform docs_paragraph_dedup "
    "exists to feed, mirroring docs_dup_spans -> docs_strip_dup_spans): "
    "for every document holding a non-first instance of a repeated "
    f"{_PARA_W}-token segment, cut those segments out and re-join the "
    "survivors — train on the cleaned text, not on dropped documents. "
    "Spark side keeps the edit row-local: each affected doc's stripped "
    "windows collapse to ONE array (bounded by doc length, paragraphs "
    "are disjoint by construction), the window table joins back to the "
    "tokenized text on doc_id (shuffle-hash pinned: affected docs are "
    "corpus-growing), and a position-aware filter lambda drops covered "
    "tokens — the corpus text itself is never exploded or shuffled "
    "beyond that one doc_id-keyed join. A fully-covered document "
    "yields an empty string",
)
def docs_strip_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    strip = (
        _para_instances(spark, sf_dir)
        .filter(F.col("stripped"))
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("start_tok").alias("s"),
                    (F.col("start_tok") + F.col("n_tokens") - 1).alias("e"),
                )
            ).alias("sp"),
            F.sum("n_tokens").cast("long").alias("n_removed"),
        )
    )
    toks = _docs_parallel(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("t")
    )

    # two-parameter filter lambda binds (value, 0-based index); a token
    # at 1-based position p survives iff no stripped window covers p
    def outside_windows(x, i):
        p = i + 1
        return ~F.exists(
            "sp", lambda s: (s.getField("s") <= p) & (p <= s.getField("e"))
        )

    return toks.join(strip.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        F.array_join(F.filter("t", outside_windows), " ").alias("clean_text"),
        "n_removed",
    )


# ---------------------------------------------------------------------------
# quality-filter validation: exact ROC-AUC of the quality score (round 9)
# ---------------------------------------------------------------------------

_QUALITY_AUC_SQL = f"""
WITH q AS (
    SELECT lang,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g'))) AS norm_hash,
           least(1.0, CAST(len(string_split(text, ' ')) AS BIGINT) / 50.0)
             * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                      / length(text))
             * (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS DOUBLE)
                      / len(string_split(text, ' '))) AS qs
    FROM documents
    WHERE length(text) > 0
),
labeled AS (
    SELECT lang, CAST(floor(qs * 1000 + 0.5) AS BIGINT) AS sbucket,
           CASE WHEN COUNT(*) OVER (PARTITION BY norm_hash) > 1 THEN 1 ELSE 0 END AS is_dup
    FROM q
),
cells AS (
    SELECT lang, sbucket,
           CAST(SUM(is_dup) AS BIGINT) AS pos_at,
           CAST(SUM(1 - is_dup) AS BIGINT) AS neg_at
    FROM labeled GROUP BY lang, sbucket
),
run AS (
    SELECT lang, pos_at, neg_at,
           COALESCE(SUM(neg_at) OVER (PARTITION BY lang ORDER BY sbucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
    FROM cells
)
SELECT lang,
       CAST(SUM(pos_at) AS BIGINT) AS n_pos,
       CAST(SUM(neg_at) AS BIGINT) AS n_neg,
       CASE WHEN SUM(pos_at) > 0 AND SUM(neg_at) > 0
            THEN CAST(SUM(pos_at * (2 * neg_below + neg_at)) AS DOUBLE)
                 / (2.0 * SUM(pos_at) * SUM(neg_at))
       END AS auc
FROM run GROUP BY lang
"""


@register(
    "docs_quality_auc",
    _QUALITY_AUC_SQL,
    doc="quality-filter validation (the fastText/DCLM-style classifier "
    "audit every curation pipeline runs before trusting a score "
    "threshold): EXACT ROC-AUC of the composite quality score against "
    "the normalized-exact-duplicate label, per language. The rank "
    "statistic is computed WITHOUT any global sort or per-group "
    "corpus-sized window: scores quantize to a BOUNDED integer bucket "
    "(<= 1501 values), the corpus collapses to per-(lang, bucket) "
    "pos/neg counts in one shuffle, and the Mann-Whitney U with "
    "midrank tie handling is a running sum over that tiny table — "
    "AUC = sum(pos_at * (2*neg_below + neg_at)) / (2*P*N), exact "
    "integers up to one final double division, so the oracle matches "
    "bit-for-bit. At 100 TB this plan is one scan + one bounded agg; "
    "the textbook sort-by-score formulation funnels the corpus "
    "through one task and is exactly what the funnel audit forbids.",
)
def docs_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _STOPWORDS

    toks = F.split("text", " ")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    # the docs_quality composite, identical operation order (bit-exact
    # doubles both engines), quantized to the bounded bucket key
    qs = (
        F.least(F.lit(1.0), F.size(toks).cast("long") / 50.0)
        * (
            1.0
            - (
                F.length("text")
                - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
            ).cast("double")
            / F.length("text")
        )
        * (
            0.5
            + F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double")
            / F.size(toks)
        )
    )
    # empty text nulls qs (0/0) and so sbucket; Spark orders NULLS FIRST
    # ascending while DuckDB defaults NULLS LAST, so a NULL bucket would
    # silently skew neg_below — exclude empty docs identically in both
    # engines (an empty doc has no defined quality score anyway)
    labeled = _docs(spark, sf_dir).filter(F.length("text") > 0).select(
        "lang",
        F.floor(qs * 1000 + F.lit(0.5)).cast("long").alias("sbucket"),
        F.md5(norm).alias("norm_hash"),
    )
    is_dup = (
        (F.count("*").over(Window.partitionBy("norm_hash")) > 1).cast("int")
    )
    cells = (
        labeled.withColumn("is_dup", is_dup)
        .groupBy("lang", "sbucket")
        .agg(
            F.sum("is_dup").cast("long").alias("pos_at"),
            F.sum(1 - F.col("is_dup")).cast("long").alias("neg_at"),
        )
    )
    wb = (
        Window.partitionBy("lang")
        .orderBy("sbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = cells.withColumn(
        "neg_below", F.coalesce(F.sum("neg_at").over(wb), F.lit(0))
    )
    return (
        run.groupBy("lang")
        .agg(
            F.sum("pos_at").cast("long").alias("n_pos"),
            F.sum("neg_at").cast("long").alias("n_neg"),
            F.sum(F.col("pos_at") * (2 * F.col("neg_below") + F.col("neg_at")))
            .cast("long")
            .alias("_u2"),
        )
        .select(
            "lang",
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("_u2").cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
            ).alias("auc"),
        )
    )


_QUALITY_PR_SQL = f"""
WITH q AS (
    SELECT lang,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g'))) AS norm_hash,
           least(1.0, CAST(len(string_split(text, ' ')) AS BIGINT) / 50.0)
             * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                      / length(text))
             * (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS DOUBLE)
                      / len(string_split(text, ' '))) AS qs
    FROM documents
    WHERE length(text) > 0
),
labeled AS (
    SELECT lang, CAST(floor(qs * 1000 + 0.5) AS BIGINT) AS sbucket,
           CASE WHEN COUNT(*) OVER (PARTITION BY norm_hash) > 1 THEN 1 ELSE 0 END AS is_dup
    FROM q
),
cells AS (
    SELECT lang, sbucket,
           CAST(SUM(is_dup) AS BIGINT) AS pos_at,
           CAST(SUM(1 - is_dup) AS BIGINT) AS neg_at
    FROM labeled GROUP BY lang, sbucket
)
SELECT lang, sbucket AS threshold,
       CAST(SUM(pos_at + neg_at) OVER w AS BIGINT) AS n_kept,
       CAST(SUM(neg_at) OVER w AS BIGINT) AS n_clean_kept,
       CAST(SUM(neg_at) OVER w AS DOUBLE)
           / SUM(pos_at + neg_at) OVER w AS precision,
       CASE WHEN SUM(neg_at) OVER (PARTITION BY lang) > 0
            THEN CAST(SUM(neg_at) OVER w AS DOUBLE)
                 / SUM(neg_at) OVER (PARTITION BY lang)
       END AS recall
FROM cells
WINDOW w AS (PARTITION BY lang ORDER BY sbucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "docs_quality_pr_curve",
    _QUALITY_PR_SQL,
    doc="the threshold-sweep half of quality-filter validation (the "
    "AUC's companion): per language, for every OBSERVED score bucket "
    "taken as a keep-threshold, the kept count, clean-kept count, "
    "precision (clean fraction of what a >=threshold filter keeps) "
    "and recall (fraction of all clean docs it keeps) — the table a "
    "pipeline reads to pick the operating point. Same bounded-bucket "
    "substrate as docs_quality_auc: one corpus scan collapses to "
    "per-(lang, bucket) pos/neg counts, and the sweep is suffix sums "
    "over that tiny table (window partitioned by lang — never a "
    "global one-task sort); exact integers up to final double "
    "divisions, bit-identical in the oracle.",
)
def docs_quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.queries.llm_pipeline import _STOPWORDS

    toks = F.split("text", " ")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    qs = (
        F.least(F.lit(1.0), F.size(toks).cast("long") / 50.0)
        * (
            1.0
            - (
                F.length("text")
                - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
            ).cast("double")
            / F.length("text")
        )
        * (
            0.5
            + F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double")
            / F.size(toks)
        )
    )
    # same empty-text exclusion as docs_quality_auc (NULL sbucket would
    # order differently in Spark vs the DuckDB oracle)
    labeled = _docs(spark, sf_dir).filter(F.length("text") > 0).select(
        "lang",
        F.floor(qs * 1000 + F.lit(0.5)).cast("long").alias("sbucket"),
        F.md5(norm).alias("norm_hash"),
    )
    is_dup = (F.count("*").over(Window.partitionBy("norm_hash")) > 1).cast("int")
    cells = (
        labeled.withColumn("is_dup", is_dup)
        .groupBy("lang", "sbucket")
        .agg(
            F.sum("is_dup").cast("long").alias("pos_at"),
            F.sum(1 - F.col("is_dup")).cast("long").alias("neg_at"),
        )
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("sbucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlang = Window.partitionBy("lang")
    kept = F.sum(F.col("pos_at") + F.col("neg_at")).over(w)
    clean_kept = F.sum("neg_at").over(w)
    total_neg = F.sum("neg_at").over(wlang)
    return cells.select(
        "lang",
        F.col("sbucket").alias("threshold"),
        kept.cast("long").alias("n_kept"),
        clean_kept.cast("long").alias("n_clean_kept"),
        (clean_kept.cast("double") / kept).alias("precision"),
        F.when(
            total_neg > 0, clean_kept.cast("double") / total_neg
        ).alias("recall"),
    )
