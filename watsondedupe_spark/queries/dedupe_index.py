"""DQ1-DQ12 — the reference's index queries, oracle-checkable.

The CDC chunker is not SQL-expressible, so for the DuckDB-verified gate
we derive a *deterministic, SQL-expressible* chunk index from the
``documents`` table (fixed 64-char chunks keyed by md5) and run the
reference's twelve query shapes against it. The shapes — point lookup,
existence probe, keyset pagination, ordered map retrieval, IN-list chunk
lookup, interval containment, aggregates, ratio math, refcount grouping,
GC anti-join, position window, coverage join — are exactly SURVEY.md
§2.3 DQ1-DQ12 (reference citations there). The *real* CDC index is
exercised end-to-end by the engine tests and ``entry()``.

Both sides use identical names/types so the driver's order-insensitive
value-hash matches: md5 is lowercase hex in Spark and DuckDB; substr is
1-based chars in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from watsondedupe_spark.queries import register

CHUNK = 64  # chars per derived chunk

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def object_map_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived object_map: one row per (object, chunk occurrence).

    The explode + per-chunk md5 below is the expensive narrow stage; a
    single-file corpus scans as one partition and would run it on one
    core, so parallelize the scan first (no-op on a many-partition scan).
    """
    from watsondedupe_spark.queries.llm_pipeline import _docs_parallel

    return (
        _docs_parallel(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("doc_id").cast("string").alias("object_key"),
            "text",
        )
        .select(
            "id",
            "object_key",
            F.explode(
                F.sequence(F.lit(0), F.floor((F.length("text") - 1) / CHUNK).cast("int"))
            ).alias("position"),
            "text",
        )
        .select(
            "id",
            "object_key",
            F.col("position").cast("int").alias("position"),
            F.md5(F.expr(f"substr(text, position*{CHUNK}+1, {CHUNK})")).alias("chunk_key"),
            # arithmetically equal to length(substr(...)) — the explode
            # bound guarantees position*CHUNK < length(text) — without
            # materializing the substring a second time
            F.least(F.lit(CHUNK), F.length("text") - F.col("position") * CHUNK)
            .cast("int")
            .alias("length"),
            (F.col("position").cast("long") * CHUNK).alias("address"),
        )
    )


def objects_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = object_map_df(spark, sf_dir)
    return om.groupBy("id", "object_key").agg(
        F.sum("length").cast("long").alias("original_length"),
        F.sum("length").cast("long").alias("comp_length"),
        F.count("*").cast("long").alias("chunk_count"),
    )


#: DuckDB CTE equivalents (documents is a pre-registered view).
OM_SQL = f"""
om AS (
    SELECT CAST(d.doc_id AS BIGINT) AS id,
           CAST(d.doc_id AS VARCHAR) AS object_key,
           CAST(g.i AS INTEGER) AS position,
           md5(substr(d.text, CAST(g.i AS INTEGER)*{CHUNK}+1, {CHUNK})) AS chunk_key,
           CAST(length(substr(d.text, CAST(g.i AS INTEGER)*{CHUNK}+1, {CHUNK})) AS INTEGER) AS length,
           CAST(g.i*{CHUNK} AS BIGINT) AS address
    FROM documents d
    JOIN (SELECT unnest(generate_series(0, 255)) AS i) g
      ON g.i*{CHUNK} < length(d.text)
)
"""

OB_SQL = """
ob AS (
    SELECT id, object_key,
           CAST(SUM(length) AS BIGINT) AS original_length,
           CAST(SUM(length) AS BIGINT) AS comp_length,
           CAST(COUNT(*) AS BIGINT) AS chunk_count
    FROM om GROUP BY id, object_key
)
"""

# ---------------------------------------------------------------------------
# DQ1/DQ2 — point lookup + existence probe (O8/O11)
# ---------------------------------------------------------------------------

_PROBE_KEYS = ("17", "42", "309", "499", "100000")  # last one never exists


@register(
    "ddp_point_lookup",
    f"WITH {OM_SQL.strip()}, {OB_SQL.strip()}\n"
    "SELECT id, object_key, original_length, comp_length, chunk_count "
    "FROM ob WHERE object_key = '42'",
    doc="DQ1: object metadata point lookup (SqliteProvider.cs:282-305)",
)
def ddp_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return objects_df(spark, sf_dir).filter(F.col("object_key") == "42")


@register(
    "ddp_exists",
    f"WITH {OM_SQL.strip()}, {OB_SQL.strip()}\n"
    f"SELECT k.object_key, CAST(ob.object_key IS NOT NULL AS BOOLEAN) AS key_exists\n"
    f"FROM (SELECT unnest({list(_PROBE_KEYS)}) AS object_key) k\n"
    "LEFT JOIN ob ON ob.object_key = k.object_key",
    doc="DQ2: existence probes, hit + miss (SqliteProvider.cs:258-270)",
)
def ddp_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = spark.createDataFrame([(k,) for k in _PROBE_KEYS], "object_key string")
    ob = objects_df(spark, sf_dir)
    return probes.join(
        ob.select("object_key", F.lit(True).alias("hit")), "object_key", "left"
    ).select("object_key", F.coalesce("hit", F.lit(False)).alias("key_exists"))


# ---------------------------------------------------------------------------
# DQ3 — keyset-paginated prefix listing (O12)
# ---------------------------------------------------------------------------


@register(
    "ddp_list_page",
    f"WITH {OM_SQL.strip()}, {OB_SQL.strip()}\n"
    "SELECT id, object_key, original_length, chunk_count FROM ob\n"
    "WHERE id > 100 AND object_key LIKE '2%' ORDER BY id LIMIT 20",
    doc="DQ3: keyset pagination — seek on id, prefix filter, LIMIT "
    "(SqliteProvider.cs:210-223; page cap EnumerationResult.cs:60)",
)
def ddp_list_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        objects_df(spark, sf_dir)
        .filter((F.col("id") > 100) & F.col("object_key").startswith("2"))
        .orderBy("id")
        .limit(20)
        .select("id", "object_key", "original_length", "chunk_count")
    )


# ---------------------------------------------------------------------------
# DQ4/DQ5/DQ6 — per-object map, chunk IN-list, interval containment
# ---------------------------------------------------------------------------


@register(
    "ddp_object_map_lookup",
    f"WITH {OM_SQL.strip()}\n"
    "SELECT object_key, chunk_key, length, position, address FROM om "
    "WHERE object_key = '42'",
    doc="DQ4: ordered map for one object (SqliteProvider.cs:400-414)",
)
def ddp_object_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        object_map_df(spark, sf_dir)
        .filter(F.col("object_key") == "42")
        .select("object_key", "chunk_key", "length", "position", "address")
    )


@register(
    "ddp_chunks_of_object",
    f"WITH {OM_SQL.strip()},\n"
    "ck AS (SELECT chunk_key, CAST(MIN(length) AS INTEGER) AS length,\n"
    "              CAST(COUNT(*) AS BIGINT) AS ref_count FROM om GROUP BY chunk_key)\n"
    "SELECT c.chunk_key, c.length, c.ref_count FROM ck c\n"
    "WHERE c.chunk_key IN (SELECT DISTINCT chunk_key FROM om WHERE object_key = '42')",
    doc="DQ5: IN-list chunk metadata lookup == semi-join (SqliteProvider.cs:333-355)",
)
def ddp_chunks_of_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = object_map_df(spark, sf_dir)
    chunks = om.groupBy("chunk_key").agg(
        F.min("length").cast("int").alias("length"),
        F.count("*").cast("long").alias("ref_count"),
    )
    wanted = om.filter(F.col("object_key") == "42").select("chunk_key").distinct()
    return chunks.join(F.broadcast(wanted), "chunk_key", "left_semi")


@register(
    "ddp_range_lookup",
    f"WITH {OM_SQL.strip()}\n"
    "SELECT object_key, chunk_key, length, position, address FROM om\n"
    "WHERE object_key = '42' AND address <= 130 AND address + length > 130",
    doc="DQ6: interval-containment theta predicate — the reference's one "
    "hand-written SQL query (SqliteProvider.cs:378-382)",
)
def ddp_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        object_map_df(spark, sf_dir)
        .filter(
            (F.col("object_key") == "42")
            & (F.col("address") <= 130)
            & (F.col("address") + F.col("length") > 130)
        )
        .select("object_key", "chunk_key", "length", "position", "address")
    )


# ---------------------------------------------------------------------------
# DQ7/DQ8 — aggregate statistics + derived ratios (O20/O21)
# ---------------------------------------------------------------------------


@register(
    "ddp_stats",
    f"WITH {OM_SQL.strip()}, {OB_SQL.strip()},\n"
    "ck AS (SELECT chunk_key, MIN(length) AS length FROM om GROUP BY chunk_key)\n"
    "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ob) AS object_count,\n"
    "       (SELECT CAST(COUNT(*) AS BIGINT) FROM ck) AS chunk_count,\n"
    "       (SELECT CAST(SUM(original_length) AS BIGINT) FROM ob) AS logical_bytes,\n"
    "       (SELECT CAST(SUM(length) AS BIGINT) FROM ck) AS physical_bytes",
    doc="DQ7: COUNT/SUM statistics (SqliteProvider.cs:155-190)",
)
def ddp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one derivation of the chunk index feeds both aggregate branches
    # (persist: the md5-per-chunk explode is the cost, not the aggs);
    # object stats come straight from the map — count(distinct id) ==
    # count of grouped objects, sum(length) == sum of original_length
    om = object_map_df(spark, sf_dir).persist()
    o = om.agg(
        F.count_distinct("id").cast("long").alias("object_count"),
        F.sum("length").cast("long").alias("logical_bytes"),
    )
    ck = om.groupBy("chunk_key").agg(F.min("length").alias("length"))
    c = ck.agg(
        F.count("*").cast("long").alias("chunk_count"),
        F.sum("length").cast("long").alias("physical_bytes"),
    )
    return o.crossJoin(c).select("object_count", "chunk_count", "logical_bytes", "physical_bytes")


@register(
    "ddp_ratio",
    f"WITH {OM_SQL.strip()},\n"
    "ck AS (SELECT chunk_key, MIN(length) AS length FROM om GROUP BY chunk_key),\n"
    "s AS (SELECT (SELECT CAST(SUM(length) AS BIGINT) FROM om) AS logical_bytes,\n"
    "             (SELECT CAST(SUM(length) AS BIGINT) FROM ck) AS physical_bytes)\n"
    "SELECT logical_bytes, physical_bytes,\n"
    "  CASE WHEN logical_bytes = 0 OR physical_bytes = 0 THEN CAST(0.0 AS DOUBLE)\n"
    "       ELSE CAST(logical_bytes AS DOUBLE) / CAST(physical_bytes AS DOUBLE) END AS ratio_x,\n"
    "  CASE WHEN logical_bytes = 0 OR physical_bytes = 0 THEN CAST(0.0 AS DOUBLE)\n"
    "       ELSE 100.0 * (1.0 - CAST(physical_bytes AS DOUBLE) / CAST(logical_bytes AS DOUBLE)) END AS ratio_percent\n"
    "FROM s",
    doc="DQ8: dedup ratios with div-by-zero guard (IndexStatistics.cs:81-108)",
)
def ddp_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = object_map_df(spark, sf_dir).persist()
    ck = om.groupBy("chunk_key").agg(F.min("length").alias("length"))
    s = (
        om.agg(F.sum("length").cast("long").alias("logical_bytes"))
        .crossJoin(ck.agg(F.sum("length").cast("long").alias("physical_bytes")))
    )
    zero = (F.col("logical_bytes") == 0) | (F.col("physical_bytes") == 0)
    return s.select(
        "logical_bytes",
        "physical_bytes",
        F.when(zero, F.lit(0.0))
        .otherwise(F.col("logical_bytes").cast("double") / F.col("physical_bytes").cast("double"))
        .alias("ratio_x"),
        F.when(zero, F.lit(0.0))
        .otherwise(
            # op order matches the oracle exactly: 100*(1 - p/l), not 100-100*p/l
            100.0 * (1.0 - F.col("physical_bytes").cast("double") / F.col("logical_bytes").cast("double"))
        )
        .alias("ratio_percent"),
    )


# ---------------------------------------------------------------------------
# DQ9/DQ10 — refcount grouping + GC anti-join (O17/O18/O19)
# ---------------------------------------------------------------------------


@register(
    "ddp_refcount",
    f"WITH {OM_SQL.strip()}\n"
    "SELECT chunk_key, CAST(COUNT(*) AS BIGINT) AS ref_count FROM om GROUP BY chunk_key",
    doc="DQ9: refcount == COUNT(*) per chunk_key (SqliteProvider.cs:463-484)",
)
def ddp_refcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        object_map_df(spark, sf_dir)
        .groupBy("chunk_key")
        .agg(F.count("*").cast("long").alias("ref_count"))
    )


@register(
    "ddp_gc_candidates",
    f"WITH {OM_SQL.strip()}\n"
    "SELECT chunk_key FROM om GROUP BY chunk_key\n"
    "HAVING SUM(CASE WHEN id >= 50 THEN 1 ELSE 0 END) = 0",
    doc="DQ10: GC candidates — chunks whose every reference is in a "
    "simulated delete set (id < 50); the anti-join of "
    "SqliteProvider.cs:533-556 after a batched delete",
)
def ddp_gc_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = object_map_df(spark, sf_dir)
    return (
        om.groupBy("chunk_key")
        .agg(F.sum(F.when(F.col("id") >= 50, 1).otherwise(0)).alias("live"))
        .filter(F.col("live") == 0)
        .select("chunk_key")
    )


# ---------------------------------------------------------------------------
# DQ11/DQ12 — position window invariant + coverage join
# ---------------------------------------------------------------------------


@register(
    "ddp_position_window",
    f"WITH {OM_SQL.strip()}\n"
    "SELECT object_key, chunk_key, position,\n"
    "       CAST(ROW_NUMBER() OVER (PARTITION BY object_key ORDER BY address) - 1 AS INTEGER) AS derived_position\n"
    "FROM om WHERE id < 20",
    doc="DQ11: stored position == row_number over address (DedupeObjectMap.cs:42)",
)
def ddp_position_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("object_key").orderBy("address")
    return (
        object_map_df(spark, sf_dir)
        .filter(F.col("id") < 20)
        .select(
            "object_key",
            "chunk_key",
            "position",
            (F.row_number().over(w) - 1).cast("int").alias("derived_position"),
        )
    )


@register(
    "ddp_coverage",
    f"WITH {OM_SQL.strip()}, {OB_SQL.strip()}\n"
    "SELECT m.object_key, o.original_length,\n"
    "       CAST(COUNT(*) AS BIGINT) AS n_chunks,\n"
    "       CAST(SUM(m.length) AS BIGINT) AS mapped_bytes\n"
    "FROM om m JOIN ob o ON m.object_key = o.object_key\n"
    "GROUP BY m.object_key, o.original_length",
    doc="DQ12: coverage invariant — mapped_bytes = comp_length, n_chunks = "
    "chunk_count (DedupeLibrary.cs:233)",
)
def ddp_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = object_map_df(spark, sf_dir)
    # r13 (guide §1.2/§2.4): ob IS om re-aggregated (objects_df derives
    # original_length as SUM(om.length) per object), so the old
    # join-then-aggregate form ran the chunker-derivation subtree TWICE
    # and shuffled both sides. ob is key-unique (one row per object) and
    # its key set equals om's, so the inner join neither filters nor
    # multiplies om rows — aggregate-once is row-identical: per object,
    # original_length == SUM(length) == mapped_bytes by the same
    # derivation both engines use. One om pass, one exchange, and the
    # join operator is gone; at 100 TB this halves the per-chunk
    # substrate compute for the row. Oracle hash unchanged. The
    # equivalence holds only while objects_df derives original_length
    # as SUM(om.length): test_objects_original_length_is_map_length_sum
    # fails if it ever gains an independent source, before the coverage
    # invariant can turn vacuous.
    return (
        om.groupBy("object_key")
        .agg(
            F.sum("length").cast("long").alias("original_length"),
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("length").cast("long").alias("mapped_bytes"),
        )
        .select("object_key", "original_length", "n_chunks", "mapped_bytes")
    )
