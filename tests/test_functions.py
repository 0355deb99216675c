"""The functions namespace: every exported expression is a Catalyst
column (no Python UDF) and computes what its operator-module home says."""

from pyspark.sql import Column
from pyspark.sql import functions as F

from watsondedupe_spark import functions as WF


def test_exports_are_column_expressions(spark):
    # column construction requires an active session (higher-order
    # functions resolve lambdas through it)
    for name in (
        "chunk_key_col",
        "l2_norm",
        "token_count",
        "quality_score",
        "normalized_text",
        "content_hash",
    ):
        assert isinstance(getattr(WF, name)(F.lit("x")), Column), name
    assert isinstance(WF.cosine(F.lit("x"), F.lit("y")), Column)
    assert isinstance(WF.dot(F.lit("x"), F.lit("y")), Column)


def test_normalized_text_and_hash(spark):
    df = spark.createDataFrame([("  The QUICK,,  fox!  ",)], "t string")
    row = df.select(
        WF.normalized_text("t").alias("n"), WF.content_hash(WF.normalized_text("t")).alias("h")
    ).collect()[0]
    assert row.n == "the quick fox"
    import hashlib

    assert row.h == hashlib.md5(b"the quick fox").hexdigest()


def test_interval_contains(spark):
    df = spark.createDataFrame([(0, 100), (100, 50), (150, 10)], "address long, length long")
    hit = df.filter(WF.interval_contains("address", "length", 120)).collect()
    assert [(r.address, r.length) for r in hit] == [(100, 50)]


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], "a array<float>, b array<float>"
    )
    rows = df.select(
        WF.dot(F.col("a"), F.col("b")).alias("d"), WF.cosine(F.col("a"), F.col("b")).alias("c")
    ).collect()
    assert rows[0].d == 1.0 and rows[0].c == 1.0
    assert rows[1].d == 0.0 and rows[1].c == 0.0


def test_chunk_spans_udtf_matches_expression_derivation(spark, sf_dir):
    """The Python UDTF and the pure-expression chunk layout must agree."""
    from pyspark.sql import functions as F

    from watsondedupe_spark.functions.udtfs import register_udtfs
    from watsondedupe_spark.queries.dedupe_index import CHUNK, object_map_df

    register_udtfs(spark)
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("udtf_docs")
    via_udtf = {
        (str(r.doc_id), r.position, r.address, r.length)
        for r in spark.sql(
            f"""SELECT d.doc_id, s.position, s.address, s.length
                FROM udtf_docs d,
                LATERAL chunk_spans(CAST(length(d.text) AS INT), {CHUNK}) s"""
        ).collect()
    }
    via_expr = {
        (r.object_key, r.position, r.address, r.length)
        for r in object_map_df(spark, sf_dir).collect()
    }
    assert via_udtf == via_expr


def test_objects_original_length_is_map_length_sum(spark, sf_dir):
    """ddp_coverage reads original_length and mapped_bytes off one
    SUM(length) over object_map, which is only row-identical to the
    join form while objects_df derives original_length the same way.
    If objects_df ever gains an independent original_length source,
    this fails instead of the query's coverage invariant turning
    vacuous."""
    from pyspark.sql import functions as F

    from watsondedupe_spark.queries.dedupe_index import object_map_df, objects_df

    mapped = object_map_df(spark, sf_dir).groupBy("object_key").agg(
        F.sum("length").alias("mapped_bytes")
    )
    joined = objects_df(spark, sf_dir).join(mapped, "object_key", "full_outer")
    n, bad = joined.agg(
        F.count("*"),
        F.sum(
            F.when(~F.col("original_length").eqNullSafe(F.col("mapped_bytes")), 1).otherwise(0)
        ),
    ).collect()[0]
    assert n > 0 and bad == 0
