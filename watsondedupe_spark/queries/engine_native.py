"""Engine-native queries: CDC chunking, SimHash, float vector search,
multimodal plumbing.

Where round 1 recorded these as rows-only, round 2 gives the
oracle-able ones real DuckDB oracles:

- ``docs_simhash`` / ``docs_simhash_candidates`` now use the portable
  60-bit md5-derived SimHash (operators/dedupe.py:simhash60_md5) whose
  fingerprint DuckDB recomputes bit-for-bit;
- ``emb_cosine_topk_float`` exploits that Spark's ``aggregate`` fold and
  DuckDB's ``list_reduce`` are both strict left folds: identical operand
  order means identical IEEE-754 doubles, no quantization needed;
- ``cdc_chunk_index`` / ``cdc_chunk_index_segmented`` return the chunk
  invariants SQL can predict (SURVEY.md §5 invariant 1: chunks exactly
  tile the object) instead of the raw chunk-count accounting only the
  chunker itself knows.

Still rows-only (the brief's sanctioned classes): the multimodal seams
(decoder stubs), numpy-accumulation paths whose float ordering cannot
bit-match a SQL fold, and the iterative k-means refinement — their
correctness is pytest-pinned (tests/test_engine.py,
tests/test_operators.py, tests/test_curation_ext.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from watsondedupe_spark.queries import register
from watsondedupe_spark.substrates import substrate


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _chunk_invariants(chunks: DataFrame) -> DataFrame:
    """Per-object invariant summary of a chunk index: the properties a SQL
    oracle can predict without running the chunker (DedupeLibrary.cs:640-713
    semantics): chunks tile the payload contiguously from byte 0, positions
    are the ordinal of that tiling, and every chunk length is in bounds."""
    from watsondedupe_spark.chunking import SMALL_FILE_PROFILE

    max_chunk = SMALL_FILE_PROFILE[1]
    w = Window.partitionBy("object_key").orderBy("address")
    prev_end = F.lag(F.col("address") + F.col("length")).over(w)
    link_ok = F.when(prev_end.isNull(), F.col("address") == 0).otherwise(
        F.col("address") == prev_end
    )
    pos_ok = (F.row_number().over(w) - 1) == F.col("position")
    len_ok = (F.col("length") >= 1) & (F.col("length") <= max_chunk)
    return (
        chunks.select("object_key", "length", link_ok.alias("l"), pos_ok.alias("p"), len_ok.alias("b"))
        .groupBy("object_key")
        .agg(
            F.sum("length").cast("long").alias("total_bytes"),
            F.bool_and("l").alias("contiguous"),
            F.bool_and("p").alias("positions_ok"),
            F.bool_and("b").alias("lengths_ok"),
        )
    )


_CDC_INVARIANT_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS object_key,
       CAST(20 * octet_length(encode(text)) AS BIGINT) AS total_bytes,
       TRUE AS contiguous,
       TRUE AS positions_ok,
       TRUE AS lengths_ok
FROM documents
"""


@register(
    "cdc_chunk_index",
    _CDC_INVARIANT_SQL,
    doc="O1/O2: content-defined chunking of the documents corpus (payloads "
    "inflated 20x past min_chunk_size) with the SQL-predictable coverage "
    "invariants: chunk bytes sum to the payload size, addresses tile "
    "contiguously from 0, positions are the tiling ordinals, lengths "
    "within bounds (DedupeLibrary.cs:605-717 semantics, SURVEY §5 inv 1).",
)
def cdc_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE, chunk_objects

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    return _chunk_invariants(chunk_objects(objs, ChunkSettings(*SMALL_FILE_PROFILE)))


# ---------------------------------------------------------------------------
# engine write path, graded end to end (round-6 verdict #2): the full
# write_batch -> CAS table commits -> read-back loop through the REAL
# DedupeEngine + IndexStore, not a synthetic chunk index. The oracle is
# closed-form: every output column is SQL-predictable from the source
# corpus (SURVEY §5 invariants; reference anchor src/SampleApp/
# Program.cs:19-35 — write, stats, read-back, byte equality).
# ---------------------------------------------------------------------------

_ENGINE_ROUNDTRIP_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS object_key,
       CAST(ROW_NUMBER() OVER (ORDER BY CAST(doc_id AS VARCHAR)) AS BIGINT) AS id,
       CAST(20 * octet_length(encode(text)) AS BIGINT) AS original_length,
       TRUE AS comp_ok, TRUE AS count_ok, TRUE AS mapped_ok,
       TRUE AS contiguous, TRUE AS positions_ok, TRUE AS lengths_ok,
       TRUE AS refcounts_ok, TRUE AS store_ok,
       md5(repeat(text, 20)) AS payload_md5
FROM documents
"""


def _engine_write_roundtrip(spark: SparkSession, sf_dir: str, store_cls) -> DataFrame:
    """Ingest the (20x-inflated) documents corpus through a throwaway
    real index, re-open it via backend autodetection, and emit the
    per-object invariant table:

    - ``id``            ingest-sequence id (closed form: the 1-based rank
                        of object_key — grades assign_ingest_ids)
    - ``original_length`` from the objects table (closed form: 20x the
                        source byte length)
    - ``comp_ok``       comp_length == original_length (chunks tile)
    - ``count_ok``      objects.chunk_count == object_map row count
    - ``mapped_ok``     sum of map lengths == original_length
    - ``contiguous``/``positions_ok``/``lengths_ok`` — the map tiles the
                        payload from byte 0, ordinals match, bounds hold
    - ``refcounts_ok``  every referenced chunk's stored ref_count equals
                        its global map reference count (O17 witness)
    - ``store_ok``      every referenced chunk has exactly its declared
                        bytes in chunk_store (content-addressed store)
    - ``payload_md5``   md5 of the REASSEMBLED object (distributed
                        get_batch shape) == md5 of the source payload

    The result is eagerly checkpointed so the temp index can be removed
    before the (lazy) DataFrame is collected by the grader.
    """
    return _engine_scenario(spark, sf_dir, store_cls, lambda eng: None)


def _index_invariant_table(eng) -> DataFrame:
    """The per-object invariant/accounting table over a live engine's
    PERSISTED tables (the read-back half of every engine_* graded
    query). See :func:`_engine_write_roundtrip` for column semantics."""
    from watsondedupe_spark.chunking import SMALL_FILE_PROFILE

    max_chunk = SMALL_FILE_PROFILE[1]
    omap, chunks, objects, cstore = (
        eng.object_map, eng.chunks, eng.objects, eng.chunk_store,
    )

    # map-tiling invariants (the cdc_chunk_index recipe, but over the
    # PERSISTED object_map read back from the store)
    w = Window.partitionBy("object_key").orderBy("address")
    prev_end = F.lag(F.col("address") + F.col("length")).over(w)
    link_ok = F.when(prev_end.isNull(), F.col("address") == 0).otherwise(
        F.col("address") == prev_end
    )
    pos_ok = (F.row_number().over(w) - 1) == F.col("position")
    len_ok = (F.col("length") >= 1) & (F.col("length") <= max_chunk)
    tiling = (
        omap.select(
            "object_key", "length",
            link_ok.alias("l"), pos_ok.alias("p"), len_ok.alias("b"),
        )
        .groupBy("object_key")
        .agg(
            F.sum("length").cast("long").alias("mapped_bytes"),
            F.count("*").cast("long").alias("n_map_rows"),
            F.bool_and("l").alias("contiguous"),
            F.bool_and("p").alias("positions_ok"),
            F.bool_and("b").alias("lengths_ok"),
        )
    )

    # refcount + content-addressed-store witnesses, rolled up per object
    refs = omap.groupBy("chunk_key").agg(F.count("*").alias("n_refs"))
    per_chunk = (
        refs.join(chunks, "chunk_key", "left")
        .join(
            cstore.select("chunk_key", F.length("data").alias("stored_len")),
            "chunk_key",
            "left",
        )
        .select(
            "chunk_key",
            F.col("ref_count").eqNullSafe(F.col("n_refs")).alias("rc_ok"),
            F.col("stored_len").eqNullSafe(F.col("length")).alias("st_ok"),
        )
    )
    witness = (
        omap.select("object_key", "chunk_key")
        .join(per_chunk, "chunk_key")
        .groupBy("object_key")
        .agg(
            F.bool_and("rc_ok").alias("refcounts_ok"),
            F.bool_and("st_ok").alias("store_ok"),
        )
    )

    # distributed reassembly (the get_batch shape) -> payload md5
    digest = (
        cstore.join(omap.select("object_key", "chunk_key", "address"), "chunk_key")
        .groupBy("object_key")
        .agg(F.sort_array(F.collect_list(F.struct("address", "data"))).alias("_p"))
        .select(
            "object_key",
            F.md5(
                F.aggregate(
                    "_p",
                    F.lit(b"").cast("binary"),
                    lambda acc, p: F.concat(acc, p["data"]),
                )
            ).alias("payload_md5"),
        )
    )

    return (
        objects.join(tiling, "object_key")
        .join(witness, "object_key")
        .join(digest, "object_key")
        .select(
            "object_key",
            "id",
            "original_length",
            (F.col("comp_length") == F.col("original_length")).alias("comp_ok"),
            (F.col("chunk_count") == F.col("n_map_rows")).alias("count_ok"),
            (F.col("mapped_bytes") == F.col("original_length")).alias("mapped_ok"),
            "contiguous",
            "positions_ok",
            "lengths_ok",
            "refcounts_ok",
            "store_ok",
            "payload_md5",
        )
    )


def _engine_scenario(spark: SparkSession, sf_dir: str, store_cls, mutate) -> DataFrame:
    """Shared harness for the engine_* graded queries: ingest the
    20x-inflated corpus into a throwaway real index, apply ``mutate``
    (the scenario under grade — no-op / batched replace / crash+repair),
    autodetect re-open, and read the invariant table back. The result is
    eagerly checkpointed so the temp index can be removed before the
    (lazy) DataFrame is collected by the grader."""
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_roundtrip_")
    try:
        eng = DedupeEngine.create(
            spark, root, ChunkSettings(*SMALL_FILE_PROFILE), store_cls=store_cls
        )
        eng.write_batch(objs)
        mutate(eng)
        eng = DedupeEngine.open(spark, root)  # autodetect re-open, graded
        result = _index_invariant_table(eng).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


@register(
    "engine_write_roundtrip",
    _ENGINE_ROUNDTRIP_SQL,
    doc="O1-O21 in one graded loop: write_batch through the REAL engine "
    "(chunker pass, CAS refcount merge, insert-if-absent payloads, "
    "distributed ingest-id assignment, one catalog flip of the four "
    "tables under the composite-op lock) into a throwaway file-manifest index, autodetect "
    "re-open, then read every table back and verify the §5 invariants "
    "plus full byte-level reassembly (md5) — all closed forms of the "
    "source corpus (engine.py:276-497; SampleApp/Program.cs:19-35).",
)
def engine_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import IndexStore

    return _engine_write_roundtrip(spark, sf_dir, IndexStore)


@register(
    "engine_write_roundtrip_sqlite",
    _ENGINE_ROUNDTRIP_SQL,
    doc="the same graded write->read-back loop through the SECOND store "
    "backend (SqliteIndexStore: manifests in a SQLite catalog, CAS as "
    "BEGIN IMMEDIATE) — the DbProvider pluggability proof "
    "(DbProvider.cs:10) in a driver-graded path, not just pytest.",
)
def engine_write_roundtrip_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import SqliteIndexStore

    return _engine_write_roundtrip(spark, sf_dir, SqliteIndexStore)


# Replace scenario: the 1-in-3 doc slice re-ingests at 25x inflation.
# Kept objects retain their original ids (rank among ALL keys); replaced
# objects get fresh ids past the high-water mark (total + rank within
# the replaced slice, in object_key order) — the manifest-meta max_id
# survives the delete, so the closed form is exact.
_ENGINE_REPLACE_SQL = """
WITH ranked AS (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (ORDER BY CAST(doc_id AS VARCHAR)) AS rk_all,
           ROW_NUMBER() OVER (PARTITION BY doc_id % 3 = 0
                              ORDER BY CAST(doc_id AS VARCHAR)) AS rk_grp
    FROM documents
),
n AS (SELECT COUNT(*) AS total FROM documents)
SELECT CAST(doc_id AS VARCHAR) AS object_key,
       CAST(CASE WHEN doc_id % 3 = 0 THEN n.total + rk_grp ELSE rk_all END
            AS BIGINT) AS id,
       CAST((CASE WHEN doc_id % 3 = 0 THEN 25 ELSE 20 END)
            * octet_length(encode(text)) AS BIGINT) AS original_length,
       TRUE AS comp_ok, TRUE AS count_ok, TRUE AS mapped_ok,
       TRUE AS contiguous, TRUE AS positions_ok, TRUE AS lengths_ok,
       TRUE AS refcounts_ok, TRUE AS store_ok,
       md5(repeat(text, CASE WHEN doc_id % 3 = 0 THEN 25 ELSE 20 END))
           AS payload_md5
FROM ranked, n
"""


@register(
    "engine_replace_roundtrip",
    _ENGINE_REPLACE_SQL,
    doc="O5 + O18/O19 graded through the REAL engine: ingest the corpus, "
    "then write_or_replace_batch a deterministic 1-in-3 slice at a "
    "different inflation — one composite section that reads and commits "
    "each table once: the old objects rows leave first, one refcount "
    "merge of increments minus decrements, payload GC plus insert in "
    "one commit, the new objects rows last. The invariant read-back "
    "proves the cascade surgical: "
    "kept objects keep ids/payloads/refcounts, replaced objects "
    "reassemble to the NEW payload md5 with fresh ids past the "
    "preserved high-water mark, and no stale chunk or payload survives "
    "anywhere the witness columns look (engine.py write_or_replace_"
    "batch/_commit_mutation; DedupeLibrary.cs:301-318).",
)
def engine_replace_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import IndexStore

    def scenario(eng):
        replaced = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 == 0).select(
            F.col("doc_id").cast("string").alias("object_key"),
            F.encode(F.repeat("text", 25), "UTF-8").alias("data"),
        )
        eng.write_or_replace_batch(replaced)

    return _engine_scenario(spark, sf_dir, IndexStore, scenario)


@register(
    "engine_recover_roundtrip",
    _ENGINE_ROUNDTRIP_SQL,
    doc="crash repair graded end to end (on the SQLite backend, so both "
    "backends carry a scenario beyond the plain write): after a clean "
    "ingest, store-level writes that bypass the engine plant orphan "
    "object_map rows, inflated refcounts, and an orphan payload WITHOUT "
    "an objects row (the logical commit point); engine.recover() must prune all "
    "three tables back to exactly the clean-ingest state — the oracle "
    "is the SAME closed form as engine_write_roundtrip, so any ghost "
    "row, stale refcount, or lost survivor hash-mismatches "
    "(engine.py recover()).",
)
def engine_recover_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import SqliteIndexStore

    def scenario(eng):
        victim = eng.get_object_map("0").orderBy("address").collect()
        ghost = [
            ("___ghost", r.chunk_key, r.length, r.position, r.address)
            for r in victim
        ]
        tail = victim[-1]
        ghost.append(
            ("___ghost", "___ghost_chunk", 9, len(victim), tail.address + tail.length)
        )
        eng.store.append(
            "object_map",
            spark.createDataFrame(
                ghost,
                "object_key string, chunk_key string, length int, "
                "position int, address long",
            ),
        )
        victim_keys = [r.chunk_key for r in victim]
        v, chunks, _ = eng.store.snapshot("chunks")
        eng.store.commit(
            "chunks",
            chunks.withColumn(
                "ref_count",
                F.when(
                    F.col("chunk_key").isin(victim_keys), F.col("ref_count") + 1
                ).otherwise(F.col("ref_count")),
            ).unionByName(
                spark.createDataFrame(
                    [("___ghost_chunk", 9, 1)],
                    "chunk_key string, length int, ref_count long",
                )
            ),
            expected_version=v,
        )
        eng.store.append(
            "chunk_store",
            spark.createDataFrame(
                [("___ghost_chunk", bytearray(b"ghostbyte"))],
                "chunk_key string, data binary",
            ),
        )
        deltas = eng.recover()
        assert deltas["object_map"] == -len(ghost), deltas

    return _engine_scenario(spark, sf_dir, SqliteIndexStore, scenario)


def _crash_matrix_scenario(spark: SparkSession, sf_dir: str, store_cls) -> DataFrame:
    """The 4-point crash matrix through the REAL write path: a victim
    batch is driven into ``write_batch`` with the store's fault hook
    (``IndexStore._crash_after``) armed right after the staged part of
    object_map, of chunks and of chunk_store in turn — exactly the
    state a process kill at that point leaves — and finally right after
    the catalog flip. Every pre-flip crash must leave the index as it
    was: no table version moved, the victims absent, and ``recover()``
    finds nothing to repair. After the post-flip crash the ingest is
    COMPLETE (one flip publishes all four tables), so recover() again
    reports zero repairs and the victims are then removed by the
    ordinary cascading delete. The final read-back hashes against the
    untouched clean-ingest closed form. One victim duplicates an
    existing object's bytes (every chunk shared), the other is unique
    bytes (its own chunks and payloads)."""
    from watsondedupe_spark.store import SimulatedCrash

    def scenario(eng):
        dup_text = (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") == 0)
            .select(F.repeat("text", 20).alias("t"))
            .collect()[0][0]
        )
        victims = spark.createDataFrame(
            [
                ("___crash_dup", bytearray(dup_text.encode())),
                ("___crash_uniq", bytearray(b"crash-matrix-unique-payload/" * 512)),
            ],
            "object_key string, data binary",
        )

        def crash_write(point):
            try:
                with eng.store._crash_after(point):
                    eng.write_batch(victims)
            except SimulatedCrash:
                return True
            return False

        clean = {"object_map": 0, "chunks": 0, "chunk_store": 0}
        for point in ("object_map", "chunks", "chunk_store"):
            before = eng.store._catalog()
            assert crash_write(point), point
            assert eng.store._catalog() == before, point
            assert not eng.exists("___crash_dup"), point
            assert not eng.exists("___crash_uniq"), point
            deltas = eng.recover()
            assert deltas == clean, (point, deltas)
        # crash AFTER the flip: the batch is durably ingested and repair
        # finds nothing to do
        assert crash_write("flip")
        deltas = eng.recover()
        assert deltas == clean, deltas
        assert eng.exists("___crash_dup") and eng.exists("___crash_uniq")
        assert eng.get("___crash_uniq") == b"crash-matrix-unique-payload/" * 512
        eng.delete_batch(victims.select("object_key"))

    return _engine_scenario(spark, sf_dir, store_cls, scenario)


@register(
    "engine_crash_matrix",
    _ENGINE_ROUNDTRIP_SQL,
    doc="the one-flip commit graded as a 4-point crash matrix "
    "(file-manifest backend): write_batch crash-injected by the store's "
    "fault hook (IndexStore._crash_after) after the staged object_map, "
    "chunks and chunk_store parts and after the catalog flip, recover() "
    "after each — pre-flip crashes must leave every table version "
    "unchanged and zero wreckage, and the post-flip crash must be a "
    "COMPLETE ingest (zero repairs, victims readable) since one flip "
    "publishes all four tables (engine.py _commit_mutation; the "
    "reference's non-atomic write path DedupeLibrary.cs:237-247 is the "
    "bug class this beats).",
)
def engine_crash_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import IndexStore

    return _crash_matrix_scenario(spark, sf_dir, IndexStore)


@register(
    "engine_crash_matrix_sqlite",
    _ENGINE_ROUNDTRIP_SQL,
    doc="the same 4-point crash matrix through the SQLite-catalog "
    "backend — one-flip atomicity + recover() semantics must be identical "
    "under both store implementations (provider pluggability, "
    "DbProvider.cs:10).",
)
def engine_crash_matrix_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import SqliteIndexStore

    return _crash_matrix_scenario(spark, sf_dir, SqliteIndexStore)


_STATS_HISTORY_SQL = """
WITH th AS (
    SELECT 20 * octet_length(encode(text)) AS b,
           CASE WHEN doc_id < (SELECT COUNT(*) // 3 FROM documents) THEN 1
                WHEN doc_id < (SELECT 2 * COUNT(*) // 3 FROM documents) THEN 2
                ELSE 3 END AS batch
    FROM documents
)
SELECT CAST(r AS BIGINT) AS version_rank,
       CAST(SUM(CASE WHEN batch <= r THEN 1 ELSE 0 END) AS BIGINT) AS n_objects,
       CAST(SUM(CASE WHEN batch <= r THEN b ELSE 0 END) AS BIGINT) AS logical_bytes
FROM th CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS r)
GROUP BY r
"""


@register(
    "engine_stats_history",
    _STATS_HISTORY_SQL,
    doc="O20 composed with time travel: the index-growth trend an "
    "operator reads before capacity planning — objects count and "
    "logical bytes AS OF every retained manifest version "
    "(store.read_version over the Delta-style retained history, "
    "store.py versions/read_version), graded against the cumulative "
    "closed forms of three range-batched appends. Each historical "
    "point is one metadata-only aggregate over that version's part "
    "list; no payload is read and nothing depends on wall-clock, so "
    "the trend is exactly the batch-prefix sums.",
)
def engine_stats_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    n_docs = objs.count()
    root = tempfile.mkdtemp(prefix="wds_statshist_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        cut1, cut2 = n_docs // 3, 2 * n_docs // 3
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, n_docs + 1)):
            eng.write_batch(
                objs.filter((F.col("_id") >= lo) & (F.col("_id") < hi)).select(
                    "object_key", "data"
                )
            )
        # one tiny aggregate per retained version (bounded by the
        # retention window, <= 8); versions whose snapshot is empty
        # (the pre-first-append state) carry no rank
        points = []
        for v in eng.store.versions("objects"):
            row = (
                eng.store.read_version("objects", v)
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.coalesce(F.sum("original_length"), F.lit(0))
                    .cast("long")
                    .alias("b"),
                )
                .collect()[0]
            )
            if row.n > 0:
                points.append((int(row.n), int(row.b)))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    points.sort()
    return spark.createDataFrame(
        [(i + 1, n, b) for i, (n, b) in enumerate(points)],
        "version_rank long, n_objects long, logical_bytes long",
    )


_CONCURRENT_WRITERS_SQL = """
SELECT object_key,
       CAST(20 * octet_length(encode(text)) AS BIGINT) AS original_length,
       TRUE AS ids_ok, TRUE AS comp_ok, TRUE AS count_ok, TRUE AS mapped_ok,
       TRUE AS contiguous, TRUE AS positions_ok, TRUE AS lengths_ok,
       TRUE AS refcounts_ok, TRUE AS store_ok,
       md5(repeat(text, 20)) AS payload_md5
FROM (
    SELECT CAST(doc_id AS VARCHAR) AS object_key, text FROM documents
    UNION ALL
    SELECT 'dup:' || CAST(doc_id AS VARCHAR) AS object_key, text
    FROM documents WHERE doc_id % 2 = 0 AND doc_id < 10
)
"""


def _concurrent_writers_scenario(
    spark: SparkSession, sf_dir: str, store_cls
) -> DataFrame:
    """TWO REAL Spark processes ingest one index concurrently — the
    multi-writer CAS guarantee as a graded row, not just pytest
    (round-9 verdict item #3; tests/test_concurrency.py:224 is the
    pytest sibling). The parent session writes the even-doc_id half of
    the 20x-inflated corpus while a CHILD process (own JVM, own
    SparkSession, opened via backend autodetect) writes the odd half
    PLUS 'dup:' copies of the first even docs — so the writers contend
    on the refcount MERGE and the payload insert-if-absent for SHARED
    chunk content, not just the manifest flip. The merged end state
    must equal the serial execution: every object present with exact
    tiling/refcount/store invariants and byte-identical reassembly
    (closed forms of the source corpus), and the ingest ids a gapless
    permutation of 1..N regardless of which writer's commit landed
    first (``ids_ok`` — the interleaving decides the order, CAS
    forbids collisions and gaps). The reference serializes concurrent
    writers with in-process mutexes (SqliteProvider.cs:29-30); the
    store's optimistic manifest CAS is the cross-process analogue."""
    import os
    import shutil
    import subprocess
    import sys
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_concwriters_")
    try:
        DedupeEngine.create(
            spark, root, ChunkSettings(*SMALL_FILE_PROFILE), store_cls=store_cls
        )
        child_src = f"""
import sys
sys.path.insert(0, {repr(repo)})
from pyspark.sql import functions as F
from watsondedupe_spark.session import get_spark
from watsondedupe_spark.engine import DedupeEngine
sp = get_spark("concurrent-writer", shuffle_partitions=8)
sp.sparkContext.setLogLevel("ERROR")
eng = DedupeEngine.open(sp, {repr(root)})
base = sp.read.parquet({repr(sf_dir)} + "/documents.parquet").select(
    F.col("doc_id").cast("long").alias("_id"),
    F.col("doc_id").cast("string").alias("object_key"),
    F.encode(F.repeat("text", 20), "UTF-8").alias("data"))
odds = base.filter(F.col("_id") % 2 == 1).select("object_key", "data")
dups = base.filter((F.col("_id") % 2 == 0) & (F.col("_id") < 10)).select(
    F.concat(F.lit("dup:"), F.col("object_key")).alias("object_key"), "data")
n = eng.write_batch(odds.unionByName(dups))
print("CHILD-OK", n, flush=True)
sp.stop()
"""
        env = dict(os.environ)
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        child = subprocess.Popen(
            [sys.executable, "-c", child_src],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            env=env,
            text=True,
        )
        # the parent ingests concurrently with the child's whole
        # lifecycle (JVM boot + open + write)
        eng = DedupeEngine.open(spark, root)
        eng.write_batch(objs.filter(F.col("_id") % 2 == 0).select("object_key", "data"))
        out, _ = child.communicate(timeout=900)
        assert child.returncode == 0 and "CHILD-OK" in out, out[-2000:]

        eng = DedupeEngine.open(spark, root)  # autodetect re-open, graded
        # ids are assigned per-writer under CAS: the interleaving picks
        # the order, but the union must be a gapless 1..N permutation —
        # a 1-row corpus-bounded aggregate broadcast onto every row
        idcheck = eng.objects.agg(
            (
                (F.count("*") == F.count_distinct("id"))
                & (F.min("id") == F.lit(1))
                & (F.max("id") == F.count("*"))
            ).alias("ids_ok")
        )
        result = (
            _index_invariant_table(eng)
            .drop("id")
            .crossJoin(F.broadcast(idcheck))
            .select(
                "object_key", "original_length", "ids_ok", "comp_ok",
                "count_ok", "mapped_ok", "contiguous", "positions_ok",
                "lengths_ok", "refcounts_ok", "store_ok", "payload_md5",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


_INTEGRITY_SCAN_SQL = """
SELECT * FROM (VALUES
    ('dup_payload',     CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    ('hash_mismatch',   CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    ('length_drift',    CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    ('missing_payload', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    ('orphan_map',      CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    ('orphan_payload',  CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    ('refcount_drift',  CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT))
) AS t(check_name, n_before, n_after, n_after_repair)
"""

_VERIFY_CHECKS = (
    "dup_payload", "hash_mismatch", "length_drift", "missing_payload",
    "orphan_map", "orphan_payload", "refcount_drift",
)


@register(
    "engine_integrity_scan",
    _INTEGRITY_SCAN_SQL,
    doc="engine.verify() — the distributed content-address integrity "
    "scan (bit-rot/tamper detection the reference lacks; at 100 TB the "
    "store WILL rot and a flipped bit must surface in an audit, not in "
    "some unlucky Get). The query ingests the corpus, asserts a clean "
    "scan (all 7 checks zero), then PLANTS one deterministic fault per "
    "detectable class via raw store appends — a garbage payload row "
    "under an existing chunk_key (hash_mismatch + dup_payload + "
    "length_drift), a payload no chunk references (orphan_payload), "
    "and a ghost map row for an uncommitted object (orphan_map + "
    "refcount_drift on the referenced chunk) — grades the re-scan's "
    "per-check counts against the planted closed form, then grades "
    "engine.repair() healing ALL of them back to zero (recover() for "
    "the map/refcount/GC classes + payload-store canonicalization for "
    "the hash/dup classes). The sha256 recompute is sha2/base64 "
    "inside codegen over one chunk_store pass; every join is "
    "corpus-keyed, nothing broadcast.",
)
def engine_integrity_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.pool import fix_pool
    from watsondedupe_spark.keys import chunk_key

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_integrity_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(objs)

        def counts_frame() -> DataFrame:
            # Constructing verify() pins all four table manifests HERE
            # (store frames read explicit part paths resolved at
            # construction), so a commit that lands while the collect is
            # still running cannot change what this frame reads — and
            # retention keeps the pinned parts on disk through it
            # (repair makes <= 3 commits/table against an 8-version
            # retain window).
            return eng.verify().groupBy("check").agg(F.count("*").alias("n"))

        def collect_counts(df: DataFrame) -> dict[str, int]:
            got = {r.check: r.n for r in df.collect()}
            return {c: int(got.get(c, 0)) for c in _VERIFY_CHECKS}

        def counts() -> dict[str, int]:
            return collect_counts(counts_frame())

        # r13 (guide §2.6): the clean-scan count is a READ-ONLY job over
        # the pinned pre-plant snapshot, so its collect can span the
        # victim lookup AND the fault plants (different tables,
        # per-table CAS — the exact concurrency _commit_mutation already
        # relies on): the frame is built before anything commits, and
        # the plants' appends cannot touch the parts it reads.
        before_df = counts_frame()
        orphan = b"___orphan_payload"

        def plant_payloads():
            eng.store.append(
                "chunk_store",
                spark.createDataFrame(
                    [(victim, bytearray(b"x")), (chunk_key(orphan), bytearray(orphan))],
                    "chunk_key string, data binary",
                ),
            )

        def plant_ghost_map():
            eng.store.append(
                "object_map",
                spark.createDataFrame(
                    [("___ghost", victim, 1, 0, 0)],
                    "object_key string, chunk_key string, length int, "
                    "position int, address long",
                ),
            )

        # fix_pool joins every thread and raises the first failure, so
        # no thread's error is dropped on exit
        with fix_pool(3) as (submit, fixes):
            submit(collect_counts, before_df)
            # deterministic victim: the smallest chunk_key in the index
            victim = eng.chunks.agg(F.min("chunk_key")).collect()[0][0]
            submit(plant_payloads)
            submit(plant_ghost_map)
        before = fixes[0].result()
        # r13 (guide §2.6): the post-plant verify reads the pinned
        # FAULTED snapshot (frame built after the plants land, before
        # repair starts), so its collect overlaps repair()'s detection
        # and rewrite — the serial form paid a full verify pass of
        # wall-clock between the plants and the heal.
        after_df = counts_frame()
        with fix_pool(1) as (submit, fixes):
            submit(collect_counts, after_df)
            eng.repair()
        after = fixes[0].result()
        healed = counts()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(c, before[c], after[c], healed[c]) for c in _VERIFY_CHECKS],
        "check_name string, n_before long, n_after long, n_after_repair long",
    )


@register(
    "engine_clone_roundtrip",
    _ENGINE_ROUNDTRIP_SQL,
    doc="engine.clone() — the consistent backup/DR/migration verb "
    "graded end-to-end ACROSS backends: the corpus ingests into a "
    "file-manifest index, clone() pins all five table snapshots under "
    "one composite-op critical section and streams them into a fresh "
    "SQLITE-CATALOG store (the copy itself runs outside the lock "
    "against the pinned immutable parts), the clone re-opens via "
    "backend autodetect, and the full per-object invariant table is "
    "graded against the same closed forms as engine_write_roundtrip — "
    "ids, tiling, refcounts, store accounting, byte-identical "
    "reassembly all survive the replication. The body additionally "
    "asserts the clone is INDEPENDENT (a post-clone write lands only "
    "in the clone, with its ingest id continuing above the carried "
    "high-water mark) and the source is untouched. The reference's "
    "backup story is 'copy the SQLite file and the chunk directory' "
    "(README.md:33) with no consistency under concurrent writers.",
)
def engine_clone_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.store import SqliteIndexStore

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    n_docs = objs.count()
    src_root = tempfile.mkdtemp(prefix="wds_clone_src_")
    dst_root = tempfile.mkdtemp(prefix="wds_clone_dst_") + "/idx"
    try:
        src = DedupeEngine.create(spark, src_root, ChunkSettings(*SMALL_FILE_PROFILE))
        src.write_batch(objs)
        src.clone(dst_root, store_cls=SqliteIndexStore)
        clone = DedupeEngine.open(spark, dst_root)  # autodetect re-open
        result = _index_invariant_table(clone).localCheckpoint(eager=True)
        # independence + id-continuity (asserted, not graded columns:
        # the graded table must stay the pristine-clone closed form)
        clone.write("___post_clone", b"x" * 6000)
        post = clone.objects.filter(F.col("object_key") == "___post_clone").collect()
        assert len(post) == 1 and post[0].id == n_docs + 1, post
        assert src.objects.count() == n_docs  # source untouched
        assert clone.objects.count() == n_docs + 1
    finally:
        shutil.rmtree(src_root, ignore_errors=True)
        shutil.rmtree(os.path.dirname(dst_root), ignore_errors=True)
    return result


# PITR closed form: the clone restored at consistency point 2 holds
# exactly the first two ingest batches, with batch-major ingest ids —
# including the batch-1 objects the SOURCE deleted after the point.
_PITR_CLONE_SQL = """
WITH n AS (SELECT COUNT(*) AS c FROM documents),
g AS (
    SELECT doc_id, text,
           CASE WHEN doc_id < (SELECT c // 3 FROM n) THEN 1 ELSE 2 END AS batch
    FROM documents
    WHERE doc_id < (SELECT 2 * c // 3 FROM n)
),
r AS (
    SELECT doc_id, text, batch,
           ROW_NUMBER() OVER (PARTITION BY batch
                              ORDER BY CAST(doc_id AS VARCHAR)) AS rk
    FROM g
),
sz AS (SELECT COUNT(*) AS n1 FROM g WHERE batch = 1)
SELECT CAST(doc_id AS VARCHAR) AS object_key,
       CAST(CASE WHEN batch = 1 THEN rk
                 ELSE (SELECT n1 FROM sz) + rk END AS BIGINT) AS id,
       CAST(20 * octet_length(encode(text)) AS BIGINT) AS original_length,
       TRUE AS comp_ok, TRUE AS count_ok, TRUE AS mapped_ok,
       TRUE AS contiguous, TRUE AS positions_ok, TRUE AS lengths_ok,
       TRUE AS refcounts_ok, TRUE AS store_ok,
       md5(repeat(text, 20)) AS payload_md5
FROM r
"""


@register(
    "engine_pitr_clone",
    _PITR_CLONE_SQL,
    doc="point-in-time restore graded end-to-end: three ingest batches "
    "append consistency points to the checkpoints ledger (one row per "
    "composite op, published in the op's own catalog flip — a true "
    "cross-table cut over four independently-versioned tables, "
    "engine.py _checkpoint_entry), the source then DELETES the whole "
    "first batch (a fourth point), and clone(at=2) restores the "
    "second point into a fresh store — the full invariant table of "
    "the restored index must equal the first-two-batches closed form "
    "with batch-major ids, INCLUDING the batch-1 objects the source "
    "deleted after the point (their payload parts are immutable and "
    "retained for the version window — the actual DR story). The "
    "reference has no restore concept; its SQLite file copy cannot "
    "name a historical state at all.",
)
def engine_pitr_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    n_docs = objs.count()
    cut1, cut2 = n_docs // 3, 2 * n_docs // 3
    src_root = tempfile.mkdtemp(prefix="wds_pitr_src_")
    dst_root = tempfile.mkdtemp(prefix="wds_pitr_dst_") + "/idx"
    try:
        src = DedupeEngine.create(spark, src_root, ChunkSettings(*SMALL_FILE_PROFILE))
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, n_docs + 1)):
            src.write_batch(
                objs.filter((F.col("_id") >= lo) & (F.col("_id") < hi)).select(
                    "object_key", "data"
                )
            )
        gone = src.delete_batch(
            objs.filter(F.col("_id") < cut1).select("object_key")
        )
        assert gone.count() >= 0
        ledger = [(r.seq, r.op) for r in src.checkpoints.orderBy("seq").collect()]
        assert ledger == [(1, "ingest"), (2, "ingest"), (3, "ingest"), (4, "delete")], (
            ledger
        )
        clone = src.clone(dst_root, at=2)
        # DR claim: the batch the source deleted is back in the restore
        assert src.objects.filter(F.col("id") <= cut1).count() == 0
        result = _index_invariant_table(clone).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src_root, ignore_errors=True)
        shutil.rmtree(os.path.dirname(dst_root), ignore_errors=True)
    return result


@register(
    "engine_restore_inplace",
    _PITR_CLONE_SQL,
    doc="engine.restore(at=seq) — the in-place UNDO verb, graded: "
    "three ingest batches record consistency points, the whole first "
    "batch is deleted (a fourth point), then restore(at=2) rolls the "
    "LIVE index back by re-pointing all four tables at the recorded "
    "versions' part lists (store.restore_entry — metadata-only, no "
    "payload bytes move: at 100 TB a rollback is one catalog "
    "flip, not a day-long table rewrite). The restored index must "
    "equal the first-two-batches closed form — the deleted batch is "
    "back, byte-identical — and the rollback records its own ledger "
    "row ('restore', asserted), so it is itself visible and undoable "
    "while history is retained. Same closed form as engine_pitr_clone "
    "because restore IS clone-onto-self, minus the copy.",
)
def engine_restore_inplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    n_docs = objs.count()
    cut1, cut2 = n_docs // 3, 2 * n_docs // 3
    root = tempfile.mkdtemp(prefix="wds_restore_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, n_docs + 1)):
            eng.write_batch(
                objs.filter((F.col("_id") >= lo) & (F.col("_id") < hi)).select(
                    "object_key", "data"
                )
            )
        eng.delete_batch(objs.filter(F.col("_id") < cut1).select("object_key")).count()
        assert eng.objects.count() == n_docs - cut1  # delete really landed
        eng.restore(at=2)
        ops = [r["op"] for r in eng.store.table_meta("checkpoints")["rows"]]
        assert ops == ["ingest", "ingest", "ingest", "delete", "restore"], ops
        result = _index_invariant_table(eng).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


# scoped-scrub closed forms: one garbage-dup fault planted under one
# existing chunk (hash_mismatch + dup_payload + length_drift) plus one
# orphan payload; the sum of the n disjoint shard runs must equal the
# full scan's payload-class counts, and the shard partition must cover
# every chunk exactly once (coverage flag).
_VERIFY_SHARDS_SQL = """
SELECT * FROM (VALUES
    ('dup_payload',       CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
    ('hash_mismatch',     CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
    ('length_drift',      CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
    ('missing_payload',   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    ('orphan_payload',    CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
    ('shard_coverage_ok', CAST(1 AS BIGINT), CAST(1 AS BIGINT))
) AS t(check_name, n_sharded, n_full)
"""


@register(
    "engine_verify_shards",
    _VERIFY_SHARDS_SQL,
    doc="engine.verify(shards=(i, n)) — the ROLLING scrub a 100 TB "
    "store schedules nightly: each run covers only the chunks whose "
    "key falls in range cell i of n (~1/n of the payload bytes — the "
    "range predicate pushes to the parquet scan and prunes row groups "
    "on the optimize()-clustered layout), and "
    "the union of the n runs covers every chunk exactly once. Grades "
    "the partition contract end-to-end: the corpus ingests, one "
    "garbage-dup fault and one orphan payload are planted, and the "
    "SUM of the four disjoint shard runs' per-check counts must equal "
    "the full scan's payload-class counts (no violation double-counted "
    "across shards, none lost between them), while the shard key sets "
    "reunion exactly to the chunks table (coverage flag). The scoped "
    "runs deliberately omit the metadata-wide checks so the rotation "
    "sums stay exact (engine.py verify docstring).",
)
def engine_verify_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine, shard_predicate
    from watsondedupe_spark.keys import chunk_key

    n_shards = 4
    payload_checks = (
        "dup_payload", "hash_mismatch", "length_drift",
        "missing_payload", "orphan_payload",
    )
    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_verify_shards_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(objs)
        victim = eng.chunks.agg(F.min("chunk_key")).collect()[0][0]
        orphan = b"___shard_orphan"
        eng.store.append(
            "chunk_store",
            spark.createDataFrame(
                [(victim, bytearray(b"x")), (chunk_key(orphan), bytearray(orphan))],
                "chunk_key string, data binary",
            ),
        )

        def counts(df) -> dict[str, int]:
            got = {
                r.check: r.n
                for r in df.groupBy("check").agg(F.count("*").alias("n")).collect()
            }
            return {c: int(got.get(c, 0)) for c in payload_checks}

        full = counts(eng.verify())
        sharded = {c: 0 for c in payload_checks}
        covered = 0
        for i in range(n_shards):
            for c, n in counts(eng.verify(shards=(i, n_shards))).items():
                sharded[c] += n
            covered += eng.chunks.filter(shard_predicate(i, n_shards)).count()
        coverage_ok = int(covered == eng.chunks.count())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = [(c, sharded[c], full[c]) for c in payload_checks]
    rows.append(("shard_coverage_ok", coverage_ok, 1))
    return spark.createDataFrame(
        rows, "check_name string, n_sharded long, n_full long"
    )


_VERIFY_INCREMENTAL_SQL = """
SELECT * FROM (VALUES
    ('dup_payload',     CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
    ('hash_mismatch',   CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
    ('length_drift',    CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
    ('missing_payload', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    ('orphan_payload',  CAST(0 AS BIGINT), CAST(0 AS BIGINT))
) AS t(check_name, n_incremental, n_full)
"""


@register(
    "engine_verify_incremental",
    _VERIFY_INCREMENTAL_SQL,
    doc="engine.verify(since_version=v) — the DAILY incremental scrub: "
    "the sha256 pass covers only chunk keys absent from chunk_store "
    "version v (one metadata-only key anti-join; cost O(new payload "
    "bytes), not O(store)). Grades the scope contract: two ingest "
    "batches with a manifest version captured between them, then one "
    "garbage-dup fault planted under a batch-2-only chunk key and an "
    "IDENTICAL fault under a batch-1 key — the incremental scan must "
    "flag exactly the new-key fault (1 per class) while the full scan "
    "flags both (2 per class); the old-key fault being out of the "
    "incremental scope is the documented append-diff semantics (new "
    "data scrubs daily, in-place mutation of existing keys is the "
    "rolling-shard/full scan's job — engine.py verify docstring).",
)
def engine_verify_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    payload_checks = (
        "dup_payload", "hash_mismatch", "length_drift",
        "missing_payload", "orphan_payload",
    )
    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_verify_inc_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(objs.filter(F.col("_id") % 2 == 0).select("object_key", "data"))
        v1 = eng.store.versions("chunk_store")[-1]
        old_keys = eng.chunk_store.select("chunk_key")
        victim_old = old_keys.agg(F.min("chunk_key")).collect()[0][0]
        eng.write_batch(objs.filter(F.col("_id") % 2 == 1).select("object_key", "data"))
        victim_new = (
            eng.chunk_store.select("chunk_key")
            .join(
                eng.store.read_version("chunk_store", v1).select("chunk_key"),
                "chunk_key",
                "left_anti",
            )
            .agg(F.min("chunk_key"))
            .collect()[0][0]
        )
        assert victim_new is not None, "batch 2 added no new chunks"
        eng.store.append(
            "chunk_store",
            spark.createDataFrame(
                [(victim_new, bytearray(b"x")), (victim_old, bytearray(b"y"))],
                "chunk_key string, data binary",
            ),
        )

        def counts(df) -> dict[str, int]:
            got = {
                r.check: r.n
                for r in df.groupBy("check").agg(F.count("*").alias("n")).collect()
            }
            return {c: int(got.get(c, 0)) for c in payload_checks}

        inc = counts(eng.verify(since_version=v1))
        full = counts(eng.verify())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(c, inc[c], full[c]) for c in payload_checks],
        "check_name string, n_incremental long, n_full long",
    )


_OPTIMIZE_CLUSTERING_SQL = """
SELECT * FROM (VALUES
    ('pushdown_ok',       TRUE),
    ('files_disjoint_ok', TRUE),
    ('multi_file_ok',     TRUE),
    ('shard_union_ok',    TRUE),
    ('shard_disjoint_ok', TRUE),
    ('reads_ok',          TRUE)
) AS t(check_name, ok)
"""


@register(
    "engine_optimize_clustering",
    _OPTIMIZE_CLUSTERING_SQL,
    doc="optimize()'s range-clustered rewrite + the range-shard scrub "
    "contract (round 11): after compaction every chunk_store file "
    "covers a narrow DISJOINT key span (pyarrow footer min/max — the "
    "prunability witness), the shard predicate reaches the parquet "
    "scan as PushedFilters, the 4 shard scans partition the chunks "
    "exactly (disjoint, union == all), and point reads stay "
    "byte-identical through the rewrite (engine.py shard_range/"
    "optimize; store.py compact(layout)).",
)
def engine_optimize_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine, shard_predicate

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    probe_key, probe_md5 = (
        objs.select("object_key", F.md5("data").alias("m"))
        .orderBy("object_key")
        .limit(1)
        .collect()[0]
    )
    root = tempfile.mkdtemp(prefix="wds_optclust_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(objs)
        n_chunks = eng.chunks.count()
        # shrink the target so the rewrite shows its at-scale multi-file
        # shape at sf0.01 corpus sizes (128 MB default -> 1 file here)
        eng.OPTIMIZE_TARGET_FILE_BYTES = 64 << 10
        eng.optimize()

        plan = (
            eng.verify(shards=(1, 4))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the PAYLOAD scan's own plan is the witness that counts: verify()
        # eagerly checkpoints the chunk_store branch, so the verify plan's
        # pushdown marks could come from the chunks METADATA scan alone —
        # capture the chunk_store relation's filter plan directly so a
        # payload-pushdown regression (the 1/n IO claim) cannot hide
        payload_plan = (
            eng.chunk_store.filter(shard_predicate(1, 4))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushdown_ok = (
            "GreaterThanOrEqual(chunk_key" in plan
            and "LessThan(chunk_key" in plan
            # relation witness: ReadSchema (only chunk_store carries a
            # binary data column; the Location path string is truncated)
            and "data:binary" in payload_plan
            and "GreaterThanOrEqual(chunk_key" in payload_plan
            and "LessThan(chunk_key" in payload_plan
        )

        part = eng.store._state("chunk_store")["parts"][-1]
        spans = []
        for f in glob.glob(part + "/*.parquet"):
            md = pq.read_metadata(f)
            cols = {md.schema.column(c).name: c for c in range(md.num_columns)}
            gs = [
                md.row_group(g).column(cols["chunk_key"]).statistics
                for g in range(md.num_row_groups)
            ]
            if gs:
                spans.append((min(s.min for s in gs), max(s.max for s in gs)))
        spans.sort()
        multi_file_ok = len(spans) >= 2
        files_disjoint_ok = all(
            hi_a <= lo_b for (_, hi_a), (lo_b, _) in zip(spans, spans[1:])
        )

        shard_counts = [
            eng.chunks.filter(shard_predicate(i, 4)).count() for i in range(4)
        ]
        shard_union_ok = sum(shard_counts) == n_chunks
        # disjointness is structural (ranges) — witness it on data: the
        # pairwise intersection of shard key sets is empty
        inter = 0
        for i in range(4):
            for j in range(i + 1, 4):
                inter += (
                    eng.chunks.filter(
                        shard_predicate(i, 4) & shard_predicate(j, 4)
                    ).count()
                )
        shard_disjoint_ok = inter == 0

        import hashlib

        reads_ok = (
            hashlib.md5(eng.get(probe_key)).hexdigest() == probe_md5
            and eng.verify().count() == 0
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = [
        ("pushdown_ok", bool(pushdown_ok)),
        ("files_disjoint_ok", bool(files_disjoint_ok)),
        ("multi_file_ok", bool(multi_file_ok)),
        ("shard_union_ok", bool(shard_union_ok)),
        ("shard_disjoint_ok", bool(shard_disjoint_ok)),
        ("reads_ok", bool(reads_ok)),
    ]
    return spark.createDataFrame(rows, "check_name string, ok boolean")


_OPTIMIZE_INCREMENTAL_SQL = """
SELECT * FROM (VALUES
    ('baseline_untouched_ok', TRUE),
    ('delta_folded_ok',       TRUE),
    ('watermark_ok',          TRUE),
    ('checkpoint_ok',         TRUE),
    ('noop_ok',               TRUE),
    ('pushdown_ok',           TRUE),
    ('reads_ok',              TRUE)
) AS t(check_name, ok)
"""


@register(
    "engine_optimize_incremental",
    _OPTIMIZE_INCREMENTAL_SQL,
    doc="INCREMENTAL optimize() (round 12): after a full clustering "
    "pass, a small append folds into ONE new range-clustered part via "
    "store.compact_parts (the Delta OPTIMIZE-binpack commit shape) — "
    "the clustered baseline part survives BY PATH with bytes untouched "
    "(O(append-bytes) compaction, not O(100 TB table)), the "
    "clustered_parts watermark covers every live part, a second "
    "incremental pass is a zero-IO zero-flip no-op, the pass records "
    "its own consistency point, shard-range pushdown still reaches the "
    "payload scan across the mixed baseline+delta layout, and reads "
    "stay byte-identical (engine.py optimize(incremental=True); "
    "store.py compact_parts).",
)
def engine_optimize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine, shard_predicate

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    first = objs.filter(F.col("_id") % 5 != 0).select("object_key", "data")
    second = objs.filter(F.col("_id") % 5 == 0).select("object_key", "data")
    probe_key, probe_md5 = (
        second.select("object_key", F.md5("data").alias("m"))
        .orderBy("object_key")
        .limit(1)
        .collect()[0]
    )
    tables = ("objects", "object_map", "chunks", "chunk_store")
    root = tempfile.mkdtemp(prefix="wds_optinc_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(first)
        eng.OPTIMIZE_TARGET_FILE_BYTES = 64 << 10
        eng.optimize()
        cs_base = eng.store.live_parts("chunk_store")

        eng.write_batch(second)
        appended = [
            p for p in eng.store.live_parts("chunk_store") if p not in cs_base
        ]
        base_mtime = os.path.getmtime(cs_base[0]) if len(cs_base) == 1 else None

        out = eng.optimize(incremental=True)
        post = eng.store.live_parts("chunk_store")
        baseline_untouched_ok = (
            len(cs_base) == 1
            and cs_base[0] in post
            and os.path.getmtime(cs_base[0]) == base_mtime
        )
        delta_folded_ok = (
            bool(appended)
            and out.get("chunk_store", 0) > 0
            and len(post) == 2
            and not any(p in post for p in appended)
        )
        watermark_ok = all(
            sorted(eng.store.table_meta(t).get("clustered_parts", []))
            == sorted(os.path.basename(p) for p in eng.store.live_parts(t))
            for t in tables
        )
        checkpoint_ok = (
            eng.store.table_meta("checkpoints")["rows"][-1]["op"] == "optimize"
        )
        v_before = {t: eng.store.current_version(t) for t in tables}
        out2 = eng.optimize(incremental=True)
        noop_ok = all(v == 0 for v in out2.values()) and v_before == {
            t: eng.store.current_version(t) for t in tables
        }
        # payload-scan pushdown witness across the mixed two-part layout
        payload_plan = (
            eng.chunk_store.filter(shard_predicate(1, 4))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushdown_ok = (
            "data:binary" in payload_plan
            and "GreaterThanOrEqual(chunk_key" in payload_plan
            and "LessThan(chunk_key" in payload_plan
        )
        reads_ok = (
            hashlib.md5(eng.get(probe_key)).hexdigest() == probe_md5
            and eng.verify().count() == 0
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = [
        ("baseline_untouched_ok", bool(baseline_untouched_ok)),
        ("delta_folded_ok", bool(delta_folded_ok)),
        ("watermark_ok", bool(watermark_ok)),
        ("checkpoint_ok", bool(checkpoint_ok)),
        ("noop_ok", bool(noop_ok)),
        ("pushdown_ok", bool(pushdown_ok)),
        ("reads_ok", bool(reads_ok)),
    ]
    return spark.createDataFrame(rows, "check_name string, ok boolean")


_CONSISTENT_RETENTION_SQL = """
SELECT * FROM (VALUES
    ('points_recorded_ok',    TRUE),
    ('quiet_window_green_ok', TRUE),
    ('expired_raises_ok',     TRUE),
    ('healed_ok',             TRUE)
) AS t(check_name, ok)
"""


@register(
    "engine_verify_consistent_retention",
    _CONSISTENT_RETENTION_SQL,
    doc="the consistent-scrub retention edge closed (round-11 verdict "
    "item #2): a quiet window of RETAIN+1 back-to-back optimize() "
    "passes keeps verify(consistent=True) green because every "
    "completed compaction records its own consistency point; when "
    "every ledger point's versions HAVE expired (checkpoint-less "
    "store-level compactions), the scrub raises ONE loud error naming "
    "the remediation instead of an opaque read_version failure "
    "mid-scan, and the next composite op heals the mode "
    "(engine.py verify consistent fallback; optimize checkpoint).",
)
def engine_verify_consistent_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_vretain_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(objs.filter(F.col("_id") % 4 == 0).select("object_key", "data"))
        eng.store.retain_versions = 2
        eng.OPTIMIZE_TARGET_FILE_BYTES = 64 << 10
        for _ in range(eng.store.retain_versions + 1):
            eng.optimize()
        points_recorded_ok = (
            eng.store.table_meta("checkpoints")["rows"][-1]["op"] == "optimize"
        )
        quiet_window_green_ok = eng.verify(consistent=True).count() == 0

        # expire every ledger point: store-LEVEL compactions record none
        for _ in range(eng.store.retain_versions + 1):
            for t in ("objects", "object_map", "chunks", "chunk_store"):
                eng.store.compact(t)
        expired_raises_ok = False
        try:
            eng.verify(consistent=True)
        except ValueError as e:
            expired_raises_ok = "fully retained" in str(e) and "verify" in str(e)
        healed = False
        if expired_raises_ok:
            eng.write("retention_heal_key", b"heal payload " * 200)
            healed = eng.verify(consistent=True).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = [
        ("points_recorded_ok", bool(points_recorded_ok)),
        ("quiet_window_green_ok", bool(quiet_window_green_ok)),
        ("expired_raises_ok", bool(expired_raises_ok)),
        ("healed_ok", bool(healed)),
    ]
    return spark.createDataFrame(rows, "check_name string, ok boolean")


_VACUUM_ORPHANS_SQL = """
SELECT * FROM (VALUES
    ('orphan_removed_ok',     TRUE),
    ('grace_spared_ok',       TRUE),
    ('grace_zero_removes_ok', TRUE),
    ('retention_protected_ok', TRUE),
    ('reads_ok',              TRUE)
) AS t(check_name, ok)
"""


@register(
    "engine_vacuum_orphans",
    _VACUUM_ORPHANS_SQL,
    doc="explicit orphan-part reclamation (round 12): vacuum() — the "
    "Delta VACUUM analogue — removes a crashed writer's aged orphan "
    "part dirs on demand (GC otherwise rides commits, so a quiet index "
    "strands them), SPARES dirs younger than the in-flight-writer "
    "grace window, never touches a part referenced by any retained "
    "manifest version (time-travel/restore targets stay readable), "
    "and changes no answers (store.py vacuum; engine.py vacuum; CLI "
    "verb vacuum --grace).",
)
def engine_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    ).filter(F.col("_id") % 4 == 0).select("object_key", "data")
    probe_key, probe_md5 = (
        objs.select("object_key", F.md5("data").alias("m"))
        .orderBy("object_key")
        .limit(1)
        .collect()[0]
    )
    root = tempfile.mkdtemp(prefix="wds_vacuum_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        eng.write_batch(objs)
        v_before = eng.store.current_version("chunk_store")
        eng.optimize()  # prior parts referenced ONLY by retained history

        tdir = os.path.join(root, "chunk_store")
        old = os.path.join(tdir, "p99999990_orphaned")
        fresh = os.path.join(tdir, "p99999991_inflight")
        for p in (old, fresh):
            os.makedirs(p)
            with open(os.path.join(p, "part-junk.parquet"), "wb") as f:
                f.write(b"x" * 4096)
        stale = time.time() - 7200
        os.utime(old, (stale, stale))

        out = eng.vacuum()
        orphan_removed_ok = (
            out["chunk_store"]["parts_removed"] == 1
            and out["chunk_store"]["mb_reclaimed"] > 0
            and not os.path.exists(old)
        )
        grace_spared_ok = os.path.exists(fresh)
        out2 = eng.vacuum(grace_seconds=0)
        grace_zero_removes_ok = (
            out2["chunk_store"]["parts_removed"] == 1
            and not os.path.exists(fresh)
        )
        retention_protected_ok = (
            eng.store.read_version("chunk_store", v_before).count() > 0
        )
        reads_ok = (
            hashlib.md5(eng.get(probe_key)).hexdigest() == probe_md5
            and eng.verify().count() == 0
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = [
        ("orphan_removed_ok", bool(orphan_removed_ok)),
        ("grace_spared_ok", bool(grace_spared_ok)),
        ("grace_zero_removes_ok", bool(grace_zero_removes_ok)),
        ("retention_protected_ok", bool(retention_protected_ok)),
        ("reads_ok", bool(reads_ok)),
    ]
    return spark.createDataFrame(rows, "check_name string, ok boolean")


_VERIFY_CONSISTENT_LIVE_SQL = """
SELECT * FROM (VALUES
    ('live_scans_clean',       TRUE),
    ('live_scan_ran',          TRUE),
    ('pinned_prefix_ok',       TRUE),
    ('torn_seen_by_default',   TRUE),
    ('torn_hidden_consistent', TRUE),
    ('final_scan_clean',       TRUE),
    ('final_objects_ok',       TRUE)
) AS t(check_name, ok)
"""


def _verify_consistent_live_scenario(
    spark: SparkSession, sf_dir: str, store_cls
) -> DataFrame:
    """verify(consistent=True) racing a REAL cross-process writer
    (round-10 verdict item #1; tests/test_engine.py's torn-read test is
    the in-process surgery sibling). A child Spark process (own JVM,
    own SparkSession) ingests the even corpus half in four batches
    while the parent repeatedly scrubs with ``consistent=True`` — the
    whole reason the mode exists: the default scan reads the four
    manifests independently and can observe a TORN cross-table
    interleaving mid-ingest (object_map committed, chunks not yet),
    paging a false alarm per live batch at 100 TB scrub cadence. Graded
    closed forms, all deterministic:

    - every mid-stream consistent scan reports ZERO violations (each
      ledger cut names a fully-committed state — the theorem under
      test), and at least one scan provably started while the child
      had batches outstanding;
    - every pinned objects count equals the odds + a batch-prefix sum
      (the ledger only ever names real serial states, never a torn mix);
    - the planted-tear contrast AFTER the race: a chunks row with no
      payload (exactly the mid-_commit_mutation shape) is seen by the
      default scan but invisible to the consistent scan pinned at the
      pre-tear cut — then healed, and the final full scan is clean.
    """
    import os
    import shutil
    import subprocess
    import sys
    import tempfile
    import time

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    n_batches = 4
    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_vconsist_")
    sig = tempfile.mkdtemp(prefix="wds_vconsist_sig_")
    try:
        eng = DedupeEngine.create(
            spark, root, ChunkSettings(*SMALL_FILE_PROFILE), store_cls=store_cls
        )
        eng.write_batch(
            objs.filter(F.col("_id") % 2 == 1).select("object_key", "data")
        )
        n_odds = eng.objects.count()
        n_total = objs.count()
        # the ledger-cut closed form: a pinned objects count must be the
        # odds plus a PREFIX of the child's batch sizes — never a torn
        # fraction of one. Batch membership is a pure function of doc_id,
        # so the valid set is computable upfront from the corpus.
        sizes = {
            int(r.j): int(r.n)
            for r in objs.filter(F.col("_id") % 2 == 0)
            .groupBy(((F.col("_id") / 2).cast("long") % n_batches).alias("j"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        valid_counts = {n_odds}
        run = n_odds
        for j in range(n_batches):
            run += sizes.get(j, 0)
            valid_counts.add(run)
        child_src = f"""
import os, sys, time
sys.path.insert(0, {repr(repo)})
from pyspark.sql import functions as F
from watsondedupe_spark.session import get_spark
from watsondedupe_spark.engine import DedupeEngine
sp = get_spark("consistent-ingester", shuffle_partitions=8)
sp.sparkContext.setLogLevel("ERROR")
eng = DedupeEngine.open(sp, {repr(root)})
docs = sp.read.parquet({repr(sf_dir)} + "/documents.parquet").filter(
    F.col("doc_id") % 2 == 0)
for j in range({n_batches}):
    b = docs.filter((F.col("doc_id") / 2).cast("long") % {n_batches} == j).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"))
    eng.write_batch(b)
    open(os.path.join({repr(sig)}, "done%d" % j), "w").close()
    if j < {n_batches} - 1:
        # two-way handshake: hold the race window open until the parent
        # has provably scrubbed this prefix (fixed sleeps let a fast
        # child finish before the parent's first scan — a flaky grade).
        # The timeout is a deadlock escape only; the parent asserts
        # n_live itself.
        go = os.path.join({repr(sig)}, "go%d" % j)
        t0 = time.time()
        while not os.path.exists(go) and time.time() - t0 < 300:
            time.sleep(0.2)
print("CHILD-OK", flush=True)
sp.stop()
"""
        env = dict(os.environ)
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        log_path = os.path.join(sig, "child.log")
        with open(log_path, "w") as log:
            child = subprocess.Popen(
                [sys.executable, "-c", child_src],
                stdout=log,
                stderr=subprocess.STDOUT,
                env=env,
                text=True,
            )
        try:
            deadline = time.time() + 600
            live_viol = 0
            n_live = 0
            prefix_ok = True
            eng = None
            # lock-step handshake: after each committed batch the child
            # WAITS for go{j}, so every scan below provably runs while
            # the child has batches outstanding — no host-speed flake
            for j in range(n_batches - 1):
                done_j = os.path.join(sig, f"done{j}")
                while not os.path.exists(done_j):
                    if child.poll() is not None or time.time() > deadline:
                        with open(log_path) as f:
                            raise AssertionError(
                                f"child never committed batch {j}: "
                                + f.read()[-2000:]
                            )
                    time.sleep(0.2)
                if eng is None:
                    eng = DedupeEngine.open(spark, root)
                n_live += 1
                live_viol += eng.verify(consistent=True).count()
                p = eng.store.table_meta("checkpoints")["rows"][-1]
                pinned = eng.store.read_version(
                    "objects", int(p["objects_v"])
                ).count()
                prefix_ok = prefix_ok and pinned in valid_counts
                open(os.path.join(sig, f"go{j}"), "w").close()
            child.wait(timeout=900)
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
        with open(log_path) as f:
            out = f.read()
        assert child.returncode == 0 and "CHILD-OK" in out, out[-2000:]

        eng = DedupeEngine.open(spark, root)
        # planted-tear contrast: a chunks row whose payload never landed
        # (the exact mid-_commit_mutation shape), appended OUTSIDE any
        # composite op so no ledger row names it
        eng.store.append(
            "chunks",
            spark.createDataFrame(
                [("zz_torn_key", 7, 1)],
                "chunk_key string, length int, ref_count long",
            ),
        )
        torn_default = (
            eng.verify()
            .filter(
                (F.col("check") == "missing_payload")
                & (F.col("key") == "zz_torn_key")
            )
            .count()
        )
        torn_consistent = eng.verify(consistent=True).count()
        v, chunks, _ = eng.store.snapshot("chunks")
        eng.store.commit(
            "chunks",
            chunks.filter(F.col("chunk_key") != "zz_torn_key"),
            expected_version=v,
        )
        final_viol = eng.verify().count()
        final_objects = eng.objects.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(sig, ignore_errors=True)
    rows = [
        ("live_scans_clean", live_viol == 0),
        ("live_scan_ran", n_live >= 1),
        ("pinned_prefix_ok", prefix_ok),
        ("torn_seen_by_default", torn_default == 1),
        ("torn_hidden_consistent", torn_consistent == 0),
        ("final_scan_clean", final_viol == 0),
        ("final_objects_ok", final_objects == n_total),
    ]
    return spark.createDataFrame(rows, "check_name string, ok boolean")


@register(
    "engine_verify_consistent_live",
    _VERIFY_CONSISTENT_LIVE_SQL,
    doc="verify(consistent=True) under a REAL racing writer "
    "(file-manifest backend): a second Spark process ingests four "
    "corpus batches while the parent scrubs pinned to the ledger cut — "
    "every mid-stream scan must be violation-free, every pinned count "
    "a true batch-prefix state, and the planted-tear contrast shows "
    "the default scan paging on exactly the interleaving the "
    "consistent mode suppresses (engine.py verify consistent mode; "
    "checkpoint ledger _checkpoint_entry).",
)
def engine_verify_consistent_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import IndexStore

    return _verify_consistent_live_scenario(spark, sf_dir, IndexStore)


@register(
    "engine_verify_consistent_live_sqlite",
    _VERIFY_CONSISTENT_LIVE_SQL,
    doc="the same live-writer consistent scrub through the "
    "SQLite-catalog backend — the ledger-cut pinning must be "
    "backend-independent (store.py meta_entry/_state_version on "
    "both backends).",
)
def engine_verify_consistent_live_sqlite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from watsondedupe_spark.store import SqliteIndexStore

    return _verify_consistent_live_scenario(spark, sf_dir, SqliteIndexStore)


@register(
    "engine_concurrent_writers",
    _CONCURRENT_WRITERS_SQL,
    doc="cross-process multi-writer CAS graded end-to-end "
    "(file-manifest backend): a second real Spark process writes the "
    "odd corpus half + shared-content dups while the parent writes the "
    "evens; the merged index must match the serial-execution closed "
    "forms — no lost refcount updates, no duplicate payload rows, no "
    "id collisions (store.py commit/append CAS; the batched "
    "cross-process analogue of the reference's writer mutexes, "
    "SqliteProvider.cs:29-30).",
)
def engine_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import IndexStore

    return _concurrent_writers_scenario(spark, sf_dir, IndexStore)


@register(
    "engine_concurrent_writers_sqlite",
    _CONCURRENT_WRITERS_SQL,
    doc="the same two-process concurrent ingest through the "
    "SQLite-catalog backend (CAS as BEGIN IMMEDIATE) — multi-writer "
    "semantics must be identical under both store implementations "
    "(DbProvider.cs:10).",
)
def engine_concurrent_writers_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import SqliteIndexStore

    return _concurrent_writers_scenario(spark, sf_dir, SqliteIndexStore)


# write-vs-delete end state: any serial order of {delete evens} and
# {write new: copies of the first evens' content} converges to the same
# closed form — odds intact, news present with the evens' bytes (the
# shared chunks must survive the refcount decrement / GC even though
# their ORIGINAL referents die), evens gone.
_CONCURRENT_WRITE_DELETE_SQL = """
SELECT object_key,
       CAST(20 * octet_length(encode(text)) AS BIGINT) AS original_length,
       TRUE AS ids_ok, TRUE AS comp_ok, TRUE AS count_ok, TRUE AS mapped_ok,
       TRUE AS contiguous, TRUE AS positions_ok, TRUE AS lengths_ok,
       TRUE AS refcounts_ok, TRUE AS store_ok,
       md5(repeat(text, 20)) AS payload_md5
FROM (
    SELECT CAST(doc_id AS VARCHAR) AS object_key, text
    FROM documents WHERE doc_id % 2 = 1
    UNION ALL
    SELECT 'new:' || CAST(doc_id AS VARCHAR) AS object_key, text
    FROM documents WHERE doc_id % 2 = 0 AND doc_id < 20
)
"""


def _concurrent_write_delete_scenario(
    spark: SparkSession, sf_dir: str, store_cls
) -> DataFrame:
    """A cascading DELETE racing an INGEST across two real Spark
    processes (round-10 verdict item #3; tests/test_concurrency.py:99
    is the in-process pytest sibling). The parent ingests the whole
    corpus serially (substrate), then a CHILD process (own JVM, own
    SparkSession, backend autodetect) deletes the even-doc half while
    the parent concurrently writes ``new:`` objects carrying the SAME
    bytes as the first even docs — so the two sessions contend on
    exactly the interleaving the reference's two mutexes exist for
    (SqliteProvider.cs:29-30): the delete decrements / GCs the shared
    chunks that the write is re-referencing and insert-if-absenting.
    The composite-op lock + per-table CAS must make the end state equal
    SOME serial order, and both orders converge to the same closed
    form: odds + news present with exact tiling/refcount/store
    invariants and byte-identical reassembly, evens gone, ids distinct
    (delete punches holes in the 1..N sequence, so gaplessness is no
    longer the invariant — collision-freedom under the monotone
    manifest-meta high-water is, engine.py:537-549)."""
    import os
    import shutil
    import subprocess
    import sys
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("_id"),
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    root = tempfile.mkdtemp(prefix="wds_concwrdel_")
    try:
        eng = DedupeEngine.create(
            spark, root, ChunkSettings(*SMALL_FILE_PROFILE), store_cls=store_cls
        )
        eng.write_batch(objs.select("object_key", "data"))
        child_src = f"""
import sys
sys.path.insert(0, {repr(repo)})
from pyspark.sql import functions as F
from watsondedupe_spark.session import get_spark
from watsondedupe_spark.engine import DedupeEngine
sp = get_spark("concurrent-deleter", shuffle_partitions=8)
sp.sparkContext.setLogLevel("ERROR")
eng = DedupeEngine.open(sp, {repr(root)})
evens = sp.read.parquet({repr(sf_dir)} + "/documents.parquet").filter(
    F.col("doc_id") % 2 == 0).select(F.col("doc_id").cast("string").alias("object_key"))
gc = eng.delete_batch(evens)
print("CHILD-OK", gc.count(), flush=True)
sp.stop()
"""
        env = dict(os.environ)
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        child = subprocess.Popen(
            [sys.executable, "-c", child_src],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            env=env,
            text=True,
        )
        # the parent re-ingests the first evens' CONTENT under new keys,
        # concurrent with the child's whole lifecycle (boot + delete)
        eng = DedupeEngine.open(spark, root)
        news = objs.filter((F.col("_id") % 2 == 0) & (F.col("_id") < 20)).select(
            F.concat(F.lit("new:"), F.col("object_key")).alias("object_key"), "data"
        )
        eng.write_batch(news)
        out, _ = child.communicate(timeout=900)
        assert child.returncode == 0 and "CHILD-OK" in out, out[-2000:]

        eng = DedupeEngine.open(spark, root)  # autodetect re-open, graded
        # a 1-row corpus-bounded aggregate broadcast onto every row
        idcheck = eng.objects.agg(
            (F.count("*") == F.count_distinct("id")).alias("ids_ok")
        )
        result = (
            _index_invariant_table(eng)
            .drop("id")
            .crossJoin(F.broadcast(idcheck))
            .select(
                "object_key", "original_length", "ids_ok", "comp_ok",
                "count_ok", "mapped_ok", "contiguous", "positions_ok",
                "lengths_ok", "refcounts_ok", "store_ok", "payload_md5",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


@register(
    "engine_concurrent_write_delete",
    _CONCURRENT_WRITE_DELETE_SQL,
    doc="cross-process write-vs-delete race graded end-to-end "
    "(file-manifest backend): a second real Spark process cascading-"
    "deletes the even corpus half (refcount decrement merge + payload "
    "GC) while the parent re-ingests the same shared content under new "
    "keys — the exact anomaly the composite-op lock exists to exclude "
    "(a GC'd payload silently revived, or a writer's skip-insert "
    "against a payload the deleter then removes). The merged end state "
    "must equal the serial closed forms: odds + new objects with exact "
    "invariants and byte-identical reassembly, evens gone, ids "
    "collision-free (engine.py _commit_mutation / store.py op_lock).",
)
def engine_concurrent_write_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.store import IndexStore

    return _concurrent_write_delete_scenario(spark, sf_dir, IndexStore)


@register(
    "engine_concurrent_write_delete_sqlite",
    _CONCURRENT_WRITE_DELETE_SQL,
    doc="the same two-process write-vs-delete race through the "
    "SQLite-catalog backend (op lock + CAS as BEGIN IMMEDIATE) — the "
    "serialization guarantee must be backend-independent "
    "(DbProvider.cs:10, SqliteProvider.cs:29-30).",
)
def engine_concurrent_write_delete_sqlite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from watsondedupe_spark.store import SqliteIndexStore

    return _concurrent_write_delete_scenario(spark, sf_dir, SqliteIndexStore)


# Multi-batch scenario: four sequential write_batch calls (doc_id % 4
# slices) exercise the O(batch) APPEND path — part accumulation, the
# manifest-meta max_id high-water across batches, CAS rebase — then
# optimize() folds every table to one part before read-back. Ids are
# batch-major: each slice's keys rank within the slice, offset by the
# sizes of the slices ingested before it.
_ENGINE_MULTIBATCH_SQL = """
WITH g AS (
    SELECT doc_id, text, doc_id % 4 AS grp,
           ROW_NUMBER() OVER (PARTITION BY doc_id % 4
                              ORDER BY CAST(doc_id AS VARCHAR)) AS rk
    FROM documents
),
off AS (SELECT grp, COUNT(*) AS n FROM g GROUP BY grp),
cum AS (
    SELECT grp,
           COALESCE(SUM(n) OVER (ORDER BY grp
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
    FROM off
)
SELECT CAST(g.doc_id AS VARCHAR) AS object_key,
       CAST(c.base + g.rk AS BIGINT) AS id,
       CAST(20 * octet_length(encode(g.text)) AS BIGINT) AS original_length,
       TRUE AS comp_ok, TRUE AS count_ok, TRUE AS mapped_ok,
       TRUE AS contiguous, TRUE AS positions_ok, TRUE AS lengths_ok,
       TRUE AS refcounts_ok, TRUE AS store_ok,
       md5(repeat(g.text, 20)) AS payload_md5
FROM g JOIN cum c ON c.grp = g.grp
"""


@register(
    "engine_multibatch_roundtrip",
    _ENGINE_MULTIBATCH_SQL,
    doc="the O(batch) APPEND path graded: the corpus ingests as FOUR "
    "sequential write_batch calls (doc_id % 4 slices), so parts "
    "accumulate, the manifest-meta ingest-id high-water carries across "
    "batches, insert-if-absent payload appends rebase under CAS, and "
    "cross-batch shared chunks merge refcounts; then optimize() folds "
    "every table to one part (the OPTIMIZE/compaction analogue) before "
    "the invariant read-back — so batch-major id assignment, append "
    "accumulation, AND compaction all sit under the hash gate "
    "(store.py append/compact; engine.py write_batch/optimize).",
)
def engine_multibatch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.store import IndexStore

    root = tempfile.mkdtemp(prefix="wds_multibatch_")
    try:
        eng = DedupeEngine.create(
            spark, root, ChunkSettings(*SMALL_FILE_PROFILE), store_cls=IndexStore
        )
        for k in range(4):
            batch = _docs(spark, sf_dir).filter(F.col("doc_id") % 4 == k).select(
                F.col("doc_id").cast("string").alias("object_key"),
                F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
            )
            eng.write_batch(batch)
        folded = eng.optimize()
        assert all(v > 0 for v in folded.values()), folded
        eng = DedupeEngine.open(spark, root)
        result = _index_invariant_table(eng).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


@register(
    "engine_incremental_objects",
    """
WITH e AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 2 = 0)
SELECT CAST(doc_id AS VARCHAR) AS object_key,
       CAST(e.n + ROW_NUMBER() OVER (ORDER BY CAST(doc_id AS VARCHAR))
            AS BIGINT) AS id,
       CAST(20 * octet_length(encode(text)) AS BIGINT) AS original_length
FROM documents, e WHERE doc_id % 2 = 1
""",
    doc="the store's time-travel incremental view graded: ingest the "
    "even-id half, pin the objects-table manifest version, ingest the "
    "odd-id half, and return objects_added_since(v) — which must be "
    "EXACTLY the second batch (monotone ingest-sequence ids make the "
    "diff a pure metadata filter above the old snapshot's max id, no "
    "join, engine.py objects_added_since; the retained-manifest "
    "read_version is the Delta time-travel analogue, store.py).",
)
def engine_incremental_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.store import IndexStore

    def batch(parity: int) -> DataFrame:
        return _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == parity).select(
            F.col("doc_id").cast("string").alias("object_key"),
            F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
        )

    root = tempfile.mkdtemp(prefix="wds_incr_")
    try:
        eng = DedupeEngine.create(
            spark, root, ChunkSettings(*SMALL_FILE_PROFILE), store_cls=IndexStore
        )
        eng.write_batch(batch(0))
        v = eng.store.current_version("objects")
        eng.write_batch(batch(1))
        result = (
            eng.objects_added_since(v)
            .select("object_key", "id", "original_length")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


def _simhash60_sql(with_candidates: bool) -> str:
    """Generate the DuckDB mirror of simhash60_md5 (+ band candidates)."""
    votes = ",\n           ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(60)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)" for i in range(60))
    base = f"""
WITH tok AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t FROM documents
),
th AS (
    SELECT id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
),
votes AS (
    SELECT id,
           {votes}
    FROM th GROUP BY id
),
fp AS (
    SELECT id, CAST({fp} AS BIGINT) AS simhash FROM votes
)"""
    if not with_candidates:
        return base + "\nSELECT id, simhash FROM fp"
    bands = " OR ".join(
        f"((a.simhash >> {15 * k}) & 32767) = ((b.simhash >> {15 * k}) & 32767)" for k in range(4)
    )
    return (
        base
        + f""",
cand AS (
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id AND ({bands})
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 12"""
    )


@register(
    "docs_simhash",
    _simhash60_sql(with_candidates=False),
    doc="portable SimHash-60 fingerprints: md5-derived token hashes, "
    "bit-majority aggregation — DuckDB recomputes the fingerprint "
    "bit-for-bit (the xxhash64-based simhash64 stays as the "
    "engine-native variant, pytest-pinned).",
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_fp(spark, sf_dir)


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 60-bit portable SimHash fingerprint table, cached per
    (session, sf_dir): the 60-vote bit-majority aggregation is the
    expensive stage, and both the fingerprint query and the candidate
    join consume the same table — a corpus build computes fingerprints
    once (a 16-byte row per doc) and every Hamming probe reads them,
    the same sharing ``minhash_sig_df`` gives the MinHash suite."""
    from watsondedupe_spark.operators.dedupe import simhash60_md5

    return substrate(
        spark,
        sf_dir,
        "simhash_fp",
        lambda: simhash60_md5(_docs(spark, sf_dir), "text", "doc_id").localCheckpoint(eager=True),
    )


@register(
    "docs_simhash_candidates",
    _simhash60_sql(with_candidates=True),
    doc="SimHash Hamming-near pairs via the 4x15-bit band pigeonhole join "
    "over the portable 60-bit fingerprint.",
)
def docs_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import simhash60_candidates

    # the cached fingerprint table (localCheckpointed) feeds both sides
    # of the band self-join; the 60-vote aggregation runs once per corpus
    return simhash60_candidates(_simhash_fp(spark, sf_dir), max_hamming=12)


# Spark's aggregate() and DuckDB's list_reduce() are both strict left
# folds; seeding with 0.0 costs nothing (0.0 + x == x), so identical
# operand order gives bit-identical IEEE-754 doubles on both engines.
_FOLD_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_FOLD_DOT.format(a=a, b=b)} / sqrt({_FOLD_DOT.format(a=a, b=a)})"
        f" / sqrt({_FOLD_DOT.format(a=b, b=b)})"
    )


@register(
    "emb_cosine_topk_float",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
sims AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {_cos_sql('qv', 'embedding')} AS cosine
    FROM embeddings e JOIN q ON e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM sims)
WHERE rnk <= 10
""",
    doc="float-exact brute-force cosine top-k (zip_with/aggregate JVM fold) — "
    "oracle-checkable without quantization because Spark aggregate() and "
    "DuckDB list_reduce() are both strict left folds over the same "
    "operands (identical IEEE-754 accumulation order).",
)
def emb_cosine_topk_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    return cosine_topk(emb, q, k=10)


def _lsh_bucket_sql(vec: str, n_planes: int = 6, n_dims: int = 64) -> str:
    """DuckDB mirror of sign_lsh_bucket: same ±1 hyperplane literals
    (from the same _plane_sign md5 derivation), same left-fold
    projection, so the bucket assignment is bit-identical."""
    from watsondedupe_spark.operators.similarity import _plane_sign

    bits = []
    for j in range(1, n_planes + 1):
        signs = ", ".join(
            f"{float(_plane_sign(j, i))}" for i in range(1, n_dims + 1)
        )
        proj = (
            f"list_reduce(list_transform(list_zip({vec}, [{signs}]), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << (j - 1)} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


@register(
    "emb_ann_topk_lsh",
    f"""
WITH b AS (
    SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 3),
sims AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('qv', 'c.embedding')} AS cosine
    FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM sims)
WHERE rnk <= 10
""",
    doc="LSH-bucketed approximate top-k: probe only the query's sign "
    "bucket. Oracle-checkable end to end: hyperplane ±1 components are "
    "md5-derived literals shared with the SQL, and both engines fold "
    "projections/cosines left-to-right (bit-identical doubles).",
)
def emb_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    return ann_topk_lsh(emb, q, k=10, n_planes=6)


_MP_MASKS = "[0, 1, 2, 4, 8, 16, 32]"  # radius-1 probe masks, 6 planes


@register(
    "emb_ann_topk_lsh_mp",
    f"""
WITH b AS (
    SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 3),
probes AS (
    SELECT q.query_id, q.qv, xor(q.bucket, m.m) AS bucket
    FROM q CROSS JOIN (SELECT unnest({_MP_MASKS}) AS m) m
),
sims AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('p.qv', 'c.embedding')} AS cosine
    FROM b c JOIN probes p ON c.bucket = p.bucket AND c.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM sims)
WHERE rnk <= 10
""",
    doc="multi-probe sign-LSH top-k (Lv et al. 2007, radius-1 form): "
    "each query probes its own bucket PLUS the 6 buckets one flipped "
    "hyperplane bit away, recovering near-misses that landed just "
    "across a hyperplane — recall strictly dominates the single-probe "
    "query (pytest-pinned) while reading 7/64 of the corpus instead of "
    "re-storing it under more hash tables. The probe list is a "
    "7-rows-per-query broadcast; the corpus is bucketed once. Oracle "
    "shares the single-probe derivation with an xor'd probe CTE.",
)
def emb_ann_topk_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    return ann_topk_lsh(emb, q, k=10, n_planes=6, probe_radius=1)


_IVF_CENT_KEY = "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"


_QUANT_VEC_SQL = "list_transform({v}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

_IQ_FOLD = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), "
    "(acc, x) -> acc + x)"
)


def _iq_cos_sql(a: str, b: str) -> str:
    return (
        f"CAST({_IQ_FOLD.format(a=a, b=b)} AS DOUBLE)"
        f" / sqrt(CAST({_IQ_FOLD.format(a=a, b=a)} AS DOUBLE))"
        f" / sqrt(CAST({_IQ_FOLD.format(a=b, b=b)} AS DOUBLE))"
    )


@register(
    "emb_ann_topk_ivf",
    f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding AS cv,
           {_QUANT_VEC_SQL.format(v='embedding')} AS qcv
    FROM embeddings
    ORDER BY {_IVF_CENT_KEY}, vec_id LIMIT 16
),
base AS (
    SELECT vec_id, embedding, {_QUANT_VEC_SQL.format(v='embedding')} AS qv
    FROM embeddings
),
scored AS (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           {_iq_cos_sql('e.qv', 'c.qcv')} AS csim
    FROM base e CROSS JOIN cents c
),
assign1 AS (
    SELECT vec_id, embedding, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM scored)
    WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM scored WHERE vec_id < 3)
    WHERE rn <= 4
),
sims AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           {_cos_sql('p.qv', 'a.embedding')} AS cosine
    FROM assign1 a JOIN probes p ON a.centroid_id = p.centroid_id AND a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM sims)
WHERE rnk <= 10
""",
    doc="IVF approximate top-k: deterministic coarse centroids (md5-keyed "
    "sample, SQL-derivable), corpus listed per centroid, queries probe "
    "n_probe=4 nearest lists — the partition-pruned scale path alongside "
    "sign-LSH, now with a full DuckDB oracle.",
)
def emb_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    return ann_topk_ivf(emb, q, k=10, n_centroids=16, n_probe=4)


@register(
    "cdc_chunk_index_segmented",
    _CDC_INVARIANT_SQL,
    doc="segment-framed CDC (SURVEY §7.3): objects split into frames "
    "JVM-side, frames chunked in parallel, addresses rebased — the "
    "within-object parallelism path for multi-GB objects. Same coverage "
    "invariants as cdc_chunk_index: rebasing must still tile the object.",
)
def cdc_chunk_index_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.chunking import (
        ChunkSettings,
        SMALL_FILE_PROFILE,
        chunk_objects_segmented,
    )

    objs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
    )
    chunks = chunk_objects_segmented(
        objs, ChunkSettings(*SMALL_FILE_PROFILE), segment_size=32768
    )
    # materialize the (tiny, per-object) invariant summary eagerly so the
    # chunker's internal payload-bearing cache can be released here —
    # Spark's CacheManager would otherwise hold it for the session
    # lifetime (the caller-must-release contract on _cdc_cache)
    inv = _chunk_invariants(chunks).localCheckpoint(eager=True)
    chunks._cdc_cache.unpersist()
    return inv


# Closed-form image payload family shared by multimodal_image_features
# and multimodal_feature_near_dups: a PNG header prefix (signature + len
# + IHDR tag + width + height, 24 bytes — the decoder's contract is
# header parsing; the CRC-bearing full-file roundtrip is already graded
# by multimodal_png_roundtrip) followed by a solid body of ``m = 8*k``
# copies of byte ``v``. Every byte is a closed form of doc_id, so the
# default byte-histogram featurizer's output is SQL-recomputable:
#   acc[j] = header_class_sum[j] + w/h byte contributions + k*v
#   feature[j] = float32(acc[j] / sum(acc))
# (body length is a multiple of 8 = the histogram dim, so each residue
# class receives exactly k copies of v).
_IMG_W = "1 + doc_id % 512"
_IMG_H = "1 + (doc_id * 7) % 512"
_IMG_V = "doc_id % 251"
_IMG_K = "1 + doc_id % 7"

# per-residue-class header constants: signature 137,80,78,71,13,10,26,10
# + len field 0,0,0,13 + 'IHDR' 73,72,68,82 + w/h big-endian bytes
_IMG_ACC_SQL = (
    "[137 + k*v, 80 + k*v, 78 + (w // 256) + k*v, 84 + (w % 256) + k*v,"
    " 86 + k*v, 82 + k*v, 94 + (h // 256) + k*v, 92 + (h % 256) + k*v]"
)

# float32 feature after the double divide (the Arrow array<float> cast),
# widened back to DOUBLE — the exact value Spark's float column yields
_IMG_FEAT_SQL = (
    "list_transform(acc, x -> CAST(CAST(CAST(x AS DOUBLE)"
    " / CAST(list_sum(acc) AS DOUBLE) AS REAL) AS DOUBLE))"
)

_IMG_BASE_CTE = f"""
p AS (
    SELECT doc_id, {_IMG_W} AS w, {_IMG_H} AS h, {_IMG_V} AS v, {_IMG_K} AS k
    FROM documents
),
a AS (
    SELECT doc_id, w, h, k, {_IMG_ACC_SQL} AS acc FROM p
),
f AS (
    SELECT doc_id, w, h, k, {_IMG_FEAT_SQL} AS fv FROM a
)
"""


def _synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fused Arrow pass synthesizing the closed-form payloads."""

    def _make(batches):
        import struct

        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 1 + did % 512, 1 + (did * 7) % 512
                v, m = did % 251, 8 * (1 + did % 7)
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + struct.pack(">I", 13)
                    + b"IHDR"
                    + struct.pack(">II", w, h)
                    + bytes([v]) * m
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(_make, schema="doc_id long, payload binary")
    )


@register(
    "multimodal_image_features",
    f"""
WITH {_IMG_BASE_CTE}
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(24 + 8 * k AS BIGINT) AS n_bytes, 'png' AS format,
       CAST(fv[1] AS REAL) AS f0, CAST(fv[2] AS REAL) AS f1,
       CAST(fv[3] AS REAL) AS f2, CAST(fv[4] AS REAL) AS f3,
       CAST(fv[5] AS REAL) AS f4, CAST(fv[6] AS REAL) AS f5,
       CAST(fv[7] AS REAL) AS f6, CAST(fv[8] AS REAL) AS f7
FROM f
""",
    doc="the image decode+FEATURIZE path graded end to end: closed-form "
    "PNG-header payloads (dimensions and a solid body byte both derived "
    "from doc_id) run through the REAL default decoder and byte-histogram "
    "featurizer via Arrow-batched mapInPandas, and the oracle recomputes "
    "header fields AND all 8 normalized histogram components in SQL "
    "(integer accumulations, one double divide, one float32 cast — "
    "bit-identical across engines). A featurizer that mis-bins, "
    "mis-normalizes, or loses f32 rounding hash-mismatches.",
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.multimodal import extract_image_features, wrap_media

    media = wrap_media(_synth_images(spark, sf_dir), "payload", "image/png", "doc_id")
    feats = extract_image_features(media)
    return feats.select(
        "id", "width", "height", "n_bytes", "format",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(8)],
    )


@register(
    "multimodal_png_roundtrip",
    """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(1 + doc_id % 512 AS INT) AS width,
       CAST(1 + (doc_id * 7) % 512 AS INT) AS height,
       CAST(33 AS BIGINT) AS n_bytes,
       'png' AS format
FROM documents
""",
    doc="the REAL image decode path, graded end to end: every document "
    "synthesizes a valid PNG (signature + IHDR + CRC, dimensions a "
    "closed form of doc_id), the default decoder parses it back, and "
    "the oracle recomputes the closed form — so a decoder that "
    "misreads width/height/byte-order, or plumbing that reorders/drops "
    "rows, hash-mismatches. Payload synthesis and decode are one fused "
    "Arrow pass each; binary columns never shuffle.",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.multimodal import extract_image_features, wrap_media

    def _make(batches):
        import struct
        import zlib

        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                w, h = int(1 + did % 512), int(1 + (did * 7) % 512)
                ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
                chunk = b"IHDR" + ihdr
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + struct.pack(">I", len(ihdr))
                    + chunk
                    + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    pngs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(_make, schema="doc_id long, payload binary")
    )
    media = wrap_media(pngs, "payload", "image/png", "doc_id")
    return extract_image_features(media).select(
        "id", "width", "height", "n_bytes", "format"
    )


@register(
    "multimodal_wav_roundtrip",
    """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(8000 + (doc_id % 5) * 4000 AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS n_channels,
       CAST(100 + doc_id % 900 AS BIGINT) AS n_samples,
       CAST(100 + doc_id % 900 AS DOUBLE) / (8000 + (doc_id % 5) * 4000)
           AS duration_s
FROM documents
""",
    doc="the REAL audio decode path, graded end to end (the WAV sibling "
    "of multimodal_png_roundtrip): every document synthesizes a valid "
    "PCM RIFF/WAVE stream — fmt chunk, an odd-sized junk LIST chunk "
    "(exercises the parser's word-alignment skip), then a data chunk "
    "sized by closed forms of doc_id — the default decoder walks the "
    "chunk list back out, and the oracle recomputes the closed forms. "
    "A decoder that misreads little-endian fields, skips chunks "
    "wrongly, or miscomputes block_align hash-mismatches; duration is "
    "one IEEE double divide, bit-identical across engines. Synthesis "
    "and decode are one fused Arrow pass each; payloads never shuffle.",
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.multimodal import decode_audio, wrap_media

    def _make(batches):
        import struct

        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                rate = 8000 + (did % 5) * 4000
                channels = 1 + did % 2
                n_samples = 100 + did % 900
                block_align = 2 * channels  # 16-bit PCM
                fmt = struct.pack(
                    "<HHIIHH", 1, channels, rate, rate * block_align, block_align, 16
                )
                junk = b"INFOx"  # odd size -> parser must pad to word
                data = bytes(n_samples * block_align)
                body = (
                    b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                payloads.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wavs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(_make, schema="doc_id long, payload binary")
    )
    media = wrap_media(wavs, "payload", "audio/wav", "doc_id")
    return decode_audio(media).select(
        "id", "sample_rate", "n_channels", "n_samples", "duration_s"
    )


@register(
    "multimodal_frame_sample",
    """
WITH d AS (
    SELECT doc_id, strlen(text) AS len
    FROM documents WHERE doc_id % 7 = 0 AND strlen(text) > 0
),
s AS (
    SELECT doc_id, len, GREATEST(1, len // 4) AS step FROM d
),
f AS (
    SELECT doc_id, len, step,
           unnest(generate_series(
               0, LEAST(4, (len + step - 1) // step) - 1)) AS idx
    FROM s
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(idx AS INT) AS frame_index,
       CAST(idx * 500 AS BIGINT) AS frame_ts_ms,
       CAST(LEAST((idx + 1) * step, len) - idx * step AS INT) AS frame_bytes
FROM f
""",
    doc="multimodal frame sampling, graded end to end: binary 'video' "
    "payloads (a deterministic 1-in-7 doc slice, UTF-8 text bytes) "
    "explode into bounded per-frame rows via Arrow-batched mapInPandas. "
    "The splitter seam is a deterministic fake (fixed-size byte slices "
    "standing in for ffmpeg keyframe extraction) — which makes every "
    "output column a CLOSED FORM of the payload byte length, so the "
    "oracle recomputes the step/fan-out/slice arithmetic in SQL and a "
    "splitter that mis-steps, over-fans, or drops tail bytes "
    "hash-mismatches. The explode shape, timestamps, and bounded "
    "fan-out are the real contract an ffmpeg drop-in inherits.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.multimodal import sample_frames, wrap_media

    # deterministic slice (not .limit(): row order off a parquet scan is
    # not a contract either engine should be graded on)
    df = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = wrap_media(df, "payload", "video/mp4", "doc_id")
    frames = sample_frames(media, every_ms=500, max_frames=4)
    return frames.select(
        "id",
        "frame_index",
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
        F.length("frame").alias("frame_bytes"),
    )


_FEAT_DUP_COSINE = 0.99999


def _feature_near_dup_oracle() -> str:
    from watsondedupe_spark.queries.curation_ext import _icos_sql

    quant = _QUANT_VEC_SQL.format(v="fv")
    return f"""
WITH {_IMG_BASE_CTE},
b AS (
    SELECT doc_id, {quant} AS qv,
           {_lsh_bucket_sql('fv', n_planes=6, n_dims=8)} AS bucket
    FROM f
)
SELECT id_a, id_b, cosine FROM (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           {_icos_sql('x.qv', 'y.qv')} AS cosine
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
)
WHERE cosine >= {_FEAT_DUP_COSINE}
"""


@register(
    "multimodal_feature_near_dups",
    _feature_near_dup_oracle(),
    doc="cross-modal integration graded end to end: closed-form image "
    "payloads -> Arrow-batched decode/featurize (the REAL default "
    "decoder + byte-histogram featurizer) -> sign-LSH bucketed "
    "quantized-integer cosine near-dup over the 8-dim features "
    "(operators.dedupe.embedding_near_dups_np — one integer matmul per "
    "bucket group, enforced group bounds). The oracle recomputes the "
    "features, the md5-derived hyperplane buckets, and the exact "
    "int-quantized cosine in SQL, so every stage of the image-dedup "
    "pipeline — codec, featurizer, bucketing, verify — is "
    "hash-gated, not rows-only.",
)
def multimodal_feature_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.dedupe import embedding_near_dups_np
    from watsondedupe_spark.operators.multimodal import extract_image_features, wrap_media

    media = wrap_media(_synth_images(spark, sf_dir), "payload", "image/png", "doc_id")
    feats = extract_image_features(media).select(
        F.col("id").cast("long").alias("vec_id"), "feature"
    )
    return embedding_near_dups_np(
        feats,
        id_col="vec_id",
        vec_col="feature",
        threshold=_FEAT_DUP_COSINE,
        n_planes=6,
        n_dims=8,
    )


# DuckDB mirror of the exact-integer Lloyd round: quantized int64 sums
# are order-free (so iterative means stop being accumulation-order-
# dependent) and cosine is scale-invariant (so the member-SUM vector is
# the centroid — no division ever happens). One refinement round
# unrolls as CTEs; every score is bit-identical across engines.
_KMEANS_ORACLE = f"""
WITH base AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings
),
cents0 AS (
    SELECT vec_id AS centroid_id, qv AS cv
    FROM base
    ORDER BY {_IVF_CENT_KEY}, vec_id
    LIMIT 16
),
score1 AS (
    SELECT b.vec_id, b.qv, c.centroid_id, {_iq_cos_sql('b.qv', 'c.cv')} AS csim
    FROM base b CROSS JOIN cents0 c
),
assign1 AS (
    SELECT vec_id, qv, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM score1)
    WHERE rn = 1
),
sums AS (
    SELECT centroid_id, d.i AS dim, SUM(qv[d.i]) AS s
    FROM assign1, (SELECT unnest(generate_series(1, 64)) AS i) d
    GROUP BY 1, 2
),
cents1 AS (
    SELECT centroid_id, list(s ORDER BY dim) AS cv FROM sums GROUP BY centroid_id
    UNION ALL
    SELECT c.centroid_id, c.cv FROM cents0 c
    WHERE c.centroid_id NOT IN (SELECT centroid_id FROM sums)
),
score2 AS (
    SELECT b.vec_id, c.centroid_id, {_iq_cos_sql('b.qv', 'c.cv')} AS csim
    FROM base b CROSS JOIN cents1 c
),
assign2 AS (
    SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
        FROM score2)
    WHERE rn = 1
)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(vec_id) AS BIGINT) AS min_member
FROM assign2 GROUP BY centroid_id
"""


@register(
    "emb_kmeans_refined_assign",
    _KMEANS_ORACLE,
    doc="iterative Lloyd refinement, made oracle-able: quantized int64 "
    "sums are accumulation-order-free and cosine's scale invariance "
    "lets the member-SUM vector stand in for the mean, so one unrolled "
    "refinement round + final assignment is bit-reproducible in SQL — "
    "an iterative algorithm graded end to end (the float-mean "
    "arbitrary-rounds form, kmeans_refine, remains the production "
    "operator; SSE convergence pytest-pinned in test_curation_ext). "
    "Per round: broadcast scoring pass (corpus never shuffles), int64 "
    "sums posexplode + partial-agg (shuffle bounded by n_centroids * "
    "dim * partitions), lineage checkpoint-truncated.",
)
def emb_kmeans_refined_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.similarity import kmeans_refine_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = kmeans_refine_exact(emb, n_centroids=16, rounds=1)
    return assigned.groupBy("centroid_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").cast("long").alias("min_member"),
    )


# ---------------------------------------------------------------------------
# SimHash calibration audit: Hamming distance vs exact token-set Jaccard —
# the table that decides max_hamming, completing the sketch-audit family
# ---------------------------------------------------------------------------


@register(
    "docs_simhash_accuracy",
    _simhash60_sql(with_candidates=True).replace(
        "SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 12",
        """
, ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
SELECT c.id_a, c.id_b, c.hamming,
       CAST(c.hamming AS DOUBLE) / 60 AS hamming_frac,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
           AS exact_jaccard
FROM cand c
JOIN ts a ON a.doc_id = c.id_a
JOIN ts b ON b.doc_id = c.id_b
WHERE c.hamming <= 12""",
    ),
    doc="SimHash calibration audit: for every band candidate pair, the "
    "60-bit Hamming distance (and its fraction — the angle estimator "
    "SimHash actually measures) beside the EXACT token-set Jaccard, "
    "computed row-locally by array intersection on the pair's two "
    "distinct-token sets. This is the threshold-calibration table for "
    "max_hamming — the SimHash sibling of docs_minhash_accuracy and "
    "docs_minhash_bbit, completing the sketch-audit family (every "
    "sketch the dedup pipeline ships now carries a graded accuracy "
    "contract). The exact arm never explodes tokens into posting "
    "lists (the vocabulary is heavy-tailed; a token-keyed self-join "
    "would be quadratic in posting length): the bounded candidate set "
    "joins the per-doc token arrays by id and intersects inside the "
    "row, so the quadratic work is capped by the band fan-out",
)
def docs_simhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = docs_simhash_candidates(spark, sf_dir)
    ts = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = ts.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = ts.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            (F.col("hamming").cast("double") / 60).alias("hamming_frac"),
            (
                inter.cast("double")
                / (F.size("toks_a") + F.size("toks_b") - inter)
            ).alias("exact_jaccard"),
        )
    )


@register(
    "multimodal_audio_features",
    """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(200 + doc_id % 700 AS BIGINT) AS n_samples,
       CAST(1000 + doc_id % 29000 AS BIGINT) AS peak,
       CAST((200 + doc_id % 700 - 1) // (1 + doc_id % 16) AS BIGINT) AS zero_crossings,
       CAST(200 + doc_id % 700 AS BIGINT)
           * (1000 + doc_id % 29000) * (1000 + doc_id % 29000) AS energy
FROM documents
""",
    doc="the REAL audio FEATURE path, graded end to end (the sample-"
    "domain sibling of multimodal_wav_roundtrip's header walk): every "
    "document synthesizes a mono PCM16 square wave whose amplitude, "
    "period, and length are closed forms of doc_id; the default "
    "extractor parses the RIFF chunks, decodes the little-endian "
    "samples, and computes peak / strict-sign-flip zero crossings / "
    "exact integer energy; the oracle recomputes the closed forms "
    "(peak = A, crossings = (n-1) // P, energy = n * A^2). An "
    "extractor that misreads sample endianness, drops the last "
    "sample, or miscounts flips hash-mismatches. Synthesis and "
    "extraction are one fused Arrow pass each; payloads never "
    "shuffle, and the output is 4 integers per row",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.multimodal import (
        extract_audio_features,
        wrap_media,
    )

    def _make(batches):
        import struct
        import sys
        from array import array

        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                amp = 1000 + did % 29000
                period = 1 + did % 16
                n = 200 + did % 700
                samples = array(
                    "h", [amp if (i // period) % 2 == 0 else -amp for i in range(n)]
                )
                if sys.byteorder == "big":
                    samples.byteswap()  # WAV data is little-endian by spec
                data = samples.tobytes()
                fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
                junk = b"INFOx"  # odd size -> word-alignment skip
                body = (
                    b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                payloads.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wavs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(_make, schema="doc_id long, payload binary")
    )
    media = wrap_media(wavs, "payload", "audio/wav", "doc_id")
    return extract_audio_features(media).select(
        "id", "n_samples", "peak", "zero_crossings", "energy"
    )


_CUT_THRESH = 2  # mean-byte jump (in byte-value units) that marks a cut


@register(
    "multimodal_scene_cuts",
    f"""
WITH d AS (
    SELECT doc_id, text, strlen(text) AS len
    FROM documents WHERE doc_id % 7 = 0 AND strlen(text) > 0
),
s AS (
    SELECT doc_id, text, len, GREATEST(1, len // 4) AS step FROM d
),
f AS (
    SELECT doc_id, text, len, step,
           unnest(generate_series(
               0, LEAST(4, (len + step - 1) // step) - 1)) AS idx
    FROM s
),
fr AS (
    SELECT doc_id, idx, text, idx * step AS off,
           LEAST((idx + 1) * step, len) - idx * step AS flen
    FROM f
),
pos AS (
    SELECT doc_id, idx, flen, text, off,
           unnest(generate_series(0, flen - 1)) AS o
    FROM fr
),
feat AS (
    SELECT doc_id, idx, MAX(flen) AS flen,
           SUM(ascii(substr(text, off + o + 1, 1))) AS f_sum
    FROM pos GROUP BY doc_id, idx
),
lagged AS (
    SELECT doc_id, idx, flen, f_sum,
           LAG(f_sum) OVER w AS p_sum,
           LAG(flen) OVER w AS p_len
    FROM feat
    WINDOW w AS (PARTITION BY doc_id ORDER BY idx)
),
cuts AS (
    SELECT doc_id, idx,
           CASE WHEN p_sum IS NOT NULL
                 AND abs(f_sum * p_len - p_sum * flen) >
                     {_CUT_THRESH} * flen * p_len
                THEN 1 ELSE 0 END AS is_cut
    FROM lagged
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(is_cut) AS BIGINT) AS n_cuts,
       CAST(COALESCE(MIN(CASE WHEN is_cut = 1 THEN idx END), -1) AS INT)
           AS first_cut
FROM cuts GROUP BY doc_id
""",
    doc="scene-cut detection over the sampled-frame pipeline: frames "
    "(the graded multimodal_frame_sample seam) flow through an Arrow "
    "per-frame feature kernel (operators/multimodal.py::"
    "frame_byte_features — the byte-sum brightness proxy standing in "
    "for a luma histogram), then a per-video LAG window flags a cut "
    "wherever the mean byte value jumps by more than 2 units — "
    "compared as the integer cross-product |f1*l0 - f0*l1| > T*l0*l1, "
    "so no float means. The oracle re-derives frame offsets AND byte "
    "sums from pure character arithmetic (ascii(substr(..)) over "
    "generated positions), so a feature kernel that mis-slices, "
    "mis-sums, or mis-orders frames hash-mismatches. Scale shape: "
    "frames explode boundedly (<=4 per video), features reduce "
    "per-frame map-side, the window shuffles on video id once.",
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from watsondedupe_spark.operators.multimodal import (
        frame_byte_features,
        sample_frames,
        wrap_media,
    )

    df = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = wrap_media(df, "payload", "video/mp4", "doc_id")
    feats = frame_byte_features(sample_frames(media, every_ms=500, max_frames=4))
    w = Window.partitionBy("id").orderBy("frame_index")
    lagged = feats.select(
        "id",
        "frame_index",
        "f_sum",
        "f_len",
        F.lag("f_sum").over(w).alias("p_sum"),
        F.lag("f_len").over(w).alias("p_len"),
    )
    cuts = lagged.select(
        "id",
        "frame_index",
        F.when(
            F.col("p_sum").isNotNull()
            & (
                F.abs(F.col("f_sum") * F.col("p_len") - F.col("p_sum") * F.col("f_len"))
                > _CUT_THRESH * F.col("f_len") * F.col("p_len")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_cut"),
    )
    return cuts.groupBy("id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("is_cut").cast("long").alias("n_cuts"),
        F.coalesce(
            F.min(F.when(F.col("is_cut") == 1, F.col("frame_index"))), F.lit(-1)
        )
        .cast("int")
        .alias("first_cut"),
    )


# ---------------------------------------------------------------------------
# point-read latency path: manifest min/max data skipping (round 8)
# ---------------------------------------------------------------------------

_POINT_READS_SQL = """
WITH sel AS (
    SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS object_key, text
    FROM documents WHERE doc_id % 7 = 0 AND doc_id < 42
)
SELECT object_key,
       md5(repeat(text, 20)) AS payload_md5,
       TRUE AS exists_ok, TRUE AS miss_ok, TRUE AS range_ok,
       TRUE AS meta_ok, TRUE AS pruned_ok, TRUE AS list_ok
FROM sel
"""


@register(
    "engine_point_reads",
    _POINT_READS_SQL,
    doc="O6/O8/O9/O11/O12 point-read loop over a THREE-PART store with "
    "disjoint per-part key spans (zero-padded keys, range-batched "
    "appends): get() reassembly md5 (closed form: md5 of the 20x "
    "payload), exists hit + miss, ranged read vs the payload slice, "
    "metadata accounting, keyset list page — and the round-8 claim "
    "itself: every point lookup PRUNES the part list to exactly one "
    "part via the manifest min/max spans before any read "
    "(store.parts_for_keys; the b-tree-PK analogue of "
    "SqliteProvider.cs:258-270).",
)
def engine_point_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine

    objs = (
        _docs(spark, sf_dir)
        .select(
            F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("object_key"),
            F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
            F.col("doc_id").cast("long").alias("_id"),
        )
    )
    n_docs = objs.count()
    root = tempfile.mkdtemp(prefix="wds_pointreads_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        # three range-batched appends -> three parts whose object_key
        # spans are DISJOINT (zero-padded keys sort like doc_id), so a
        # correct pruner selects exactly one part per probe
        cut1, cut2 = n_docs // 3, 2 * n_docs // 3
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, n_docs + 1)):
            batch = objs.filter((F.col("_id") >= lo) & (F.col("_id") < hi))
            eng.write_batch(batch.select("object_key", "data"))
        eng = DedupeEngine.open(spark, root)

        state = eng.store._state("objects")
        n_parts = len(state["parts"])
        sample = sorted(
            r.object_key
            for r in objs.filter((F.col("_id") % 7 == 0) & (F.col("_id") < 42))
            .select("object_key")
            .collect()
        )
        # list page expectation: ids are the global object_key rank
        # (range-batched appends preserve key order), so the first page
        # is the 5 smallest keys
        first_page = eng.list_objects(index_start=0, max_results=5).objects
        all_keys = sorted(r.object_key for r in objs.select("object_key").collect())
        list_ok = [r.object_key for r in first_page] == all_keys[:5]

        rows = []
        for key in sample:
            data = eng.get(key)
            meta = eng.get_metadata(key)
            rng = eng.get_range(key, 16, 4096)
            pruned_obj = eng.store._prune_parts(state, {"object_key": [(key, key)]})
            pruned_map = eng.store._prune_parts(
                eng.store._state("object_map"), {"object_key": [(key, key)]}
            )
            rows.append(
                (
                    key,
                    hashlib.md5(data).hexdigest(),
                    eng.exists(key),
                    not eng.exists(key + "_missing"),
                    rng == data[16 : 16 + 4096],
                    meta.original_length == len(data)
                    and meta.chunk_count == len(meta.object_map),
                    n_parts == 3
                    and len(pruned_obj) == 1
                    and len(pruned_map) == 1,
                    bool(list_ok),
                )
            )
        result = spark.createDataFrame(
            rows,
            "object_key string, payload_md5 string, exists_ok boolean, "
            "miss_ok boolean, range_ok boolean, meta_ok boolean, "
            "pruned_ok boolean, list_ok boolean",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# point-read latency path II: per-part Bloom sidecars on the hash-keyed
# tables (round 12)
# ---------------------------------------------------------------------------

_BLOOM_PRUNE_SQL = """
WITH sel AS (
    SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS object_key, text
    FROM documents WHERE doc_id % 11 = 0 AND doc_id < 66
)
SELECT object_key,
       md5(repeat(text, 20)) AS payload_md5,
       TRUE AS sidecars_ok, TRUE AS pruned_ok,
       TRUE AS miss_zero_ok, TRUE AS exists_miss_ok
FROM sel
"""


@register(
    "engine_bloom_prune",
    _BLOOM_PRUNE_SQL,
    doc="Round-12 data-skipping claim for the HASH-keyed tables: manifest "
    "min/max spans can never skip a part of chunks/chunk_store (uniform "
    "urlsafe-b64 SHA-256 keys span the whole keyspace — store.HASH_KEYED), "
    "so every part-write records a per-part Bloom sidecar "
    "(bloom.py, store.BLOOM_COLS) and point reads prune on MEMBERSHIP: "
    "a get()'s payload fetch scans strictly fewer parts than the live "
    "part count (pruned_ok), a probe for a never-written chunk key "
    "prunes ALL payload parts (miss_zero_ok: the scan-free negative "
    "lookup — the b-tree-miss fast path of SqliteProvider.cs:258-270 as "
    "file skipping), and an exists() miss on an arbitrary user key "
    "prunes every objects part via the BLAKE2b fallback hash "
    "(exists_miss_ok). get() reassembly md5 stays the closed form "
    "(correctness through the pruned read path).",
)
def engine_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os as _os
    import shutil
    import tempfile

    from watsondedupe_spark.chunking import ChunkSettings, SMALL_FILE_PROFILE
    from watsondedupe_spark.engine import DedupeEngine
    from watsondedupe_spark.keys import chunk_key as _ck

    objs = _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("object_key"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("data"),
        F.col("doc_id").cast("long").alias("_id"),
    )
    n_docs = objs.count()
    root = tempfile.mkdtemp(prefix="wds_bloomprune_")
    try:
        eng = DedupeEngine.create(spark, root, ChunkSettings(*SMALL_FILE_PROFILE))
        # three append batches: chunk keys are uniform hashes, so the
        # three chunk_store parts have fully-overlapping key SPANS —
        # only the bloom can tell them apart
        cut1, cut2 = n_docs // 3, 2 * n_docs // 3
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, n_docs + 1)):
            batch = objs.filter((F.col("_id") >= lo) & (F.col("_id") < hi))
            eng.write_batch(batch.select("object_key", "data"))
        eng = DedupeEngine.open(spark, root)
        st = eng.store

        cs_state = st._state("chunk_store")
        cs_parts = cs_state["parts"]
        obj_parts = st._state("objects")["parts"]
        sidecars_ok = len(cs_parts) == 3 and all(
            _os.path.exists(_os.path.join(p, "_BLOOM.chunk_key"))
            for p in cs_parts
        ) and all(
            _os.path.exists(_os.path.join(p, "_BLOOM.object_key"))
            for p in obj_parts
        )

        sample = sorted(
            r.object_key
            for r in objs.filter((F.col("_id") % 11 == 0) & (F.col("_id") < 66))
            .select("object_key")
            .collect()
        )
        rows = []
        for key in sample:
            data = eng.get(key)  # reassembly THROUGH the bloom-pruned path
            ck_list = [
                r.chunk_key
                for r in eng.get_object_map(key).select("chunk_key").collect()
            ]
            kept = st._bloom_prune("chunk_store", "chunk_key", cs_parts, ck_list)
            # dedup reuse may legitimately place a shared chunk in an
            # earlier part, but an object's chunks can never need every
            # part — pruning must beat the span baseline (all 3)
            pruned_ok = 0 < len(kept) < len(cs_parts)
            absent = _ck(hashlib.sha256(f"absent|{key}".encode()).digest())
            miss_zero_ok = (
                st._bloom_prune("chunk_store", "chunk_key", cs_parts, [absent])
                == []
            )
            exists_miss_ok = (not eng.exists(key + "_missing")) and (
                st._bloom_prune(
                    "objects", "object_key", obj_parts, [key + "_missing"]
                )
                == []
            )
            rows.append(
                (
                    key,
                    hashlib.md5(data).hexdigest(),
                    bool(sidecars_ok),
                    bool(pruned_ok),
                    bool(miss_zero_ok),
                    bool(exists_miss_ok),
                )
            )
        result = spark.createDataFrame(
            rows,
            "object_key string, payload_md5 string, sidecars_ok boolean, "
            "pruned_ok boolean, miss_zero_ok boolean, exists_miss_ok boolean",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result
