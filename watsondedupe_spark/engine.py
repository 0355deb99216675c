"""The dedupe engine — every reference operator as DataFrame compositions.

This is the Spark-native re-expression of the reference's public API
(/root/reference/src/DedupeLibrary/DedupeLibrary.cs). The unit of
parallelism is the *batch*: ``write_batch`` ingests a whole DataFrame of
objects in one pass (chunker UDF -> one shuffle on chunk_key -> table
commits), which is what a 1000-executor cluster wants; the single-object
``write``/``get``/``delete`` calls the reference exposes are thin
wrappers over the batch path.

Operator map (SURVEY.md §2.1):
  write/write_batch        O1/O2/O3/O4 (DedupeLibrary.cs:198-251, 605-717)
  write_or_replace         O5  (DedupeLibrary.cs:301-318)
  get / try_get            O6/O7 (DedupeLibrary.cs:377-404)
  get_metadata             O8  (DedupeLibrary.cs:329-334)
  get_stream               O9  (DedupeStream.cs:83-152)
  map_for_position         O10 (SqliteProvider.cs:363-393)
  exists                   O11 (SqliteProvider.cs:258-270)
  list_objects             O12 (SqliteProvider.cs:203-247)
  get_chunks               O13 (SqliteProvider.cs:333-355)
  get_object_map           O14 (SqliteProvider.cs:400-414)
  get_chunk_metadata       O15 (SqliteProvider.cs:312-326)
  refcount maintenance     O17/O18 (SqliteProvider.cs:463-484, 533-556)
  delete / delete_batch    O19 (DedupeLibrary.cs:495-522)
  stats                    O20/O21 (SqliteProvider.cs:155-190; IndexStatistics.cs:81-108)
  config                   O22 (SqliteProvider.cs:105-149)

Scale posture (100 TB): a mutation that fits one scan split commits on
the driver with pyarrow (``DedupeEngine._commit_mutation``); a larger
one commits through Spark, whose only shuffles in the write path are the
groupBy(chunk_key) refcount aggregation and groupBy(object_key) object
rollup — both keyed exactly on their join keys. Point verbs read the
manifest-pruned parts on the driver and run no Spark job; the batched
``get_batch`` broadcasts the (tiny) filtered object_map side into the
chunk_store join so the payload scan stays pushdown-pruned on
chunk_key. With Delta/Iceberg the
``IndexStore`` commits become MERGE INTO; no engine code changes.

Deviations from the reference, by design (SURVEY.md §7.3): no lossy key
sanitization (O23); failed writes cannot leak chunks (snapshot commits
are all-or-nothing, vs the reference's dead GC path at
DedupeLibrary.cs:212,237); ``Test.External``'s forgotten object-row
delete is not reproduced.
"""

from __future__ import annotations

import io
from bisect import bisect_right
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from watsondedupe_spark.chunking import ChunkSettings, chunk_objects
from watsondedupe_spark.keys import MAX_OBJECT_KEY_LEN, validate_object_key
from watsondedupe_spark.pool import fix_pool
from watsondedupe_spark.schemas import (
    CHECKPOINTS_SCHEMA,
    CHUNK_STORE_SCHEMA,
    CHUNKS_SCHEMA,
    CONFIG_SCHEMA,
    OBJECT_MAP_SCHEMA,
    OBJECTS_SCHEMA,
)
from watsondedupe_spark.store import IndexStore, open_store

MAX_LIST_RESULTS = 100  # EnumerationResult.cs:60

# list-form delete_batch returns GC'd chunk keys as a Python list only up
# to this many keys; above it the GC set comes back as a DataFrame (same
# contract as the distributed form), so a point-delete of a huge object
# can never be abused into a driver-side million-key materialization
GC_RETURN_CAP = 10_000

# the most keys a driver holds for one row drop (~6 MB of SHA-256
# keys): up to it the rewrite selects only the parts that may hold the
# keys and drops them with an IN-set filter; above it the rewrite
# selects every part and drops them with a distributed anti-join
GC_BROADCAST_KEYS = 100_000

# the four index tables (the ledger names one version of each), with
# the schema their snapshots pin
_INDEX_SCHEMAS = {
    "objects": OBJECTS_SCHEMA,
    "object_map": OBJECT_MAP_SCHEMA,
    "chunks": CHUNKS_SCHEMA,
    "chunk_store": CHUNK_STORE_SCHEMA,
}


def _prefix_successor(prefix: str) -> str | None:
    """Smallest string strictly greater than EVERY string that starts
    with ``prefix``: increment the last code point, carrying when it is
    already U+10FFFF; ``None`` (no upper bound) in the degenerate
    all-U+10FFFF case. Incrementing into the surrogate block jumps to
    U+E000 — surrogates cannot appear in any stored (UTF-8) key, so the
    jump excludes nothing real while keeping the bound encodable."""
    cps = [ord(c) for c in prefix]
    while cps:
        last = cps.pop()
        if last < 0x10FFFF:
            nxt = 0xE000 if last == 0xD7FF else last + 1
            return "".join(map(chr, cps)) + chr(nxt)
    return None


_TIMESTAMP = TimestampType()


def _arrow_rows(tbl: pa.Table) -> list[Row]:
    """``tbl`` as the rows ``collect()`` would return: same field names
    and order, same Python types. Timestamps convert through
    ``TimestampType.fromInternal`` (naive local time, as PySpark
    returns them) and binary comes back as ``bytearray``."""
    cols = []
    for c in tbl.columns:
        if pa.types.is_timestamp(c.type):
            micros = c.cast(pa.timestamp("us", c.type.tz)).cast(pa.int64()).to_pylist()
            cols.append([_TIMESTAMP.fromInternal(m) for m in micros])
        elif pa.types.is_binary(c.type):
            cols.append([None if v is None else bytearray(v) for v in c.to_pylist()])
        else:
            cols.append(c.to_pylist())
    names = tbl.column_names
    rows = []
    for vals in zip(*cols):
        row = Row(*vals)
        row.__fields__ = names  # how collect() names its rows
        rows.append(row)
    return rows


def assign_ingest_ids(rolled: DataFrame, prev_max: int) -> DataFrame:
    """Ingest-sequence ids (O16, DedupeLibrary.cs:233): ``prev_max`` +
    the 1-based rank of ``object_key`` within the batch.

    Uses the house two-phase distributed scan
    (:func:`watsondedupe_spark.operators.text.global_prefix_sum` over a
    column of ones) instead of a bare ``Window.orderBy`` — a global
    no-partition window funnels every object row of the batch through
    ONE task, which a bulk ``write_batch`` at scale (billions of object
    rollups) cannot afford. Here the order shuffle is a range
    repartition, the rank window is per-partition, and the only
    single-point stage is the per-partition totals list (#partitions
    rows). The result is deterministic: ids follow ``object_key`` order
    regardless of where the sampled range boundaries land.
    """
    from watsondedupe_spark.operators.text import global_prefix_sum

    seq = global_prefix_sum(
        rolled.withColumn("_one", F.lit(1)), "object_key", "_one", out_col="_seq",
        ones=True,
    )
    return seq.withColumn(
        "id", (F.lit(int(prev_max)) + F.col("_seq") + 1).cast("long")
    ).drop("_one", "_seq")


class DuplicateKeyError(ValueError):
    """Second write with an existing key (DedupeLibrary.cs:203)."""


class ObjectNotFoundError(KeyError):
    pass


def _pin(df: DataFrame, where=None) -> tuple[DataFrame, int]:
    """``(df eagerly local-checkpointed, its row count)`` — the count of
    rows satisfying the Column ``where`` when one is given. The count
    is an :class:`~pyspark.sql.Observation` of the checkpoint job
    itself, so learning whether a pinned set is empty costs no second
    job. Callers only compare it with zero: a re-run task can re-report
    its rows, but no finished task's rows go unreported."""
    obs = Observation()
    counted = F.lit(1) if where is None else F.when(where, 1)
    pinned = df.observe(obs, F.count(counted).alias("n")).localCheckpoint(eager=True)
    return pinned, int(obs.get["n"])


def _bounded_rows(df: DataFrame) -> list | None:
    """``df``'s rows collected, or None when it holds more than
    :data:`GC_BROADCAST_KEYS` of them (one job either way)."""
    rows = df.limit(GC_BROADCAST_KEYS + 1).collect()
    return None if len(rows) > GC_BROADCAST_KEYS else rows


def _without(df: DataFrame, col: str, keys: list | None, keys_df=None) -> DataFrame:
    """``df`` minus the rows whose ``col`` is one of ``keys``, a NULL key
    matching NULL rows. ``keys=None`` (above the driver cap) anti-joins
    the 1-column DataFrame ``keys_df`` instead, NULL-safe as well."""
    if keys is None:
        other = keys_df.select(F.col(keys_df.columns[0]).alias("_drop"))
        return df.join(other, df[col].eqNullSafe(other["_drop"]), "left_anti")
    if not keys:
        return df
    hit = F.col(col).isin([k for k in keys if k is not None])
    if None in keys:
        hit = hit | F.col(col).isNull()
    return df.filter(~F.coalesce(hit, F.lit(False)))


@dataclass
class _Batch:
    """A chunked batch ready to commit (:meth:`DedupeEngine._prepare_batch`):
    the chunker's rows, persisted, and either the same rows on the
    driver with the batch's object keys (a batch that fits one scan
    split) or its per-object rollup (the Spark commit path)."""

    chunk_rows: DataFrame
    created_utc: datetime
    n_objects: int
    total_bytes: int
    rows: pa.Table | None = None
    keys: list | None = None
    rolled: DataFrame | None = None


@dataclass(frozen=True)
class ObjectMetadata:
    """Hydrated object row (DedupeObject.cs + chunks + ordered map)."""

    id: int
    object_key: str
    original_length: int
    comp_length: int
    chunk_count: int
    created_utc: datetime
    object_map: list = field(default_factory=list)  # rows ordered by address
    chunks: list = field(default_factory=list)  # distinct chunk metadata rows


@dataclass(frozen=True)
class EnumerationResult:
    """One page of ``list_objects`` (EnumerationResult.cs)."""

    objects: list
    next_index_start: int | None


@dataclass(frozen=True)
class IndexStats:
    """O20/O21. Ratio semantics: IndexStatistics.cs:81-108."""

    object_count: int
    chunk_count: int
    logical_bytes: int
    physical_bytes: int

    @property
    def ratio_x(self) -> float:
        if not self.logical_bytes or not self.physical_bytes:
            return 0.0
        return self.logical_bytes / self.physical_bytes

    @property
    def ratio_percent(self) -> float:
        if not self.logical_bytes or not self.physical_bytes:
            return 0.0
        return 100.0 * (1.0 - self.physical_bytes / self.logical_bytes)


#: The urlsafe-base64 alphabet in LEXICOGRAPHIC (byte) order — the basis
#: of the rolling-scrub shard cells. Chunk keys are unpadded urlsafe-b64
#: SHA-256 (keys.py), so their characters are uniform over this alphabet
#: and string comparison orders them byte-wise.
_B64_LEX = "-0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ_abcdefghijklmnopqrstuvwxyz"

#: Shard granularity: 2-character key prefixes (64^2 cells). A shard is
#: a contiguous run of cells, so its predicate is a key RANGE — which
#: parquet row-group min/max statistics can prune, unlike a hash-cell
#: predicate (pmod(hash(k), n) is opaque to every scan statistic, so a
#: hash shard would still READ all payload bytes and only skip the
#: sha256 compute; at 100 TB the IO is the cost that matters).
SHARD_CELLS = 64 * 64


def shard_range(i: int, n: int) -> "tuple[str | None, str | None]":
    """``[lo, hi)`` chunk-key bounds of rolling-scrub shard ``i`` of
    ``n``: cells ``[i*C//n, (i+1)*C//n)`` of the :data:`SHARD_CELLS`
    2-char prefix grid. The n ranges partition the key space exactly
    (disjoint, union = everything), and SHA-256 keys distribute
    uniformly over cells, so each shard holds ~1/n of the chunks.
    ``None`` means unbounded on that side."""
    if not (isinstance(i, int) and isinstance(n, int) and n >= 1):
        raise ValueError(f"shard count must be a positive int, got {n!r}")
    if n > SHARD_CELLS:
        raise ValueError(
            f"{n} shards exceeds SHARD_CELLS={SHARD_CELLS} (the 2-char "
            f"key-prefix grid); use n <= {SHARD_CELLS}"
        )
    if not 0 <= i < n:
        raise ValueError(f"shard {i!r} out of range for {n!r} shards")

    def bound(cell: int) -> "str | None":
        if cell <= 0 or cell >= SHARD_CELLS:
            return None
        return _B64_LEX[cell // 64] + _B64_LEX[cell % 64]

    return bound(i * SHARD_CELLS // n), bound((i + 1) * SHARD_CELLS // n)


def shard_predicate(i: int, n: int, col: str = "chunk_key"):
    """Column predicate selecting shard ``i`` of ``n`` — a pure key
    range, pushed down to the parquet scan (``PushedFilters``) so a
    range-clustered layout (:meth:`DedupeEngine.optimize`) reads ~1/n
    of the payload bytes instead of post-filtering a full scan."""
    lo, hi = shard_range(i, n)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) < F.lit(hi))
    return pred


class DedupeEngine:
    """A dedupe index over five parquet/Delta tables.

    Use :meth:`create` for a new index or :meth:`open` for an existing
    one — chunking settings are immutable per index because different
    settings produce different boundaries (DedupeLibrary.cs:583-603).
    """

    def __init__(self, spark: SparkSession, store: IndexStore, settings: ChunkSettings):
        self.spark = spark
        self.store = store
        self.settings = settings

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        settings: ChunkSettings | None = None,
        store_cls: type[IndexStore] = IndexStore,
    ) -> "DedupeEngine":
        """``store_cls`` selects the persistence backend (the reference's
        DbProvider pluggability, DbProvider.cs:10): the file-manifest
        :class:`IndexStore` by default, or any class honouring the same
        read/snapshot/commit/append contract (e.g.
        :class:`~watsondedupe_spark.store.SqliteIndexStore`).
        :meth:`open` autodetects which backend wrote an index.

        Contract note for custom backends: ``op_lock`` must provide
        cross-process exclusion AND same-thread reentrancy — a caller
        may hold ``store.op_lock()`` around several engine verbs, each of
        which locks itself. A non-reentrant implementation deadlocks
        silently; subclassing :class:`IndexStore` inherits the correct
        behavior."""
        settings = settings or ChunkSettings()
        store = store_cls(spark, root)
        if store.exists("config"):
            raise ValueError(f"index already exists at {root}; use open()")
        cfg = spark.createDataFrame(list(settings.to_config().items()), CONFIG_SCHEMA)
        store._flip([store.rewrite_entry("config", None, None, lambda _: cfg)])
        return cls(spark, store, settings)

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "DedupeEngine":
        store = open_store(spark, root)
        if not store.exists("config"):
            raise FileNotFoundError(f"no index at {root}")
        cfg = {r["key"]: r["value"] for r in store.read("config").collect()}
        return cls(spark, store, ChunkSettings.from_config(cfg))

    # -- table accessors (always-current snapshots) ---------------------------

    @property
    def objects(self) -> DataFrame:
        return self.store.read("objects", OBJECTS_SCHEMA)

    @property
    def chunks(self) -> DataFrame:
        return self.store.read("chunks", CHUNKS_SCHEMA)

    @property
    def object_map(self) -> DataFrame:
        return self.store.read("object_map", OBJECT_MAP_SCHEMA)

    @property
    def chunk_store(self) -> DataFrame:
        return self.store.read("chunk_store", CHUNK_STORE_SCHEMA)

    # -- ingest (O1-O5) --------------------------------------------------------

    def write(self, key: str, data: bytes, created_utc: datetime | None = None) -> None:
        """Single-object convenience over :meth:`write_batch` (O1)."""
        validate_object_key(key)
        if not data:
            raise ValueError("content must be at least one byte (DedupeLibrary.cs:155)")
        df = self.spark.createDataFrame([(key, bytearray(data))], "object_key string, data binary")
        self.write_batch(df, created_utc=created_utc)

    def write_or_replace(self, key: str, data: bytes, created_utc: datetime | None = None) -> None:
        """O5: delete-if-exists then write (DedupeLibrary.cs:301-318);
        single-object convenience over :meth:`write_or_replace_batch`
        (one critical section, one commit per table)."""
        validate_object_key(key)
        if not data:
            raise ValueError("content must be at least one byte (DedupeLibrary.cs:155)")
        df = self.spark.createDataFrame(
            [(key, bytearray(data))], "object_key string, data binary"
        )
        self.write_or_replace_batch(df, created_utc=created_utc)

    def write_or_replace_batch(
        self, objects_df: DataFrame, created_utc: datetime | None = None
    ) -> int:
        """Batched O5: replace the batch keys that already exist and
        ingest the rest — the set form of :meth:`write_or_replace`. The
        reference deletes and re-writes under one mutex
        (DedupeLibrary.cs:301-318); here the replace is ONE pass of
        :meth:`_commit_mutation` with the existing keys as its doomed
        set, so every table is read and staged once and all of them
        publish in one catalog flip: ``objects`` and ``object_map``
        become survivors ∪ new rows, ``chunks`` takes one merge of
        increments − decrements (a chunk the old and new versions share
        keeps its refcount and its payload instead of being GC'd and
        re-inserted), and ``chunk_store`` drops the dead payloads and
        adds the absent new ones.

        Every key is validated like :meth:`write` validates its key
        before anything is staged (:meth:`_prepare_batch`). The batch's
        keys, up to :data:`GC_BROADCAST_KEYS` of them, are narrowed to
        the existing ones (:meth:`_present`, no Spark job); they select
        the parts the replace rewrites. A larger batch stays
        DISTRIBUTED end to end: its keys go to the commit as a
        DataFrame and every table is rewritten through an anti-join — a
        100x-scale re-ingest would otherwise materialize millions of
        keys on the driver.

        The expensive chunker pass runs OUTSIDE the composite-op lock
        (shared :meth:`_prepare_batch`); only the existence probe and
        the commit sit inside it — so a batch replace is atomic against
        concurrent writers without serializing them behind its chunking
        work. A crash mid-replace leaves every replaced key reading its
        old bytes or (once the flip landed) its new ones.
        """
        batch = self._prepare_batch(objects_df, created_utc)
        try:
            with self.store.op_lock():
                keys = batch.keys
                if keys is None and batch.n_objects <= GC_BROADCAST_KEYS:
                    keys = [r[0] for r in batch.rolled.select("object_key").collect()]
                doomed = (
                    batch.rolled.select("object_key") if keys is None else self._present(keys) or None
                )
                self._commit_mutation(doomed, batch)
        finally:
            batch.chunk_rows.unpersist()
        return batch.n_objects

    def _present(self, keys: list) -> list:
        """The ``keys`` that have an ``objects`` row, read on the driver
        from only the parts that may hold them (no Spark job)."""
        return self.store.read_arrow(
            "objects",
            ["object_key"],
            pc.field("object_key").isin(keys),
            col="object_key",
            values=keys,
        ).column("object_key").to_pylist()

    def _prepare_batch(self, objects_df: DataFrame, created_utc: datetime | None) -> _Batch:
        """The lock-free front half of every batch ingest: chunk,
        validate every key (:func:`validate_object_key`), reject
        intra-batch duplicate keys. The caller must ``unpersist`` the
        returned batch's ``chunk_rows``.

        One Spark job runs the chunker (the expensive stage) into a
        persisted cache and observes the batch's object count (its
        position-0 rows) and payload bytes. A batch that fits one scan
        split — at most :data:`GC_BROADCAST_KEYS` objects and
        :attr:`OPTIMIZE_TARGET_FILE_BYTES` payload bytes — comes to the
        driver with one ``toArrow()`` and is checked there, with no
        further job: a key appearing twice has two position-0 rows. A
        larger batch stays in Spark: its per-object rollup is
        checkpointed (:meth:`_rollup`), and the checks ride on that job.
        A rejected batch costs one chunker pass, the price of
        single-scan ingest on the happy path.
        """
        chunk_rows = chunk_objects(objects_df, self.settings)
        chunk_rows.persist()
        ok = False
        try:
            obs = Observation()
            (
                chunk_rows.observe(
                    obs,
                    F.count(F.when(F.col("position") == 0, 1)).alias("n"),
                    F.coalesce(F.sum("length"), F.lit(0)).alias("b"),
                )
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            batch = _Batch(
                chunk_rows,
                created_utc or datetime.now(timezone.utc),
                int(obs.get["n"]),
                int(obs.get["b"]),
            )
            if (
                batch.n_objects <= GC_BROADCAST_KEYS
                and batch.total_bytes <= self.OPTIMIZE_TARGET_FILE_BYTES
            ):
                batch.rows = chunk_rows.toArrow()
                firsts = batch.rows.filter(pc.equal(batch.rows["position"], 0))
                keys = firsts.column("object_key").to_pylist()
                for key in keys:
                    validate_object_key(key)
                dups = [k for k, n in Counter(keys).items() if n > 1]
                if dups:
                    raise DuplicateKeyError(f"duplicate keys within batch: {dups[:5]}")
                batch.keys = keys
            else:
                batch.rolled = self._rollup(chunk_rows)
            ok = True
            return batch
        finally:
            if not ok:
                chunk_rows.unpersist()

    def _rollup(self, chunk_rows: DataFrame) -> DataFrame:
        """The per-object rollup the Spark commit path builds its
        ``objects`` rows from, eagerly checkpointed. The same job
        observes the largest key multiplicity and the count of invalid
        keys (NULL, empty or over-long), so the duplicate-key and
        key-validity checks cost no extra job on a clean batch; a
        rejected one pays one more to name a key."""
        key = F.col("object_key")
        bad = key.isNull() | (F.length(key) == 0) | (F.length(key) > MAX_OBJECT_KEY_LEN)
        obs = Observation()
        rolled = (
            chunk_rows.groupBy("object_key")
            .agg(
                F.sum(F.when(F.col("position") == 0, 1).otherwise(0)).alias("_mult"),
                F.sum("length").cast("long").alias("original_length"),
                F.count("*").cast("long").alias("chunk_count"),
            )
            .observe(obs, F.max("_mult").alias("mult"), F.count(F.when(bad, 1)).alias("bad"))
            .localCheckpoint(eager=True)
        )
        if obs.get["bad"]:
            validate_object_key(rolled.filter(bad).first().object_key)
        if (obs.get["mult"] or 0) > 1:
            dup_in_batch = rolled.filter(F.col("_mult") > 1).limit(5).collect()
            raise DuplicateKeyError(
                f"duplicate keys within batch: {[r.object_key for r in dup_in_batch]}"
            )
        return rolled

    def write_batch(self, objects_df: DataFrame, created_utc: datetime | None = None) -> int:
        """Ingest a DataFrame of ``(object_key string, data binary)``.

        One pass (reference lifecycle §3.1, made atomic): chunk ->
        [object_map append] -> refcount merge per chunk_key -> chunk_store
        insert-if-absent -> objects append with ingest-sequence ids.
        Every key is validated like :meth:`write` validates its key, and
        duplicate keys (in the index OR within the batch) reject the
        whole batch (DedupeLibrary.cs:203), before anything is staged.
        Returns the number of objects written.

        The commit phase holds the per-index composite-op lock: the
        catalog flip makes the four table commits atomic, but not the
        duplicate-key check together with them, so two racing
        write_batch calls with the same key could both pass the check
        (TOCTOU) and double-ingest. Under the lock the existence check
        re-runs against the now-stable objects table — on the driver
        (:meth:`_present`, no Spark job) for a batch that fits one scan
        split, a semi-join otherwise — and the commit follows: the
        batched analogue of the reference's writer mutex. The expensive
        chunker pass (:meth:`_prepare_batch`) stays outside the lock.
        """
        batch = self._prepare_batch(objects_df, created_utc)
        try:
            with self.store.op_lock():
                if batch.keys is not None:
                    existing = self._present(batch.keys)
                elif self.store.exists("objects"):
                    existing = [
                        r.object_key
                        for r in batch.rolled.select("object_key")
                        .join(self.objects, "object_key", "left_semi")
                        .limit(5)
                        .collect()
                    ]
                else:
                    existing = []
                if existing:
                    raise DuplicateKeyError(f"keys already exist: {existing[:5]}")
                self._commit_mutation(batch=batch)
        finally:
            batch.chunk_rows.unpersist()
        return batch.n_objects

    def _commit_mutation(
        self, doomed: "list[str] | DataFrame | None" = None, batch: _Batch | None = None
    ) -> tuple:
        """The one commit behind every mutation: the ``doomed`` keys leave
        the index and ``batch`` (:meth:`_prepare_batch`) enters it. A
        delete passes only ``doomed``, an ingest only ``batch``, a
        replace both. ``doomed`` is a Python list of at most
        :data:`GC_BROADCAST_KEYS` keys, or a 1-column ``object_key``
        DataFrame above that cap. Returns ``(GC'd chunk keys as a
        DataFrame, or None when only the list was built, the same keys
        as a list — None above the cap)``; an ingest returns
        ``(None, [])``. Caller holds the composite-op lock.

        One attempt, retried by ``IndexStore._retry`` when a flip loses
        its CAS, reads the four tables' versions, stages every table's
        new part through ONE :meth:`IndexStore.rewrite_entry` call each,
        and makes ONE catalog flip of the staged parts plus the ledger
        row:

        * ``objects`` and ``object_map`` drop the doomed keys and take
          the new rows;
        * ``chunks`` takes ONE refcount merge of increments −
          decrements and keeps its rows with a reference left;
        * ``chunk_store`` drops the dead keys' payloads and takes the
          absent new ones.

        Every table is CAS-checked against the version the attempt read
        in that flip, so a concurrent writer that bypassed the op lock —
        one that revived a dying chunk, say — refuses the whole flip and
        the attempt re-derives from fresh reads. A crash anywhere before
        the flip leaves only invisible staged parts; after it, the op is
        complete. No reader and no :meth:`recover` ever sees a
        half-applied mutation.

        The rows are computed in one of two places, chosen from sizes
        the commit observes, never from an option. A mutation that fits
        one scan split — its keys within the driver cap, and its payload
        bytes plus the on-disk bytes of the parts its four rewrites
        select at most :attr:`OPTIMIZE_TARGET_FILE_BYTES` — commits on
        the driver (:meth:`_commit_on_driver`): pyarrow reads and writes
        the parts, with no Spark job. Any other mutation commits through
        Spark (:meth:`_commit_on_spark`), the path that can commit a
        batch no driver can hold.
        """
        if not isinstance(doomed, DataFrame) and (batch is None or batch.rows is not None):
            done = self._commit_on_driver(doomed or [], batch)
            if done is not None:
                return done
        if batch is not None and batch.rolled is None:
            batch.rolled = self._rollup(batch.chunk_rows)
        return self._commit_on_spark(doomed, batch)

    def _commit_on_driver(self, doomed: list, batch: _Batch | None) -> tuple | None:
        """:meth:`_commit_mutation` on the driver, or None (nothing
        staged) when the mutation does not fit one scan split.

        Everything is computed on Arrow tables: the batch rows came with
        the chunk rows' one ``toArrow()``; the doomed ``object_map`` rows
        (the decrements) come from a key probe of only the parts that
        may hold them (:meth:`IndexStore.read_arrow`); the increments,
        ingest ids (the previous ``max_id`` plus the key's rank in key
        order, as :func:`assign_ingest_ids` assigns them) and the
        payloads absent from ``chunk_store`` (a probe of its key column
        only, so an ingest heals a payload lost outside the engine) are
        computed on the driver. Each table's rewrite reads its selected
        parts as one ``pyarrow.Table`` and pyarrow writes its part
        (``rewrite_entry(..., arrow=True)``): ``objects`` and
        ``object_map`` select the parts that may hold a doomed key,
        ``chunks`` those that may hold a batch or decremented chunk key
        (the merge is part-local: new keys land in the rewritten part),
        and ``chunk_store`` those that may hold a dead chunk key.
        ``chunk_store`` is staged after ``chunks``, whose merge names
        the dead keys; the other two tables stage beside them on pool
        threads."""
        store = self.store
        doomed_keys = pa.array(doomed, pa.string())
        inc = pa.table(
            {
                "chunk_key": pa.array([], pa.string()),
                "inc": pa.array([], pa.int64()),
                "new_length": pa.array([], pa.int32()),
            }
        )
        if batch is not None:
            rows = batch.rows
            per_chunk = rows.group_by("chunk_key").aggregate(
                [([], "count_all"), ("length", "max")]
            )
            inc = pa.table(
                {
                    "chunk_key": per_chunk.column("chunk_key"),
                    "inc": per_chunk.column("count_all"),
                    "new_length": per_chunk.column("length_max"),
                }
            )
            batch_chunk_keys = inc.column("chunk_key").to_pylist()
            # one payload per chunk key: the row of its first occurrence
            first = (
                rows.select(["chunk_key"])
                .append_column("_i", pa.array(range(rows.num_rows), pa.int64()))
                .group_by("chunk_key")
                .aggregate([("_i", "min")])
                .column("_i_min")
            )
            payloads = pa.table(
                {
                    "chunk_key": rows.column("chunk_key").take(first),
                    "data": rows.column("chunk_data").take(first),
                }
            )
            per_object = (
                rows.group_by("object_key")
                .aggregate([("length", "sum"), ([], "count_all")])
                .sort_by("object_key")
            )
            new_map = rows.select(["object_key", "chunk_key", "length", "position", "address"])
        op = "ingest" if not doomed else "delete" if batch is None else "replace"

        def without(tbl: pa.Table, col: str, keys) -> pa.Table:
            if not len(keys):
                return tbl
            return tbl.filter(pc.invert(pc.is_in(tbl.column(col), value_set=keys)))

        def union(tbl: pa.Table, new: pa.Table) -> pa.Table:
            return pa.concat_tables([tbl, new.select(tbl.column_names).cast(tbl.schema)])

        def attempt():
            # versions first, rows after: a row read here is at least as
            # new as the version the flip CAS-checks
            states = {t: store._state(t) for t in _INDEX_SCHEMAS}
            gone = store.read_arrow(
                "object_map",
                ["chunk_key"],
                pc.field("object_key").isin(doomed_keys),
                col="object_key",
                values=doomed,
            )
            dec = gone.group_by("chunk_key").aggregate([([], "count_all")])
            dec = pa.table({"chunk_key": dec.column("chunk_key"), "dec": dec.column("count_all")})
            dec_keys = dec.column("chunk_key").to_pylist()
            touched = pc.unique(
                pa.chunked_array(inc.column("chunk_key").chunks + dec.column("chunk_key").chunks, pa.string())
            ).to_pylist()
            # the budget, before anything is staged: a lost race stages
            # nothing either, so a retry may still hand over to Spark
            selected = [
                part
                for t, col, keys in (
                    ("objects", "object_key", doomed),
                    ("object_map", "object_key", doomed),
                    ("chunks", "chunk_key", touched),
                    # the dead keys are among the decremented ones
                    ("chunk_store", "chunk_key", dec_keys),
                )
                for part in store._selection(t, states[t], col, keys)
            ]
            payload = batch.total_bytes if batch is not None else 0
            if payload + store.parts_bytes(selected) > self.OPTIMIZE_TARGET_FILE_BYTES:
                return None
            versions = {t: s["version"] for t, s in states.items()}
            dead: list = []

            def stage_objects():
                fn, meta_fn = (lambda tbl: without(tbl, "object_key", doomed_keys)), None
                if batch is not None:
                    meta = states["objects"].get("meta", {})
                    prev_max = meta.get("max_id")
                    if prev_max is None:
                        # a pre-meta LEGACY index: the high-water mark is max(id)
                        ids = store.read_arrow("objects", ["id"]).column("id")
                        prev_max = pc.max(ids).as_py() or 0
                    n = per_object.num_rows
                    stamp = _TIMESTAMP.toInternal(batch.created_utc)
                    lengths = per_object.column("length_sum")
                    new_objects = pa.table(
                        {
                            "id": pa.array(range(prev_max + 1, prev_max + 1 + n), pa.int64()),
                            "object_key": per_object.column("object_key"),
                            "original_length": lengths,
                            "comp_length": lengths,
                            "chunk_count": per_object.column("count_all"),
                            "created_utc": pa.array([stamp] * n, pa.timestamp("us")),
                        }
                    )
                    high = {"max_id": int(prev_max) + n}
                    fn = lambda tbl: union(without(tbl, "object_key", doomed_keys), new_objects)  # noqa: E731
                    meta_fn = lambda meta, *_: {**meta, **high}  # noqa: E731
                return store.rewrite_entry(
                    "objects", "object_key", doomed, fn, versions["objects"], meta_fn, arrow=True
                )

            def stage_map():
                def fn(tbl):
                    kept = without(tbl, "object_key", doomed_keys)
                    return kept if batch is None else union(kept, new_map)

                return store.rewrite_entry(
                    "object_map", "object_key", doomed, fn, versions["object_map"], arrow=True
                )

            def merge(tbl: pa.Table) -> pa.Table:
                # the refcount merge (O17/O18) over only the selected
                # parts: every row of a touched key is in them. A
                # decremented key without a chunks row is ignored, as
                # the Spark path's left join ignores it
                delta = inc.join(dec, "chunk_key", join_type="full outer")
                both = tbl.join(delta, "chunk_key", join_type="full outer")
                both = both.filter(
                    pc.invert(pc.and_(pc.is_null(both["ref_count"]), pc.is_null(both["inc"])))
                )
                zero = pa.scalar(0, pa.int64())
                ref = pc.subtract(
                    pc.add(pc.coalesce(both["ref_count"], zero), pc.coalesce(both["inc"], zero)),
                    pc.coalesce(both["dec"], zero),
                )
                length = pc.coalesce(both["length"], both["new_length"])
                live = pc.greater_equal(ref, 1)
                dead.extend(both["chunk_key"].filter(pc.invert(live)).to_pylist())
                merged = pa.table({"chunk_key": both["chunk_key"], "length": length, "ref_count": ref})
                return merged.filter(live)

            def stage_chunks_then_payloads():
                # content-addressed storage is the physical dedup (same
                # key => stored once, DedupeLibrary.cs:628): new payloads
                # are inserted if absent, dead ones GC'd
                chunks = store.rewrite_entry(
                    "chunks", "chunk_key", touched, merge, versions["chunks"], arrow=True
                )
                absent = None
                if batch is not None:
                    have = store.read_arrow(
                        "chunk_store", ["chunk_key"], col="chunk_key", values=batch_chunk_keys
                    ).column("chunk_key")
                    absent = payloads.filter(
                        pc.invert(pc.is_in(payloads["chunk_key"], value_set=have.combine_chunks()))
                    )
                if not dead and (absent is None or not absent.num_rows):
                    return chunks, None

                def gc(tbl):
                    kept = without(tbl, "chunk_key", pa.array(dead, pa.string()))
                    return kept if absent is None else union(kept, absent)

                return chunks, store.rewrite_entry(
                    "chunk_store", "chunk_key", dead, gc, versions["chunk_store"], arrow=True
                )

            # every thread is joined before any error is raised; a second
            # failed stage rides along as a note on the first
            with fix_pool(3) as (submit, fixes):
                submit(stage_objects)
                submit(stage_map)
                submit(stage_chunks_then_payloads)
            objects, omap, (chunks, payload_part) = (f.result() for f in fixes)
            self._publish([objects, omap, chunks, payload_part], op)
            return None, dead

        return store._retry(attempt)

    def _commit_on_spark(
        self, doomed: "list[str] | DataFrame | None", batch: _Batch | None
    ) -> tuple:
        """:meth:`_commit_mutation` through Spark jobs, for a mutation
        that does not fit one scan split. Each rewrite's keys are ``[]``
        for an ingest (no part is read: the rewrite is an append), the
        doomed list for a delete or replace (only the parts that may
        hold them), and ``None`` above the cap (every part, with an
        anti-join). The ``chunks`` merge is a rewrite of every part.
        When keys are doomed the merge is pinned once, with its dead
        count, and its dead keys are collected before the ``chunks`` and
        ``chunk_store`` stages are submitted; the GC'd keys come back as
        a DataFrame over that pinned merge.

        An ingest's output files are sized by the batch's total bytes
        (~64 MB targets): a small batch writes a handful of files instead
        of one tiny file per partition — task-launch overhead dominates
        small appends — while a large batch keeps full write parallelism
        (the coalesce target caps at the cache's partition count).
        """
        holder: dict = {}
        keys = [] if doomed is None else doomed if isinstance(doomed, list) else None

        def survivors_of(df):
            return _without(df, "object_key", keys, doomed)

        def _sized(df: DataFrame) -> DataFrame:
            return df.coalesce(target) if target < nparts else df

        nparts = target = 0  # a delete's table rewrites keep their layout
        if batch is not None:
            chunk_rows, rolled = batch.chunk_rows, batch.rolled
            nparts = chunk_rows.rdd.getNumPartitions()
            target = (
                max(1, min(nparts, -(-batch.total_bytes // (64 << 20))))
                if batch.total_bytes
                else nparts
            )
            # object_map rows are exactly the chunker output minus payload
            new_map = _sized(
                chunk_rows.select("object_key", "chunk_key", "length", "position", "address")
            )
            # refcount increments aggregate per chunk_key FIRST so the
            # merge is one row per key — the batched form of the
            # reference's mutex-serialized upsert (SqliteProvider.cs:463-484)
            increments = chunk_rows.groupBy("chunk_key").agg(
                F.count("*").alias("inc"), F.first("length").alias("new_length")
            )
            new_payloads = chunk_rows.dropDuplicates(["chunk_key"])
        op = "ingest" if doomed is None else "delete" if batch is None else "replace"

        def attempt():
            snaps = {t: self.store.snapshot(t, s) for t, s in _INDEX_SCHEMAS.items()}
            v_obj, objs, obj_meta = snaps["objects"]
            v_map, omap, _ = snaps["object_map"]
            v_ch, chunks, _ = snaps["chunks"]
            v_cs, cs, _ = snaps["chunk_store"]

            def merged() -> DataFrame:
                # the refcount merge (O17/O18): derived from the chunks
                # snapshot, so the flip's CAS on chunks makes it a
                # serializable read-modify-write
                out = chunks
                if batch is not None and v_ch == 0:
                    # first-load fast path: nothing to merge with, the
                    # increments ARE the table — skips the outer join's
                    # second shuffle side entirely
                    out = increments.select(
                        "chunk_key",
                        F.col("new_length").cast("int").alias("length"),
                        F.col("inc").cast("long").alias("ref_count"),
                    )
                elif batch is not None:
                    out = out.join(increments, "chunk_key", "full_outer").select(
                        "chunk_key",
                        F.coalesce("length", "new_length").cast("int").alias("length"),
                        (F.coalesce(F.col("ref_count"), F.lit(0)) + F.coalesce(F.col("inc"), F.lit(0)))
                        .cast("long")
                        .alias("ref_count"),
                    )
                if doomed is not None:
                    # the doomed map rows: read from the parts that may
                    # hold the keys, or a semi-join above the cap
                    gone = (
                        omap.join(doomed, "object_key", "left_semi")
                        if keys is None
                        else self.store.read_point(
                            "object_map", "object_key", keys, OBJECT_MAP_SCHEMA
                        ).filter(F.col("object_key").isin(keys))
                    )
                    dec = gone.groupBy("chunk_key").agg(F.count("*").alias("dec"))
                    out = out.join(dec, "chunk_key", "left").select(
                        "chunk_key",
                        "length",
                        (F.col("ref_count") - F.coalesce(F.col("dec"), F.lit(0))).alias("ref_count"),
                    )
                return out

            def stage_objects():
                fn, meta_fn = survivors_of, None
                if batch is not None:
                    # the ingest-sequence high-water mark rides in the
                    # manifest (Delta table-properties style), so
                    # steady-state batches skip the max(id) scan job; the
                    # CAS on objects keeps two batches from assigning
                    # COLLIDING id ranges. Merged into the meta, not
                    # replacing it: a replace would wipe clustered_parts
                    # and turn the next incremental optimize() into a full
                    # refold (r12)
                    prev_max = obj_meta.get("max_id")
                    if prev_max is None:
                        # v == 0 <=> the table has never been written: the
                        # max(id) fallback exists for pre-meta LEGACY indexes
                        prev_max = 0 if v_obj == 0 else objs.agg(F.max("id")).collect()[0][0] or 0
                    # the shared per-object rollup (already checkpointed —
                    # no second shuffle over the chunk cache) +
                    # ingest-sequence ids, assigned distributed (two-phase
                    # prefix scan — no single-task global window).
                    # comp_length preserves the reference quirk: sum of
                    # chunk lengths (DedupeLibrary.cs:233)
                    new_objects = (
                        assign_ingest_ids(
                            rolled.select(
                                "object_key",
                                "original_length",
                                F.col("original_length").alias("comp_length"),
                                "chunk_count",
                            ),
                            prev_max,
                        )
                        .withColumn("created_utc", F.lit(batch.created_utc))
                        .select("id", "object_key", "original_length", "comp_length", "chunk_count", "created_utc")
                    )
                    high = {"max_id": int(prev_max) + batch.n_objects}
                    fn = lambda rows: survivors_of(rows).unionByName(new_objects)  # noqa: E731
                    meta_fn = lambda meta, *_: {**meta, **high}  # noqa: E731
                return self.store.rewrite_entry("objects", "object_key", keys, fn, v_obj, meta_fn)

            def stage_map():
                fn = survivors_of
                if batch is not None:
                    fn = lambda rows: survivors_of(rows).unionByName(new_map)  # noqa: E731
                return self.store.rewrite_entry("object_map", "object_key", keys, fn, v_map)

            def stage_chunks():
                rows = merged() if doomed is None else merge.filter(F.col("ref_count") >= 1)
                return self.store.rewrite_entry(
                    "chunks", "chunk_key", None, lambda _: _sized(rows), v_ch
                )

            def stage_payloads():
                # content-addressed storage is the physical dedup (same key
                # => stored once, DedupeLibrary.cs:628): new payloads are
                # inserted if absent, dead ones GC'd, both derived from the
                # chunk_store snapshot the flip CAS-checks
                rows = None
                if batch is not None:
                    absent = new_payloads
                    if v_cs > 0:  # first load: nothing absent
                        absent = absent.join(cs.select("chunk_key"), "chunk_key", "left_anti")
                    rows = _sized(absent.select("chunk_key", F.col("chunk_data").alias("data")))
                if rows is None and not n_dead:
                    return None
                dead = holder.get("dead", [])

                def gc(df):
                    kept = _without(df, "chunk_key", dead, holder.get("gc"))
                    return kept if rows is None else kept.unionByName(rows)

                return self.store.rewrite_entry("chunk_store", "chunk_key", dead, gc, v_cs)

            # every thread is joined before any error is raised; a second
            # failed stage rides along as a note on the first
            with fix_pool(4) as (submit, fixes):
                submit(stage_objects)
                submit(stage_map)
                merge = n_dead = None
                if doomed is not None:
                    # the merge runs ONCE, pinned with its dead count: the
                    # chunks rewrite keeps its live rows, the payload GC
                    # and the caller's return value its dead keys. A RETRY
                    # drops the previous attempt's pin first so contended
                    # mutations don't hold abandoned copies of it
                    prev = holder.pop("merge", None)
                    if prev is not None:
                        try:
                            prev.unpersist()
                        except Exception:
                            pass  # best-effort; ContextCleaner reclaims eventually
                    merge, n_dead = _pin(merged(), F.col("ref_count") < 1)
                    holder["merge"] = merge
                    holder["gc"] = merge.filter(F.col("ref_count") < 1).select("chunk_key")
                    rows = _bounded_rows(holder["gc"]) if n_dead else []
                    holder["dead"] = None if rows is None else [r[0] for r in rows]
                submit(stage_chunks)
                submit(stage_payloads)
            self._publish([f.result() for f in fixes], op)

        self.store._retry(attempt)
        return holder.get("gc"), holder.get("dead", [])

    # a restore can only reach points whose parquet parts are still in
    # the per-table retention window (~8 versions), so the ledger keeps
    # a comfortable multiple of that and forgets older rows — bounding
    # the manifest-meta size at O(1) forever
    CHECKPOINT_RETAIN = 64

    #: target parquet file size for :meth:`optimize`'s range-clustered
    #: rewrite — matches spark.sql.files.maxPartitionBytes so one scan
    #: task reads one file. Point reads do not pay for the file size:
    #: every file is cut into key-sorted row groups of
    #: ``IndexStore.ROW_GROUP_BYTES``, and a probe decodes only the
    #: groups that can hold its keys
    OPTIMIZE_TARGET_FILE_BYTES = 128 << 20

    def _checkpoint_entry(self, op: str) -> tuple:
        """The flip entry that appends one consistency-point row to the
        ``checkpoints`` ledger: the four table versions this flip
        publishes. Every composite op puts it LAST in its one catalog
        flip, so the row names the op's own after-state — a true
        cross-table cut, and a crash mid-op leaves no row. :meth:`clone`
        with ``at=`` and :meth:`restore` return to these points, subject
        to the store's part-retention window.

        The ledger lives in the checkpoints table's manifest META, not
        in parquet rows: zero Spark jobs — a 1-row parquet append here
        would land a full Spark job on EVERY ingest's fixed-cost floor
        (measured +1.3 s on the 6 MB small-batch bench row, whose cost
        is the fixed floor by design)."""
        stamp = datetime.now(timezone.utc).isoformat()

        def bump(meta: dict, catalog: dict) -> dict:
            seq = int(meta.get("next_seq", 1))
            rows = list(meta.get("rows") or [])
            rows.append(
                {
                    "seq": seq,
                    "op": op,
                    **{f"{t}_v": catalog.get(t, 0) for t in _INDEX_SCHEMAS},
                    "created_utc": stamp,
                }
            )
            return {
                "next_seq": seq + 1,
                "rows": rows[-self.CHECKPOINT_RETAIN:],
            }

        return self.store.meta_entry("checkpoints", bump)

    def _publish(self, entries: list, op: str) -> dict[str, dict]:
        """The one catalog flip of a composite op: its staged
        ``entries`` plus its ledger row (:meth:`_checkpoint_entry`);
        returns the published states. When nothing was staged — a clean
        maintenance pass, an optimize with nothing to fold — there is no
        flip and no row: the previous row still names this exact
        state. Keyed on staged entries, not row deltas: the
        stale-refcount fix rewrites chunks with ``deltas['chunks'] ==
        0``, and a restore/clone to "latest" must not roll that repair
        back by landing on the pre-repair ledger row."""
        if not any(entries):
            return {}
        return self.store._flip(entries + [self._checkpoint_entry(op)])

    def _point(self, at: int) -> dict:
        """The ledger row with sequence number ``at``; ValueError when
        there is none."""
        for r in self.store.table_meta("checkpoints").get("rows", []):
            if int(r["seq"]) == at:
                return r
        raise ValueError(f"no consistency point with seq={at}")

    @property
    def checkpoints(self) -> DataFrame:
        """The consistency-point ledger (empty if no composite op has
        completed since the index was created on an older layout).
        Built driver-side from the bounded manifest meta — at most
        :attr:`CHECKPOINT_RETAIN` rows, no table scan."""
        rows = [
            (
                int(r["seq"]),
                r["op"],
                int(r["objects_v"]),
                int(r["object_map_v"]),
                int(r["chunks_v"]),
                int(r["chunk_store_v"]),
                datetime.fromisoformat(r["created_utc"]),
            )
            for r in self.store.table_meta("checkpoints").get("rows", [])
        ]
        return self.spark.createDataFrame(rows, CHECKPOINTS_SCHEMA)

    # -- point reads (O6-O11, O13-O15) ----------------------------------------
    #
    # Every point read first picks parts on the driver with the manifest
    # min/max skip stats and the per-part Bloom sidecars
    # (IndexStore.parts_for_keys): spans prune range-clustered keys, and
    # where spans are useless because the keys are uniform hashes
    # (store.HASH_KEYED) the bloom keeps only the parts where the key
    # may be PRESENT — the Delta/Iceberg data-skipping analogue of the
    # reference's b-tree PK (SqliteProvider.cs:258-270), with the bloom
    # miss as its b-tree-miss fast path.
    #
    # The verbs that hand rows or bytes back to the caller (exists,
    # get/try_get, get_range, get_metadata, get_chunk_metadata,
    # list_objects and the read stream) then read the kept parts with
    # ONE driver-side pyarrow read (IndexStore.read_arrow) and run no
    # Spark job: parts are key-sorted with bounded row groups, so their
    # cost is footer and row-group I/O on the groups that can hold the
    # key, not the per-job scheduling floor, and a pruned miss reads
    # nothing at all. The APIs that return a
    # DataFrame (get_object_map, get_chunks, map_for_position,
    # get_batch) stay on Spark, because callers compose them; they plan
    # a scan over the same pruned part list (IndexStore.read_point).
    # The exact row filter is always applied on top: pruning shrinks
    # the file list, never the semantics.

    def _map_arrow(self, key: str, columns: list[str] | None = None, extra=None):
        """One object's map rows as an Arrow table in address order —
        optionally narrowed by an ``extra`` Arrow filter."""
        flt = pc.field("object_key") == key
        if extra is not None:
            flt = flt & extra
        return self.store.read_arrow(
            "object_map", columns, flt, col="object_key", values=[key]
        ).sort_by("address")

    def _payloads(self, keys: list[str]) -> dict[str, bytes]:
        """``chunk_key -> payload`` for ``keys``, read from only the
        chunk_store parts whose Bloom sidecar may hold one of them."""
        tbl = self.store.read_arrow(
            "chunk_store",
            ["chunk_key", "data"],
            pc.field("chunk_key").isin(keys),
            col="chunk_key",
            values=keys,
        )
        return dict(zip(tbl.column("chunk_key").to_pylist(), tbl.column("data").to_pylist()))

    def _point_rows(self, name: str, col: str, values: list) -> list:
        """Every row of ``name`` whose ``col`` is in ``values``, as
        ``collect()`` would return them."""
        if not values:
            return []
        return _arrow_rows(
            self.store.read_arrow(
                name, None, pc.field(col).isin(values), col=col, values=values
            )
        )

    def exists(self, key: str) -> bool:
        """O11: key-existence probe (SqliteProvider.cs:258-270)."""
        return (
            self.store.read_arrow(
                "objects",
                ["object_key"],
                pc.field("object_key") == key,
                col="object_key",
                values=[key],
            ).num_rows
            > 0
        )

    def get_object_map(self, key: str) -> DataFrame:
        """O14: map rows for one object, ordered by address."""
        return (
            self.store.read_point("object_map", "object_key", [key], OBJECT_MAP_SCHEMA)
            .filter(F.col("object_key") == key)
            .orderBy("address")
        )

    def get_chunks(self, key: str) -> DataFrame:
        """O13: distinct chunk metadata for an object — the reference's
        IN-list lookup (SqliteProvider.cs:333-355) as a broadcast
        semi-join: the (tiny, part-pruned) map for one object is the
        broadcast side, the chunks table the probe. No driver collect —
        bloom-pruning the chunks side would need the chunk keys on the
        driver, and a multi-GB object's thousands of keys should never
        round-trip through the driver or bloat the plan as IN-list
        literals; the chunks table is a single CAS-merged part anyway
        (refcount commits are full replaces), so there is nothing for
        the prune to skip."""
        wanted = self.get_object_map(key).select("chunk_key").distinct()
        return self.chunks.join(F.broadcast(wanted), "chunk_key", "left_semi")

    def get_chunk_metadata(self, chunk_key: str):
        """O15: point lookup of one chunk row; None on miss."""
        rows = self._point_rows("chunks", "chunk_key", [chunk_key])
        return rows[0] if rows else None

    def get_metadata(self, key: str) -> ObjectMetadata:
        """O8: object row + ordered map + chunk list, no payloads — the
        rows :meth:`get_object_map` and :meth:`get_chunks` would
        collect, read on the driver."""
        rows = self._point_rows("objects", "object_key", [key])
        if not rows:
            raise ObjectNotFoundError(key)
        r = rows[0]
        object_map = _arrow_rows(self._map_arrow(key))
        return ObjectMetadata(
            id=r.id,
            object_key=r.object_key,
            original_length=r.original_length,
            comp_length=r.comp_length,
            chunk_count=r.chunk_count,
            created_utc=r.created_utc,
            object_map=object_map,
            chunks=self._point_rows(
                "chunks", "chunk_key", list(dict.fromkeys(m.chunk_key for m in object_map))
            ),
        )

    def get(self, key: str) -> bytes:
        """O6: point lookup + reassembly (DedupeLibrary.cs:377-404).

        Two-phase IN-list read: the (tiny) map for one object is read
        first, then the payload read keeps only the chunk_store parts
        whose Bloom sidecar says they may contain one of those chunk
        keys (spans cannot discriminate uniform hash keys —
        store.BLOOM_COLS) and fetches each payload once. Reassembly
        walks the map in address order — a chunk referenced at several
        addresses (dedup reuse) is fetched once and concatenated at
        each site.

        Existence gates on the ``objects`` table: map rows planted
        outside the engine's commits (the orphans :meth:`recover`
        prunes) must read as not-found, never as data.
        """
        if not self.exists(key):
            raise ObjectNotFoundError(key)
        order = self._map_arrow(key, ["address", "chunk_key"]).column("chunk_key").to_pylist()
        if not order:
            raise ObjectNotFoundError(key)
        payloads = self._payloads(list(set(order)))
        return b"".join(payloads[k] for k in order)

    def try_get(self, key: str) -> bytes | None:
        """O7: exception-free get (DedupeLibrary.cs:353-368)."""
        try:
            return self.get(key)
        except ObjectNotFoundError:
            return None

    def get_batch(self, keys: list[str]) -> DataFrame:
        """Batched point reads with DISTRIBUTED reassembly: one DataFrame
        of ``(object_key, data)`` for all requested keys.

        The reference reads one object per call (DedupeLibrary.cs:377-404);
        a driver-side loop over :meth:`get` would run one Spark job per
        key. Here all requested maps join ``chunk_store`` at once and each
        object reassembles inside its ``groupBy`` group: pieces are
        collected as (address, data) structs, sorted by address, and
        folded with binary concat — all JVM-side, one job for the whole
        batch, objects distributed across executors. Missing keys are
        simply absent from the result (try_get semantics, batched).
        """
        wanted = self.store.read_point(
            "object_map", "object_key", keys, OBJECT_MAP_SCHEMA
        ).filter(F.col("object_key").isin(keys))
        # the payload fetch is a broadcast hash join against the full
        # chunk_store snapshot: bloom-pruning the payload parts would
        # need the batch's chunk keys on the driver, and the old collect
        # of up to 100k chunk keys cost a Spark job + an IN-list-literal
        # plan for a batch whose keys plausibly touch every part anyway
        # (a LARGE batch is exactly where per-part membership stops
        # discriminating). Parquet row-group pushdown on the join key
        # plus the broadcast keep the probe scan cheap; single-object
        # get()/get_range() DO ride the bloom-pruned read_point path.
        pieces = self.chunk_store.join(F.broadcast(wanted), "chunk_key")
        return (
            pieces.groupBy("object_key")
            .agg(
                F.sort_array(F.collect_list(F.struct("address", "data"))).alias("_pieces")
            )
            .select(
                "object_key",
                F.aggregate(
                    "_pieces",
                    F.lit(b"").cast("binary"),
                    lambda acc, p: F.concat(acc, p["data"]),
                ).alias("data"),
            )
        )

    def map_for_position(self, key: str, position: int) -> DataFrame:
        """O10: the interval-containment predicate — the reference's one
        hand-written SQL query (SqliteProvider.cs:378-382)."""
        return self.store.read_point(
            "object_map", "object_key", [key], OBJECT_MAP_SCHEMA
        ).filter(
            (F.col("object_key") == key)
            & (F.col("address") <= position)
            & (F.col("address") + F.col("length") > position)
        )

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        """Ranged read: fetch only the chunks overlapping [offset, offset+length)."""
        if length <= 0:
            return b""
        overlap = self._map_arrow(
            key,
            ["address", "chunk_key"],
            (pc.field("address") < offset + length)
            & (pc.field("address") + pc.field("length") > offset),
        )
        if not overlap.num_rows:
            return b""
        addresses = overlap.column("address").to_pylist()
        keys = overlap.column("chunk_key").to_pylist()
        payloads = self._payloads(list(set(keys)))
        buf = bytearray()
        for address, k in zip(addresses, keys):
            data = payloads[k]
            start = max(0, offset - address)
            end = min(len(data), offset + length - address)
            buf += data[start:end]
        return bytes(buf)

    def get_stream(self, key: str) -> "DedupeReadStream":
        """O9: seekable read-only view (DedupeStream.cs:13)."""
        meta = self.get_metadata(key)
        return DedupeReadStream(self, meta)

    # -- enumeration (O12) ------------------------------------------------------

    def list_objects(
        self,
        prefix: str | None = None,
        index_start: int = 0,
        max_results: int = MAX_LIST_RESULTS,
    ) -> EnumerationResult:
        """Keyset-paginated, prefix-filtered enumeration
        (SqliteProvider.cs:203-247). ``id > index_start`` seek beats OFFSET
        at scale; page capped at 100 like the reference. The page is
        read on the driver (no Spark job) from the objects parts whose
        id and key spans can hold it, and cut there by id."""
        n = max(1, min(max_results, MAX_LIST_RESULTS))
        ranges: dict[str, list[tuple]] = {"id": [(index_start + 1, None)]}
        if prefix:
            # parts whose key span cannot intersect [prefix, successor)
            # are skipped. The successor is the true prefix upper bound
            # (increment the last code point with U+10FFFF carry), NOT
            # prefix + U+FFFF: validate_object_key admits supplementary-
            # plane characters, and a key like prefix + U+1F600 sorts
            # ABOVE prefix + U+FFFF — the old bound silently pruned such
            # parts out of listings (the reference's LIKE 'prefix%',
            # SqliteProvider.cs:203-247, has no such hole).
            ranges["object_key"] = [(prefix, _prefix_successor(prefix))]
        flt = pc.field("id") > index_start
        if prefix:
            flt = flt & pc.starts_with(pc.field("object_key"), pattern=prefix)
        matches = self.store.read_arrow("objects", None, flt, ranges=ranges)
        page = _arrow_rows(matches.sort_by("id").slice(0, n))
        next_start = page[-1].id if len(page) == n else None
        return EnumerationResult(objects=page, next_index_start=next_start)

    # -- delete + GC (O18/O19) ---------------------------------------------------

    def delete(self, key: str) -> "list[str] | DataFrame":
        """O19: cascading delete; returns GC'd chunk keys (as a
        DataFrame instead of a list when the object GCs more than
        ``GC_RETURN_CAP`` chunks — see :meth:`delete_batch`)."""
        if not self.exists(key):
            raise ObjectNotFoundError(key)
        return self.delete_batch([key])

    def delete_batch(self, keys: list[str] | DataFrame) -> list[str] | DataFrame:
        """Batched cascading delete + refcount decrement + payload GC.

        The decrement MERGE aggregates per chunk_key first (the batched
        form of SqliteProvider.cs:533-556); chunks reaching ref_count < 1
        are dropped and their payloads deleted from chunk_store — the
        GC of SURVEY §3.3 — all in :meth:`_commit_mutation`'s one
        catalog flip. Like the reference's delete, the work follows the
        object, not the store: every table drops its rows by rewriting
        only the parts that may hold the doomed (or dead chunk) keys.

        ``keys`` is a Python list or a single-column ``object_key``
        DataFrame; the DataFrame's distinct keys are collected up to
        :data:`GC_BROADCAST_KEYS`. Up to that cap the keys are narrowed
        to the existing ones (:meth:`_present`, no Spark job), and when
        none exists nothing is staged or flipped. Above it (either form)
        the keys stay distributed: every key-set operation is an
        anti/semi JOIN, which is what a millions-of-keys delete at
        100 TB requires.

        The GC'd chunk keys come back as a list for a list ``keys``,
        reference-faithful — the list that selected the payload parts —
        but only up to ``GC_RETURN_CAP`` keys; a larger GC set, and the
        GC set of a DataFrame ``keys``, comes back as a DataFrame: over
        that list on the driver commit path, over the merge pinned
        before the flip on the Spark one (the store retains old parts
        for 8 versions, but a returned lazy plan must not depend on that
        window).
        """
        as_frame = isinstance(keys, DataFrame)
        if as_frame:
            keys = keys.select("object_key").distinct()
            rows = _bounded_rows(keys)
            keys = keys.localCheckpoint(eager=True) if rows is None else [r[0] for r in rows]
        elif len(keys) > GC_BROADCAST_KEYS:
            keys = self.spark.createDataFrame([(k,) for k in keys], "object_key string")
        with self.store.op_lock():
            if isinstance(keys, list):
                keys = self._present(keys)
                if not keys:
                    empty = self.spark.createDataFrame([], "chunk_key string")
                    return empty if as_frame else []
            gc_set, dead = self._commit_mutation(keys)
        if as_frame or dead is None or len(dead) > GC_RETURN_CAP:
            if gc_set is None:
                gc_set = self.spark.createDataFrame([(k,) for k in dead], "chunk_key string")
            return gc_set
        return dead

    # -- stats (O20/O21) ----------------------------------------------------------

    def stats(self) -> IndexStats:
        o = self.objects.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("original_length"), F.lit(0)).alias("b")
        ).collect()[0]
        c = self.chunks.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("length"), F.lit(0)).alias("b")
        ).collect()[0]
        return IndexStats(
            object_count=o.n, chunk_count=c.n, logical_bytes=o.b, physical_bytes=c.b
        )

    # -- incremental views (store time travel) --------------------------------

    def chunks_added_since(self, version: int) -> DataFrame:
        """Chunk keys present now but absent at chunks-table ``version`` —
        an incremental/CDC-style view computed from retained manifest
        snapshots, no change log needed. At scale this is the input to
        incremental downstream jobs (replicate only new chunks, index
        only new content) instead of full-table rescans.
        """
        old = self.store.read_version("chunks", version).select("chunk_key")
        return self.chunks.select("chunk_key", "length").join(old, "chunk_key", "left_anti")

    def objects_added_since(self, version: int) -> DataFrame:
        """Object rows appended after objects-table ``version`` — pure
        metadata via the monotone ingest-sequence id: the old snapshot
        only contributes its max id (one tiny aggregate), the current
        table is filtered above it, so the diff never joins."""
        old_max = (
            self.store.read_version("objects", version).agg(F.max("id")).collect()[0][0]
        )
        return self.objects.filter(F.col("id") > F.lit(old_max if old_max is not None else 0))

    # -- maintenance ----------------------------------------------------------

    def verify(
        self,
        since_version: int | None = None,
        shards: tuple[int, int] | None = None,
        consistent: bool = False,
    ) -> DataFrame:
        """Distributed content-address integrity scan: one row per
        violation, empty when the index is healthy.

        Two SCOPED modes bound the expensive payload recompute for the
        scheduled-scrub cadences a 100 TB store actually runs (the full
        scan is the weekly job; these are the daily ones):

        - ``since_version=v`` — incremental scrub: the sha2/length pass
          covers only chunk_store rows whose chunk_key was absent from
          chunk_store version ``v`` (one metadata-only key anti-join
          picks the subset; cost is O(new payload bytes), not O(store)).
          By construction an append-diff is keyed, so a row appended
          under an ALREADY-EXISTING key (tampering) is out of scope —
          that class is caught by the rolling shard scrub or the full
          scan, which is exactly the operational split (new data daily,
          full coverage on rotation).
        - ``shards=(i, n)`` — rolling scrub shard: covers the chunks
          whose key falls in range cell ``i`` of ``n``
          (:func:`shard_range` — contiguous 2-char-prefix spans of the
          uniformly-distributed SHA-256 key space); the union of the n
          shard runs covers every chunk exactly once at ~1/n of the
          payload cost per run. The range predicate pushes down to the
          parquet scan, so on a range-clustered layout
          (:meth:`optimize` clusters every table by its key) the shard
          run READS ~1/n of the payload bytes — a hash-cell shard
          would only skip 1-1/n of the sha256 compute while still
          paying the full 100 TB scan IO.

        Scoped runs evaluate the five payload/accounting checks on the
        scoped subset (a chunk and its payload always land in the same
        scope, so missing/orphan stay meaningful); the two
        metadata-wide checks (``refcount_drift``, ``orphan_map``) read
        no payload and are reported only by the FULL scan — so
        per-shard violation counts sum exactly to the full scan's
        payload-class counts.

        ``consistent=True`` pins the whole scan to the LAST recorded
        consistency point instead of each table's current manifest.
        The default reads the four tables' manifests independently, so
        a scrub racing a live ingest can observe a TORN cross-table
        state (e.g. object_map read before an ingest's flip, chunks
        after it) and report
        violations that exist only in the interleaving — at 100 TB,
        where scrubs always run concurrent with ingest, that's a
        paging false-alarm per batch. The consistent mode takes no
        lock and blocks no writer: it reads the immutable parts of the
        versions named by the ledger cut (an index with no recorded
        point yet falls back to current reads).

        The reference trusts its store blindly (a flipped bit in a
        chunk file surfaces only as a corrupted Get); at 100 TB the
        store WILL rot, so the scan re-derives every invariant the
        write path promised, as one pass of JVM-side column work (the
        sha256 recompute is ``sha2``/``base64`` inside codegen — no
        Python touches payload bytes):

        - ``hash_mismatch``   chunk_store payload no longer hashes to
                              its chunk_key (bit rot / tampering)
        - ``length_drift``    stored payload length != chunks.length
        - ``dup_payload``     a chunk_key with >1 chunk_store rows
                              (broken insert-if-absent)
        - ``missing_payload`` a chunks row with no payload
        - ``orphan_payload``  a payload with no chunks row (GC leak)
        - ``refcount_drift``  chunks.ref_count != object_map
                              multiplicity (broken CAS merge)
        - ``orphan_map``      object_map rows whose object never
                              reached the objects commit (crash
                              wreckage ``recover()`` would prune)

        Returns ``(check, key)`` violation rows; ``groupBy(check)`` is
        the health report. Every join is corpus-keyed (chunk_key /
        object_key) — shuffle joins at scale, no driver round-trips.

        The payload table is read EXACTLY ONCE: all chunk_store-derived
        checks are fused into one join + aggregate over the narrow
        (key, recomputed-key, length) projection, so the single plan
        scans each stored payload byte once and shuffles only the
        projection. (The pre-r12 branch form needed an eager
        checkpoint of the projection to avoid a rescan per branch; the
        fused form has one consumer and needs no materialization.)
        """
        from watsondedupe_spark.keys import chunk_key_col

        cs_src, chunks_src = self.chunk_store, self.chunks
        omap_src, objects_src = self.object_map, self.objects
        if consistent:
            points = self.store.table_meta("checkpoints").get("rows", [])
            if points:
                # newest point whose FOUR versions are all still retained:
                # the ledger keeps more rows than the store keeps manifest
                # versions, so a long quiet window of checkpoint-less
                # compactions could expire the newest point's versions —
                # scan back to the freshest fully-retained cut instead of
                # erroring mid-scrub. (Versions are monotone per table, so
                # in practice only the newest point can be the best
                # candidate; the scan is belt-and-braces over <=
                # CHECKPOINT_RETAIN ledger rows, no table IO.)
                retained = {
                    t: set(self.store.versions(t))
                    for t in ("objects", "object_map", "chunks", "chunk_store")
                }
                p = next(
                    (
                        cand
                        for cand in reversed(points)
                        if all(
                            int(cand[f"{t}_v"]) in retained[t] for t in retained
                        )
                    ),
                    None,
                )
                if p is None:
                    newest = points[-1]
                    raise ValueError(
                        "no consistency point is fully retained: the newest "
                        f"(seq={newest['seq']}, op={newest['op']}) names "
                        "expired table versions — run any write / delete / "
                        "optimize() to record a fresh point, then re-run "
                        "verify(consistent=True)"
                    )
                cs_src = self.store.read_version(
                    "chunk_store", int(p["chunk_store_v"])
                )
                chunks_src = self.store.read_version("chunks", int(p["chunks_v"]))
                omap_src = self.store.read_version(
                    "object_map", int(p["object_map_v"])
                )
                objects_src = self.store.read_version("objects", int(p["objects_v"]))
        meta = chunks_src.select("chunk_key", "length", "ref_count")
        scoped = since_version is not None or shards is not None
        if since_version is not None:
            # metadata-only key anti-join: the old snapshot contributes
            # just its chunk_key column (parquet column pruning — no old
            # payload bytes are read), so the scope cut costs O(keys)
            old_keys = (
                self.store.read_version("chunk_store", since_version)
                .select("chunk_key")
                .distinct()
            )
            cs_src = cs_src.join(old_keys, "chunk_key", "left_anti")
            meta = meta.join(old_keys, "chunk_key", "left_anti")
        if shards is not None:
            i, n = shards
            # shard_range validates both indices are real ints: a float
            # i (1.5) would otherwise build a predicate matching NOTHING,
            # silently reporting a clean shard instead of scanning one
            pred = shard_predicate(i, n)
            if not consistent and since_version is None:
                # r12 (guide §6): on the current snapshot, plan only the
                # parquet FILES whose footer key span can overlap the
                # shard range (store.read_key_range). Row-group pruning
                # already skips the out-of-range BYTES, but Spark still
                # schedules a task per file — a 1-of-n shard on a
                # range-clustered 100 TB payload table would launch the
                # full file count to read 1/n of it. File selection is a
                # superset (stats-less files kept); the exact row
                # predicate below still applies, so results are
                # byte-identical to the unpruned scan.
                lo, hi = shard_range(i, n)
                cs_src = self.store.read_key_range(
                    "chunk_store", "chunk_key", lo, hi, CHUNK_STORE_SCHEMA
                )
                meta = self.store.read_key_range(
                    "chunks", "chunk_key", lo, hi, CHUNKS_SCHEMA
                ).select("chunk_key", "length", "ref_count")
            cs_src = cs_src.filter(pred)
            meta = meta.filter(pred)
        # r13 (guide §1.2): no localCheckpoint here any more — the r12
        # check fusion below left exactly ONE consumer of this
        # projection (the six-branch form it replaced had five), so the
        # eager materialization had become a pure extra pass: one
        # additional job per scan plus a block-manager round-trip of
        # the projected rows, paid three times per integrity-scan row
        # and once per scheduled scrub at scale. The single fused plan
        # still reads each payload byte exactly once (one scan feeds
        # the join's exchange directly).
        cs = cs_src.select(
            "chunk_key",
            chunk_key_col(F.col("data")).alias("_computed"),
            F.length("data").cast("long").alias("_stored_len"),
        )
        # null-safe throughout: a NULL payload makes _computed/
        # _stored_len NULL, and a plain != would evaluate to NULL and
        # let the unreadable row escape the very scan built to catch it.
        #
        # r12 (guide §2.4): the six chunk-keyed checks fuse into ONE
        # full-outer join + ONE per-key aggregate + an explode, instead
        # of six branch subtrees (filter / groupBy / inner join / two
        # anti-joins / full-outer join) unioned together — the branch
        # form cost ~10 AQE stages of pure scheduling floor per scan,
        # which dominated the scoped shard scrub (the rolling-scrub
        # seconds fraction the scale gate watches). The emitted
        # (check, key) multiset is identical by construction:
        # per-row classes (hash_mismatch, length_drift) re-emit their
        # row multiplicity via array_repeat of the per-key counts;
        # per-key classes emit conditional singletons. Keys are
        # engine-written (never NULL), so the key-grain group is
        # exactly the join key.
        #
        # r13 (advisor): the meta side pre-aggregates to ONE row per
        # chunk_key before the join. chunks is key-unique by
        # construction, so on any store the write path produced this
        # is a no-op (max over one row) riding the same exchange the
        # join needs anyway — but if chunks metadata itself were ever
        # corrupted with duplicate key rows, the old row-grain join
        # would multiply the cs side through the full-outer join and
        # misreport a healthy single payload row as dup_payload (with
        # doubled hash/length counts). Keys still get flagged either
        # way; this keeps the check CLASSES truthful.
        mcols = meta.groupBy("chunk_key").agg(
            F.max("length").alias("length"),
            F.max("ref_count").alias("ref_count"),
            F.lit(1).alias("_m"),
        )
        grain = cs.withColumn("_c", F.lit(1)).join(
            mcols, "chunk_key", "full_outer"
        )
        if not scoped:
            refs = omap_src.groupBy("chunk_key").agg(
                F.count("*").cast("long").alias("_n_refs"),
                F.lit(1).alias("_r"),
            )
            grain = grain.join(refs, "chunk_key", "full_outer")
        else:
            grain = grain.withColumn(
                "_n_refs", F.lit(None).cast("long")
            ).withColumn("_r", F.lit(None).cast("int"))
        per_key = grain.groupBy("chunk_key").agg(
            F.count("_c").alias("_n_cs"),
            F.sum(
                F.when(
                    F.col("_c").isNotNull()
                    & ~F.col("_computed").eqNullSafe(F.col("chunk_key")),
                    1,
                ).otherwise(0)
            ).alias("_n_hash_bad"),
            F.sum(
                F.when(
                    F.col("_c").isNotNull()
                    & F.col("_m").isNotNull()
                    & ~F.col("_stored_len").eqNullSafe(F.col("length")),
                    1,
                ).otherwise(0)
            ).alias("_n_len_bad"),
            F.count("_m").alias("_n_m"),
            F.count("_r").alias("_n_r"),
            F.max("ref_count").alias("_ref_count"),
            F.max("_n_refs").alias("_refs"),
        )
        empty = F.array().cast("array<string>")
        one = lambda cond, tag: F.when(cond, F.array(F.lit(tag))).otherwise(empty)
        checks = F.concat(
            F.array_repeat(F.lit("hash_mismatch"), F.col("_n_hash_bad").cast("int")),
            F.array_repeat(F.lit("length_drift"), F.col("_n_len_bad").cast("int")),
            one(F.col("_n_cs") > 1, "dup_payload"),
            one((F.col("_n_m") > 0) & (F.col("_n_cs") == 0), "missing_payload"),
            one((F.col("_n_cs") > 0) & (F.col("_n_m") == 0), "orphan_payload"),
            *(
                ()
                if scoped
                else (
                    # metadata-wide check, full scan only (see
                    # docstring): keys present in chunks or object_map
                    # whose ref_count disagrees with the map multiplicity
                    one(
                        ((F.col("_n_m") > 0) | (F.col("_n_r") > 0))
                        & ~F.col("_ref_count").eqNullSafe(F.col("_refs")),
                        "refcount_drift",
                    ),
                )
            ),
        )
        out = per_key.select(
            F.explode(checks).alias("check"), F.col("chunk_key").alias("key")
        )
        if not scoped:
            out = out.unionByName(
                omap_src.select("object_key")
                .distinct()
                .join(objects_src.select("object_key"), "object_key", "left_anti")
                .select(
                    F.lit("orphan_map").alias("check"),
                    F.col("object_key").alias("key"),
                )
            )
        return out

    def repair(self) -> dict[str, int]:
        """Fix every :meth:`verify` violation class that is fixable
        from the index itself, in ONE fused maintenance pass:

        - the recover work — prunes orphan map rows (uncommitted
          objects), rebuilds refcounts from the surviving map, and GCs
          payloads whose chunk row is gone (which also clears
          ``orphan_payload``);
        - CANONICALIZATION of the payload store: among each
          chunk_key's rows, only content that actually hashes to the
          key survives (dropping garbage/tampered rows —
          ``hash_mismatch`` and its ``length_drift``), and exactly one
          survivor is kept (``dup_payload``; hash-verified survivors
          are byte-identical, so the pick is content-deterministic).

        The payload GC and the canonicalization come from one per-key
        aggregate over chunk_store and land in one rewrite of the parts
        that may hold a dead or bad key (:meth:`IndexStore.rewrite_entry`);
        healthy parts keep their bytes. :meth:`recover` is not called. Every fix is staged (the map and
        chunks fixes overlapped on driver threads with the chunk_store
        scan) and a pass that changed anything publishes them all in ONE
        catalog flip with ONE ``repair`` point in the checkpoints
        ledger: a crash, a :meth:`restore` or a ``clone(at=)`` lands on
        the state before the repair or after it, never between the GC
        and the canonicalization. An error in any overlapped fix is
        raised, also when the chunk_store phase failed first.

        A chunk whose ONLY payload row is corrupt cannot be healed from
        the index — its garbage row is dropped and the loss surfaces
        honestly as ``missing_payload`` on the next verify instead of
        as silently wrong bytes on some future get. Idempotent like
        recover(); returns recover's per-table deltas plus the count of
        canonicalization-dropped payload rows.
        """
        from watsondedupe_spark.keys import chunk_key_col

        # lock OUTSIDE the pool: the pool exit joins every in-flight fix
        # thread (and re-raises its error) before the lock releases
        with self.store.op_lock():
            with fix_pool() as (submit, fixes):
                deltas, rebuilt = self._recover_map_chunks(submit)
                # FUSED chunk_store phase (r13 session 3, guide §1.2/§2.6):
                # repair used to run recover()'s membership scan + GC
                # rewrite and THEN a second sha-detection scan + a second
                # canonicalization rewrite — two passes over the payload
                # table and, with both damage classes present, two full
                # rewrites of it inside one maintenance call. One per-key
                # aggregate now computes BOTH: the sha/dup detection rides
                # the same groupBy that the GC membership join annotates
                # (_live from the rebuilt chunks), and a single commit
                # applies both fixes. The scan also starts while the
                # map/chunks fixes are still committing — it reads only the
                # pinned chunk_store snapshot and the eagerly-checkpointed
                # rebuild, never a table another thread is writing.
                # null-safe mirror of verify(): a NULL-payload row must
                # count as bad (and must NOT survive canonicalization)
                # rather than vanishing from both filters as NULL.
                v_cs, cstore, _ = self.store.snapshot("chunk_store", CHUNK_STORE_SCHEMA)
                live_keys = rebuilt.select("chunk_key")
                is_live = F.col("_live").isNotNull()
                bad_pred = is_live & ((F.col("_n") > 1) | (F.col("_n_mismatch") > 0))
                dead_pred = F.col("_live").isNull()
                per_key = (
                    cstore.select(
                        "chunk_key",
                        chunk_key_col(F.col("data")).alias("_computed"),
                    )
                    .groupBy("chunk_key")
                    .agg(
                        F.count("*").alias("_n"),
                        F.sum(
                            F.when(
                                ~F.col("_computed").eqNullSafe(F.col("chunk_key")), 1
                            ).otherwise(0)
                        ).alias("_n_mismatch"),
                    )
                    .join(live_keys.withColumn("_live", F.lit(1)), "chunk_key", "left")
                    # lazy checkpoint, materialized by the aggregate below —
                    # the damaged-path key collect then reads per-key ROWS
                    # (O(keys), no payload bytes) instead of re-running the
                    # whole sha scan
                    .localCheckpoint(eager=False)
                )
                # detection numbers are scoped to LIVE keys — identical to
                # the old post-GC detection by construction (GC removed
                # exactly the dead keys' rows before the old scan ran)
                agg_row = per_key.agg(
                    F.sum("_n"),
                    F.sum(F.when(is_live, F.col("_n")).otherwise(0)),
                    F.sum(F.when(is_live, F.col("_n_mismatch")).otherwise(0)),
                    F.sum(F.when(is_live, 1).otherwise(0)),
                    F.sum(
                        F.when(
                            is_live & (F.col("_n") > F.col("_n_mismatch")), 1
                        ).otherwise(0)
                    ),
                ).collect()[0]
                n_rows_all, n_rows, n_mismatch, n_keys, n_good_keys = (
                    int(x or 0) for x in agg_row
                )
                n_dead = n_rows_all - n_rows
                n_bad = n_mismatch + n_rows - n_keys
                deltas["chunk_store"] = -n_dead
                # n_good_keys IS the canonical live row count (canonicalize
                # keeps exactly one hash-verified survivor per such key), so
                # the post-rewrite delta needs no second table count; with
                # nothing bad it equals n_rows and the delta is 0
                deltas["chunk_store_canonicalized"] = n_good_keys - n_rows
                cs_entry = None
                if n_dead or n_bad:
                    good = chunk_key_col(F.col("data")).eqNullSafe(F.col("chunk_key"))
                    # the dead and bad keys, collected up to the driver
                    # cap: the rewrite selects only the parts that may
                    # hold one of them (every part above the cap), so
                    # healthy parts keep their bytes untouched
                    rows = _bounded_rows(
                        per_key.filter(dead_pred | bad_pred).select(
                            "chunk_key", dead_pred.alias("_dead")
                        )
                    )
                    doomed = None if rows is None else [r.chunk_key for r in rows]
                    dead = None if rows is None else [r.chunk_key for r in rows if r._dead]

                    def fused_layout(df: DataFrame) -> DataFrame:
                        # dead keys: hash-consistent rows whose chunk is
                        # gone — only the membership filter can drop them;
                        # bad keys: filter to hash-verified rows, keep one
                        # survivor (content-deterministic: verified
                        # survivors are byte-identical). Healthy rows pass
                        # both filters untouched.
                        out = df
                        if n_dead:
                            out = _without(
                                out, "chunk_key", dead, per_key.filter(dead_pred).select("chunk_key")
                            )
                        if n_bad:
                            out = out.filter(good).dropDuplicates(["chunk_key"])
                        return out

                    cs_entry = self.store.rewrite_entry(
                        "chunk_store", "chunk_key", doomed, fused_layout, v_cs
                    )
            self._publish([f.result() for f in fixes] + [cs_entry], "repair")
        return deltas

    def vacuum(self, grace_seconds: float | None = None) -> dict[str, dict]:
        """Explicit orphan-part reclamation across every index table —
        the Delta VACUUM analogue (no reference counterpart; SQLite has
        no orphan files). GC normally rides each commit, so a crashed
        writer's unpublished part dirs on a QUIET index sit on disk
        until the next write; at 100 TB a crashed bulk ingest can strand
        terabytes. This sweeps on demand with the same two protections
        the implicit GC has — retention (a part referenced by ANY
        retained manifest version survives, so concurrent readers and
        restore()/clone(at=) targets stay intact) and the in-flight
        grace window (default :attr:`IndexStore.gc_grace_seconds`; only
        pass a smaller ``grace_seconds`` when no writer can be live).
        Returns per-table ``{parts_removed, mb_reclaimed}``.
        """
        return {
            name: self.store.vacuum(name, grace_seconds=grace_seconds)
            for name in ("config", "objects", "object_map", "chunks", "chunk_store")
            if self.store.exists(name)
        }

    def optimize(self, incremental: bool = False) -> dict[str, int]:
        """Fold every index table's live parts into a range-clustered
        layout (the OPTIMIZE / VACUUM analogue — no reference
        counterpart, SQLite has no parts).

        Appends keep ingest O(batch) by accumulating parts; this folds
        them eagerly during a quiet window instead of paying the
        compaction inside some unlucky ingest batch. Returns the new
        manifest version per table (0 = skipped, already clustered).

        Compaction RANGE-CLUSTERS each table by its key
        (repartitionByRange, and every part write sorts its files by
        the same key — the Z-order analogue for a single key): every
        rewritten file covers a
        narrow key span, so key-range predicates — point/batch reads,
        prefix listings, and above all the rolling scrub's
        :func:`shard_predicate` — prune at the parquet row-group level
        afterwards. This is what makes ``verify(shards=(i, n))`` read
        ~1/n of the payload BYTES on a maintained store, not just skip
        1-1/n of the hashing. The clustering shuffle is paid here, in
        the quiet-window job, never on the ingest hot path.

        ``incremental=True`` rewrites ONLY the parts appended since the
        last clustering pass (the Delta OPTIMIZE-binpack / LSM-level
        shape, via :meth:`IndexStore.compact_parts`): chunk keys are
        uniform SHA-256, so ANY new batch overlaps every key range —
        a span-overlap merge would always degrade to a full rewrite.
        Instead the new parts fold into ONE new range-clustered part
        alongside the untouched clustered baseline; every live part is
        then internally key-clustered, so shard/point pruning holds
        across all of them, and the follow-on compaction after a small
        append costs O(append bytes), not O(100 TB table). Parts
        already clustered are tracked in the table meta
        (``clustered_parts``) and skipped with zero IO; a full
        ``optimize()`` on rotation re-tightens the layout to one part
        set.

        The four tables' rewrites are staged overlapped on driver
        threads and published in ONE catalog flip together with a
        consistency point, so a quiet window of repeated compactions can
        never expire the newest ledger point's versions out from under
        ``verify(consistent=True)`` / ``restore()``. A concurrent flip
        that retired one of the inputs refuses the whole flip, and the
        pass re-selects its inputs from fresh manifests.
        """
        import os

        tables = [t for t in _INDEX_SCHEMAS if self.store.exists(t)]

        def stage_one(name: str):
            # re-derived per CAS attempt: a lost race means the part
            # list moved and the rewrite subset must be re-selected
            key = self.store.BLOOM_COLS[name]
            parts = self.store.live_parts(name)
            clustered = set(self.store.table_meta(name).get("clustered_parts", []))
            todo = (
                [p for p in parts if os.path.basename(p) not in clustered]
                if incremental
                else parts
            )
            if not todo:
                return None  # already fully clustered: zero IO
            # explicit file count from the subset's on-disk size (no
            # data pass): AQE coalesces an implicit range repartition
            # to one partition at small sizes, which would leave a
            # single giant file at scale — the layout must be
            # deterministic
            n_files = max(
                1,
                -(-self.store.parts_bytes(todo) // self.OPTIMIZE_TARGET_FILE_BYTES),
            )

            def meta_fn(meta, new_parts, new_part):
                live = {os.path.basename(p) for p in new_parts}
                kept = [b for b in meta.get("clustered_parts", []) if b in live]
                meta["clustered_parts"] = kept + [os.path.basename(new_part)]
                return meta

            # the part write sorts each file by the key. Single-file
            # folds (every small-table fold, and any incremental fold
            # under the target file size) need no range exchange:
            # coalesce(1) yields the identical one sorted part with
            # zero shuffle. Multi-file folds keep repartitionByRange —
            # the range bounds are what make each file a narrow,
            # prunable key span.
            if n_files == 1:
                layout = lambda df: df.coalesce(1)
            else:
                layout = lambda df: df.repartitionByRange(n_files, F.col(key))
            return self.store.rewrite_entry(name, key, None, layout, None, meta_fn, todo)

        def attempt() -> dict[str, int]:
            # r12 (guide §2.6 — overlap independent jobs): the four
            # compactions are independent Spark jobs; staging them from
            # driver threads overlaps their jobs. This matters most for
            # the INCREMENTAL quiet-window pass, whose cost is dominated
            # by four small-fold fixed floors.
            with fix_pool(len(tables)) as (submit, fixes):
                for name in tables:
                    submit(stage_one, name)
            states = self._publish([f.result() for f in fixes], "optimize")
            return {name: state["version"] for name, state in states.items() if name in tables}

        if not tables:
            return {}
        return {name: 0 for name in tables} | self.store._retry(attempt)

    def clone(
        self,
        dest_root: str,
        store_cls: type | None = None,
        at: int | None = None,
    ) -> "DedupeEngine":
        """Consistent replica of the index at ``dest_root`` — the
        backup / DR / migration verb (no reference analogue; the
        reference's answer is "copy the SQLite file and the chunk
        directory", README.md:33, which has no cross-table consistency
        under concurrent writers).

        The composite-op lock is held only long enough to pin all five
        table snapshots at ONE logical point (manifest reads — no data
        movement); the bulk copy then streams OUTSIDE the lock against
        the pinned parquet parts, which are immutable and retained for
        the version-history window, so writers are blocked for
        milliseconds, not for the hours a 100 TB copy takes. (If the
        source advances past the retention window mid-copy the read
        fails loudly rather than producing a torn clone.) The five
        tables are staged overlapped at the destination — distributed
        part writes, nothing driver-side — and land in ONE catalog flip
        as its version-1 state, so a crashed clone leaves no index at
        ``dest_root`` (only unreferenced part dirs). Cloning ACROSS
        backends (file-manifest -> SQLite catalog or back) works by
        construction: pass ``store_cls``. The objects high-water mark
        carries over, so ingest ids in the clone continue above the
        source's.

        ``at=seq`` clones a HISTORICAL state instead: the consistency
        point with that ledger sequence number (see
        :attr:`checkpoints` / :meth:`_checkpoint_entry`) — true
        point-in-time restore on independently-versioned tables,
        because the ledger row was published in the op's own catalog
        flip and therefore names a real cross-table cut, never a torn
        mix of two ops. Subject to the store's part-retention
        window: restoring a point whose parts have been retired fails
        loudly.
        """
        from watsondedupe_spark.store import open_store

        store_cls = store_cls or type(self.store)
        # refuse ANY existing index at dest, whichever backend wrote it —
        # probing only with the destination class would let a clone
        # interleave a second backend's layout into an occupied root
        if open_store(self.spark, dest_root).exists("config"):
            raise ValueError(f"index already exists at {dest_root}; refusing clone")
        dest = store_cls(self.spark, dest_root)
        if at is not None:
            p = self._point(at)
            objs = self.store.read_version("objects", int(p["objects_v"]))
            snaps = {
                "config": self.store.read("config", CONFIG_SCHEMA),
                "object_map": self.store.read_version(
                    "object_map", int(p["object_map_v"])
                ),
                "chunks": self.store.read_version("chunks", int(p["chunks_v"])),
                "chunk_store": self.store.read_version(
                    "chunk_store", int(p["chunk_store_v"])
                ),
            }
            # the high-water mark must come from the manifest meta AT the
            # checkpoint, like the live-clone path — max(id) of the data
            # would re-issue ids of objects deleted before the point, and
            # a later ingest into the clone would collide with history.
            # A historical manifest WITHOUT max_id (pre-max_id-era store)
            # fails loudly: silently falling back to max(id) here would
            # reintroduce exactly that id-reuse hazard.
            max_id = self.store.version_meta("objects", int(p["objects_v"])).get(
                "max_id"
            )
            if max_id is None:
                raise ValueError(
                    f"consistency point seq={at}: objects manifest version "
                    f"{int(p['objects_v'])} carries no max_id high-water "
                    "mark (pre-max_id-era index); clone the live state or "
                    "a newer point, or repair the manifest meta first — a "
                    "max(id)-of-rows fallback could re-issue ids of "
                    "objects deleted before the point"
                )
        else:
            with self.store.op_lock():
                _, objs, ometa = self.store.snapshot("objects", OBJECTS_SCHEMA)
                max_id = ometa.get("max_id")
                snaps = {
                    "config": self.store.read("config", CONFIG_SCHEMA),
                    "object_map": self.store.snapshot("object_map", OBJECT_MAP_SCHEMA)[1],
                    "chunks": self.store.snapshot("chunks", CHUNKS_SCHEMA)[1],
                    "chunk_store": self.store.snapshot(
                        "chunk_store", CHUNK_STORE_SCHEMA
                    )[1],
                }
        if max_id is None:
            max_id = objs.agg(F.max("id")).collect()[0][0] or 0
        snaps["objects"] = objs

        def stage(name: str, df: DataFrame):
            high = (lambda meta, *_: {"max_id": int(max_id)}) if name == "objects" else None
            return dest.rewrite_entry(name, None, None, lambda _: df, None, high)

        with fix_pool(len(snaps)) as (submit, fixes):
            for name, df in snaps.items():
                submit(stage, name, df)
        dest._flip([f.result() for f in fixes])
        return DedupeEngine(self.spark, dest, self.settings)

    def restore(self, at: int) -> dict[str, int]:
        """Roll the index BACK to consistency point ``at`` IN PLACE —
        the undo verb (:meth:`clone` with ``at=`` builds a copy; this
        re-points the live index). All four tables are re-pointed at
        the recorded versions' part lists in ONE catalog flip, together
        with the restore's own consistency point — metadata-only, no
        payload bytes move, so a 100 TB rollback is one manifest write.
        All or nothing: tables version at different rates and the
        ledger retains more rows than the store retains manifest
        versions, so a point can be listed while some of its versions
        have expired; each table's version is looked up inside the flip
        and an expired one raises ValueError before anything is
        published. History is preserved, so a rollback is visible in
        the ledger and is itself undoable while retained. Returns the
        new manifest version per table.
        """
        with self.store.op_lock():
            p = self._point(at)
            states = self._publish(
                [self.store.restore_entry(t, int(p[f"{t}_v"])) for t in _INDEX_SCHEMAS],
                "restore",
            )
        return {t: states[t]["version"] for t in _INDEX_SCHEMAS}

    def _recover_map_chunks(self, submit) -> tuple[dict[str, int], DataFrame]:
        """The object_map + chunks phases shared by :meth:`recover` and
        :meth:`repair`: verify/prune map rows against ``objects`` and
        rebuild chunk ref_counts from the surviving map. Each fix is
        staged through :func:`~watsondedupe_spark.pool.fix_pool`'s
        ``submit`` (its future returns the flip entry); the CALLER joins
        them and publishes every entry in one flip. Returns ``(deltas, rebuilt)`` where
        ``rebuilt`` is the post-rebuild chunks frame — it reads only
        eagerly-checkpointed rows, so it is safe to consume while the
        fixes are still staging. Caller must hold the composite-op lock.
        """
        deltas: dict[str, int] = {}
        keys = self.objects.select("object_key")
        v_map, omap, _ = self.store.snapshot("object_map", OBJECT_MAP_SCHEMA)
        # r13 (guide §1.2 — don't pay three jobs for two numbers):
        # annotate liveness on the join itself (objects keys are
        # unique, so the left join preserves map multiplicity
        # exactly like the old left_semi) and read total/live off
        # ONE aggregate over the checkpointed rows, instead of a
        # separate omap.count() scan plus a valid_map.count().
        ann_map = omap.join(
            keys.withColumn("_live", F.lit(1)), "object_key", "left"
        ).localCheckpoint(eager=True)
        n_map_total, n_map_live = ann_map.agg(
            F.count("*"), F.count("_live")
        ).collect()[0]
        valid_map = ann_map.filter(F.col("_live").isNotNull()).drop("_live")
        n_orphans = int(n_map_total) - int(n_map_live)
        deltas["object_map"] = -n_orphans
        if n_orphans:
            # a typical crash strands ONE batch's map rows — at 100 TB
            # pruning them must not rewrite the whole map table, so the
            # rewrite keeps every part that cannot hold an orphan key.
            # r13 (guide §2.6): each table's fix stages from a driver
            # thread while the NEXT table's verification computes — the
            # chunks rebuild reads only the pinned valid_map and its
            # own immutable snapshot
            def fix_map():
                orphans = ann_map.filter(F.col("_live").isNull()).select("object_key").distinct()
                rows = _bounded_rows(orphans)
                keys = None if rows is None else [r[0] for r in rows]
                return self.store.rewrite_entry(
                    "object_map",
                    "object_key",
                    keys,
                    lambda df: _without(df, "object_key", keys, orphans),
                    v_map,
                )

            submit(fix_map)

        # chunks: rebuild refcounts from the surviving map and rewrite
        # whenever ANY row differs — count drift alone would miss a
        # same-size table with inflated counts. The comparison rides the
        # rebuild's LEFT join: rebuilt keys are a subset of chunks keys
        # and `length` is carried verbatim, so with equal row counts the
        # only possible difference is a per-key ref_count change, which
        # _stale records; total, rebuilt and stale counts come from ONE
        # aggregate over the checkpointed rows.
        refs = valid_map.groupBy("chunk_key").agg(F.count("*").alias("_n_refs"))
        v_ch, chunks, _ = self.store.snapshot("chunks", CHUNKS_SCHEMA)
        ann_ch = (
            chunks.join(refs, "chunk_key", "left")
            .select(
                "chunk_key",
                "length",
                F.col("_n_refs").cast("long").alias("_n_refs"),
                (
                    F.col("_n_refs").isNotNull()
                    & ~F.col("ref_count").eqNullSafe(
                        F.col("_n_refs").cast("long")
                    )
                ).alias("_stale"),
            )
            .localCheckpoint(eager=True)
        )
        n_ch_total, n_rebuilt, n_stale = ann_ch.agg(
            F.count("*"),
            F.count("_n_refs"),
            F.sum(F.when(F.col("_stale"), 1).otherwise(0)),
        ).collect()[0]
        rebuilt = ann_ch.filter(F.col("_n_refs").isNotNull()).select(
            "chunk_key", "length", F.col("_n_refs").alias("ref_count")
        )
        deltas["chunks"] = int(n_rebuilt) - int(n_ch_total)
        stale = bool(n_stale)
        if deltas["chunks"] or stale:
            submit(self.store.rewrite_entry, "chunks", "chunk_key", None, lambda _: rebuilt, v_ch)
        return deltas, rebuilt

    def recover(self) -> dict[str, int]:
        """Make object_map, chunks and chunk_store consistent with
        ``objects`` again after damage made OUTSIDE the engine's own
        commits — rows written by a tool that bypassed the engine, a
        hand-edited table, a partial restore of files.

        No crash of an engine verb leaves partial state: every
        composite op publishes all its tables in one catalog flip, so a
        crash shows the op's before-state or its after-state and this
        pass then finds nothing (all-zero deltas). ``objects`` is the
        logical commit point — an object does not EXIST without its
        objects row — so this maintenance scan, run under the
        composite-op lock during a quiet window, trusts it and fixes the
        other three tables:

        * object_map rows whose key is absent from objects are pruned;
        * chunk ref_counts are rebuilt from the surviving map (the map
          IS the reference ledger, so the rebuild is one groupBy — the
          same derivation the refcount invariant checks use); chunks
          reaching zero references drop;
        * chunk_store payloads for dropped chunks GC.

        The scans are O(table), a repair pass, not a hot-path cost; the
        fixes rewrite only the parts that may hold an orphan or dead key
        (:meth:`IndexStore.rewrite_entry`). Returns per-table row deltas (0 everywhere on a healthy
        index). Each table is verified INDEPENDENTLY (no early-out on a
        clean object_map), every fix is staged, and the fixes publish in
        one catalog flip with one ``recover`` ledger point; the pass is
        idempotent. The rebuild keeps only chunks rows that still
        exist: it never invents a chunk row for a map row whose chunk
        is gone.
        """
        # lock OUTSIDE the pool: the pool's exit joins every in-flight
        # fix thread BEFORE the op lock releases, even on an exception path
        with self.store.op_lock():
            with fix_pool() as (submit, fixes):
                deltas, rebuilt = self._recover_map_chunks(submit)
                # chunk_store: GC payloads whose chunk no longer exists.
                # r13: dead/live counts come from one key-only aggregate
                # over the membership join (two separate count() actions
                # before); the payload-bearing `live` frame is only built
                # when there is actually something to GC.
                v_cs, cstore, _ = self.store.snapshot("chunk_store", CHUNK_STORE_SCHEMA)
                live_keys = rebuilt.select("chunk_key")
                n_cs_total, n_cs_live = (
                    cstore.select("chunk_key")
                    .join(live_keys.withColumn("_l", F.lit(1)), "chunk_key", "left")
                    .agg(F.count("*"), F.count("_l"))
                    .collect()[0]
                )
                n_dead = int(n_cs_total) - int(n_cs_live)
                deltas["chunk_store"] = -n_dead
                cs_entry = None
                if n_dead:
                    # same part-local shape for the payload GC — dead
                    # payloads are O(one damaged batch), the table is the
                    # 100 TB one; rewrite only the parts holding them
                    dead_df = (
                        cstore.select("chunk_key")
                        .distinct()
                        .join(live_keys, "chunk_key", "left_anti")
                    )
                    rows = _bounded_rows(dead_df)
                    dead = None if rows is None else [r[0] for r in rows]
                    cs_entry = self.store.rewrite_entry(
                        "chunk_store",
                        "chunk_key",
                        dead,
                        lambda df: _without(df, "chunk_key", dead, dead_df),
                        v_cs,
                    )
            self._publish([f.result() for f in fixes] + [cs_entry], "recover")
        return deltas


class DedupeReadStream(io.RawIOBase):
    """Seekable read-only stream over a stored object (O9).

    Mirrors DedupeStream.cs:83-152: each read resolves the chunk covering
    the current position (bisect over the collected, ordered map — one
    object's map is small), fetches that chunk's payload once, and serves
    in-chunk slices. Sequential scans fetch each chunk exactly once.
    """

    def __init__(self, engine: DedupeEngine, meta: ObjectMetadata):
        self._engine = engine
        self._meta = meta
        self._map = sorted(meta.object_map, key=lambda r: r.address)
        self._addresses = [r.address for r in self._map]
        self._pos = 0
        self._cached_key: str | None = None
        self._cached_data: bytes = b""

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        if whence == io.SEEK_SET:
            new = offset
        elif whence == io.SEEK_CUR:
            new = self._pos + offset
        elif whence == io.SEEK_END:
            new = self._meta.original_length + offset
        else:
            raise ValueError(f"bad whence {whence}")
        if new < 0:
            raise ValueError("negative seek position")
        self._pos = new
        return self._pos

    def tell(self) -> int:
        return self._pos

    def _fetch(self, chunk_key: str) -> bytes:
        if chunk_key != self._cached_key:
            data = self._engine._payloads([chunk_key]).get(chunk_key)
            if data is None:
                raise OSError(f"missing chunk payload {chunk_key}")
            self._cached_key = chunk_key
            self._cached_data = data
        return self._cached_data

    def read(self, size: int = -1) -> bytes:
        total = self._meta.original_length
        if self._pos >= total:
            return b""
        if size is None or size < 0:
            size = total - self._pos
        out = bytearray()
        while size > 0 and self._pos < total:
            i = bisect_right(self._addresses, self._pos) - 1
            row = self._map[i]
            data = self._fetch(row.chunk_key)
            off = self._pos - row.address
            take = min(size, row.length - off)
            out += data[off : off + take]
            self._pos += take
            size -= take
        return bytes(out)
