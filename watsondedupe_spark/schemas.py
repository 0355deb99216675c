"""Explicit StructTypes for the dedupe index tables — no schema inference.

Spark mapping of the reference's four fixed schemas plus the chunk store
(SURVEY.md §1.4; reference declarations at
src/DedupeLibrary/DedupeObject.cs:12-49, DedupeChunk.cs:11-41,
DedupeObjectMap.cs:11-48, DedupeConfig.cs:11-36). The file-per-chunk BLOB
callbacks (DedupeCallbacks.cs:15-58) become a columnar ``chunk_store``
table.

``objects.id`` is an explicit ingest-order sequence (keyset pagination
needs a stable monotone id; ``monotonically_increasing_id`` is not stable
across jobs — SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ref: dedupeobject (DedupeObject.cs:12-49)
OBJECTS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("object_key", StringType(), False),
        StructField("original_length", LongType(), False),
        # sum of the object's chunk lengths, NOT a compressed size —
        # reference quirk preserved (DedupeLibrary.cs:233, SURVEY.md §1.2)
        StructField("comp_length", LongType(), False),
        StructField("chunk_count", LongType(), False),
        StructField("created_utc", TimestampType(), False),
    ]
)

# ref: dedupechunk (DedupeChunk.cs:11-41); payload lives in chunk_store
CHUNKS_SCHEMA = StructType(
    [
        StructField("chunk_key", StringType(), False),
        StructField("length", IntegerType(), False),
        StructField("ref_count", LongType(), False),
    ]
)

# ref: dedupeobjmap (DedupeObjectMap.cs:11-48)
OBJECT_MAP_SCHEMA = StructType(
    [
        StructField("object_key", StringType(), False),
        StructField("chunk_key", StringType(), False),
        StructField("length", IntegerType(), False),
        StructField("position", IntegerType(), False),
        StructField("address", LongType(), False),
    ]
)

# replaces the WriteChunk/ReadChunk/DeleteChunk callbacks
CHUNK_STORE_SCHEMA = StructType(
    [
        StructField("chunk_key", StringType(), False),
        StructField("data", BinaryType(), False),
    ]
)

# ref: dedupeconfig (DedupeConfig.cs:11-36) — chunking params, immutable
CONFIG_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("value", StringType(), False),
    ]
)

# consistency-point ledger (no reference analogue): one row per
# completed composite op, published in the op's own catalog flip —
# the four table versions form a true cross-table cut, which is what
# makes point-in-time clone/restore possible on independently-versioned
# tables (engine._checkpoint_entry / engine.clone(at=...))
CHECKPOINTS_SCHEMA = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("op", StringType(), False),
        StructField("objects_v", LongType(), False),
        StructField("object_map_v", LongType(), False),
        StructField("chunks_v", LongType(), False),
        StructField("chunk_store_v", LongType(), False),
        StructField("created_utc", TimestampType(), False),
    ]
)

TABLE_SCHEMAS = {
    "objects": OBJECTS_SCHEMA,
    "chunks": CHUNKS_SCHEMA,
    "object_map": OBJECT_MAP_SCHEMA,
    "chunk_store": CHUNK_STORE_SCHEMA,
    "config": CONFIG_SCHEMA,
    "checkpoints": CHECKPOINTS_SCHEMA,
}
