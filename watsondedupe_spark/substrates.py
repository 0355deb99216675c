"""One registry for the substrates the queries share.

A substrate is a value several queries derive from the same corpus
(MinHash signatures, SimHash fingerprints, an ANN index, a corpus row
count, a staged on-disk store) and that is worth building once per
session. Cached DataFrames belong to the SparkSession that built them:
served to a later session they fail with ``Py4JJavaError``. So every
entry is keyed by the application id, the absolute ``sf_dir`` and the
substrate's name, and :func:`clear` drops them all.
"""

from __future__ import annotations

import os

_ENTRIES: dict[tuple[str, str, str], object] = {}


def substrate(spark, sf_dir: str, name: str, build):
    """The ``name`` substrate of ``sf_dir`` in ``spark``'s application:
    ``build()`` on the first call, the cached value after."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    if key not in _ENTRIES:
        _ENTRIES[key] = build()
    return _ENTRIES[key]


def clear() -> None:
    """Forget every substrate (cached DataFrames stay cached in Spark
    until ``spark.catalog.clearCache()``)."""
    _ENTRIES.clear()
