"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical inputs, so the program under test receives only the
generated ``(object_key, data)`` pairs and ``documents`` rows.

The engine's small-file chunking profile cuts almost every chunk at the
16 KiB maximum rather than at a content boundary, so duplication is
planted *aligned to the object's start*: exact copies of an earlier
object, and "versions" that keep a long prefix of an earlier object (a
whole number of 16 KiB blocks) and append a fresh tail. Unaligned
duplication would dedup nothing and would measure nothing.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK = 16 * 1024  # SMALL_FILE_PROFILE max chunk size
PREFIXES = ("alpha", "bravo", "charlie", "delta")


@dataclass(frozen=True)
class Corpus:
    """Generated objects plus the duplication that was planted in them."""

    keys: list[str]
    data: list[bytes]
    dup_bytes: int  # bytes copied from an earlier object (exact or prefix)

    @property
    def total_bytes(self) -> int:
        return sum(len(d) for d in self.data)


def object_key(prefix: str, i: int) -> str:
    return f"{prefix}/d{i % 7}/obj-{i:06d}"


def corpus(
    rng: np.random.Generator,
    n: int | None,
    min_size: int,
    max_size: int,
    copy_share: float,
    version_share: float,
    start: int = 0,
    pool: list[bytes] | None = None,
    target_bytes: int = 0,
) -> Corpus:
    """``n`` objects (or, with ``n=None``, exactly ``target_bytes`` of
    objects) with log-uniform sizes in ``[min_size, max_size]``.

    With probability ``copy_share`` an object is an exact copy of an
    earlier one (from this corpus or ``pool``); with ``version_share`` it
    keeps an aligned prefix of an earlier one and adds a fresh tail;
    otherwise it is unique random bytes. Keys are numbered from ``start``
    and spread over :data:`PREFIXES` so prefix listing has work to do.
    Every body is appended to ``pool`` (when given), so later corpora can
    copy from earlier ones.
    """
    earlier = pool if pool is not None else []
    keys: list[str] = []
    data: list[bytes] = []
    dup = 0
    lo, hi = np.log(min_size), np.log(max_size)
    total = 0
    j = 0
    while (j < n) if n is not None else (total < target_bytes):
        i = start + j
        j += 1
        size = int(np.exp(rng.uniform(lo, hi)))
        roll = rng.random()
        if earlier and roll < copy_share:
            body = earlier[int(rng.integers(len(earlier)))]
            shared = len(body)
        elif earlier and roll < copy_share + version_share:
            base = earlier[int(rng.integers(len(earlier)))]
            blocks = len(base) // BLOCK
            shared = BLOCK * int(rng.integers(1, blocks + 1)) if blocks else 0
            body = base[:shared] + rng.bytes(max(BLOCK, size - shared))
        else:
            body = rng.bytes(size)
            shared = 0
        if n is None and total + len(body) > target_bytes:
            # the last object is cut so a batch holds exactly target_bytes
            body = body[: target_bytes - total]
        dup += min(shared, len(body))
        keys.append(object_key(PREFIXES[i % len(PREFIXES)], i))
        data.append(body)
        earlier.append(body)
        total += len(body)
    return Corpus(keys, data, dup)


def zipf_index(rng: np.random.Generator, n: int, a: float = 1.2) -> int:
    """Index in ``[0, n)`` with Zipf-skewed popularity (rank 0 hottest)."""
    while True:
        r = int(rng.zipf(a))
        if r <= n:
            return r - 1


_WORDS = (
    "spark batch stream table column row key value hash sort merge join "
    "scan filter group agg window order part line data query vector fast "
    "slow big small a the customer chunk store index"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.03, near_share: float = 0.06):
    """A ``documents`` table in the schema the registered queries read:
    ``doc_id, text, lang, source, n_chars``. Short word-salad texts from a small
    vocabulary, with planted exact duplicates and near-duplicates (one
    or two words substituted) for the dedupe queries to find."""
    texts: list[str] = []
    for _ in range(n):
        roll = rng.random()
        if texts and roll < dup_share:
            text = texts[int(rng.integers(len(texts)))]
        elif texts and roll < dup_share + near_share:
            words = texts[int(rng.integers(len(texts)))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
            text = " ".join(words)
        else:
            k = int(rng.integers(8, 90))
            text = " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k))
        texts.append(text)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }
