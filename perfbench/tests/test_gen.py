"""The seeded generators: same seed, same bytes; other seed, other bytes;
planted duplication stays aligned to the chunker's block size."""

import numpy as np

import gen


def _corpus(seed: int):
    return gen.corpus(np.random.default_rng(seed), 40, 16 << 10, 256 << 10, 0.1, 0.2)


def test_same_seed_gives_identical_bytes():
    a, b = _corpus(7), _corpus(7)
    assert a.keys == b.keys
    assert a.data == b.data
    assert gen.documents(np.random.default_rng(7), 50) == gen.documents(np.random.default_rng(7), 50)


def test_different_seeds_differ():
    a, b = _corpus(7), _corpus(8)
    assert a.data != b.data
    assert gen.documents(np.random.default_rng(7), 50)["text"] != gen.documents(np.random.default_rng(8), 50)["text"]


def test_target_bytes_is_met_exactly():
    c = gen.corpus(np.random.default_rng(1), None, 16 << 10, 64 << 10, 0.2, 0.2, target_bytes=1 << 20)
    assert c.total_bytes == 1 << 20
    assert 0 < c.dup_bytes < c.total_bytes


def test_planted_duplication_is_block_aligned():
    pool: list[bytes] = []
    c = gen.corpus(np.random.default_rng(3), 200, 16 << 10, 256 << 10, 0.1, 0.3, pool=pool)
    assert 0 < c.dup_bytes < c.total_bytes
    assert len(pool) == 200
    shared = 0
    for i, body in enumerate(c.data):
        for earlier in c.data[:i]:
            n = 0
            while n + gen.BLOCK <= min(len(body), len(earlier)) and body[n:n + gen.BLOCK] == earlier[n:n + gen.BLOCK]:
                n += gen.BLOCK
            if n:
                shared += 1
                break
    assert shared > 0


def test_keys_carry_listing_prefixes():
    c = _corpus(5)
    assert {k.split("/")[0] for k in c.keys} == set(gen.PREFIXES)
    assert len(set(c.keys)) == len(c.keys)


def test_zipf_index_stays_in_range_and_favours_the_front():
    rng = np.random.default_rng(2)
    picks = [gen.zipf_index(rng, 10) for _ in range(2000)]
    assert min(picks) >= 0 and max(picks) < 10
    assert picks.count(0) > picks.count(9)
