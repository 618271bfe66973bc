"""Document-dedup pipeline: exact dedup, MinHash/LSH, n-gram Jaccard,
SimHash — small crafted corpora with hand-checkable expectations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ncagg_spark.pipeline.dedup import (
    exact_dedup,
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard,
    simhash_near_duplicates,
    simhash_signatures,
)


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "  the quick   brown fox jumps over the lazy dog again and again today "),  # ws-normalized dup
        (4, base.replace("lazy", "sleepy")),  # near dup
        (5, "completely different text about spark dataframes and parquet files here"),
        (6, "short doc"),  # fewer tokens than shingle_n
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_groups(docs):
    out = {r["keep_id"]: r["n_dups"] for r in exact_duplicates(docs).collect()}
    assert out[1] == 3  # docs 1,2,3 share a fingerprint
    assert out[4] == 1 and out[5] == 1 and out[6] == 1


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [1, 4, 5, 6]


def test_minhash_identical_docs_identical_sigs(docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert sigs[1] != sigs[5]
    assert len(sigs[1]) == 16
    # doc shorter than shingle_n: all-null signature, not a crash
    assert sigs[6] == [None] * 16


def test_lsh_finds_exact_and_near_dups(docs):
    sigs = minhash_signatures(docs)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(sigs).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    # near-dup shares most shingles -> should collide in >=1 of 4 bands
    assert (1, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_ngram_jaccard_values(spark, docs):
    pairs = spark.createDataFrame(
        [(1, 2), (1, 4), (1, 5)], "id_a long, id_b long"
    )
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, pairs).collect()
    }
    assert j[(1, 2)] == pytest.approx(1.0)
    assert 0.0 < j[(1, 4)] < 1.0
    assert j[(1, 5)] == pytest.approx(0.0)


def test_simhash_dup_invariance_and_spread(docs):
    s = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert s[1] == s[2] == s[3]
    assert s[1] != s[5]
    assert all(0 <= v < (1 << 32) for v in s.values())


def test_simhash_near_duplicates(docs):
    sigs = simhash_signatures(docs)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(sigs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0
    assert not any(5 in p for p in pairs)


def test_simhash_capped_keeps_every_pair_within_the_cap(spark):
    """``max_block_bucket`` drops every (combination, key) bucket larger
    than the cap. A boilerplate cluster of 12 signatures shares blocks
    0-4 (bits 0-19), so combination (0, 1, 2, 3, 4) holds one 12-member
    bucket, which the cap of 4 drops: a pair whose only clean
    combination is that one (one differing bit in each of blocks 5, 6
    and 7) is lost, while a pair that also meets in a bucket within the
    cap is kept. The capped pairs are exactly those of a quadratic scan
    over the buckets within the cap, each emitted once, and every one is
    an uncapped pair with the same distance."""
    import random
    from collections import defaultdict
    from itertools import combinations

    block_bits, max_hamming, cap = 4, 3, 4
    rng = random.Random(887)
    base = rng.getrandbits(32)
    cluster = [
        base,
        base ^ (1 << 20),  # d=1 (block 5): also meets in small buckets
        base ^ (1 << 20) ^ (1 << 24) ^ (1 << 28),  # d=3, blocks 5-7: lost
    ]
    while len(cluster) < 12:  # filler: differs from base in blocks 5-7
        hi = [rng.randrange(16) for _ in range(3)]
        if all(h != (base >> (20 + 4 * i)) & 0xF for i, h in enumerate(hi)):
            cluster.append(
                (base & 0xFFFFF) | hi[0] << 20 | hi[1] << 24 | hi[2] << 28
            )
    other = rng.getrandbits(32)
    sigs = cluster + [other, other ^ 0b101] + [
        rng.getrandbits(32) for _ in range(40)
    ]
    rows = list(enumerate(sigs))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")

    def blocks(sig):
        return [(sig >> (i * block_bits)) & 0xF for i in range(8)]

    buckets = defaultdict(list)
    for doc, sig in rows:
        b = blocks(sig)
        for cid, combo in enumerate(combinations(range(8), 8 - max_hamming)):
            buckets[(cid, tuple(b[i] for i in combo))].append(doc)
    assert max(len(m) for m in buckets.values()) > cap  # truncation is live
    within = {
        (a, b)
        for m in buckets.values()
        if 2 <= len(m) <= cap
        for a, b in combinations(sorted(m), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_hamming
    }

    capped = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_duplicates(
            df, max_hamming=max_hamming, max_block_bucket=cap
        ).collect()
    ]
    uncapped = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(df, max_hamming=max_hamming).collect()
    }
    pairs = [(a, b) for a, b, _ in capped]
    assert len(pairs) == len(set(pairs))  # each pair emitted once
    assert set(pairs) == within
    assert all(uncapped.get((a, b)) == h for a, b, h in capped)
    assert (0, 1) in within and (0, 2) in uncapped and (0, 2) not in within
    assert (12, 13) in within


def test_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert exact_duplicates(empty).count() == 0
    assert minhash_signatures(empty).count() == 0
    assert simhash_signatures(empty).count() == 0


# ---------------------------------------------------------------------------
# Cap-pressure semantics (VERDICT r8 #6 / ADVICE r8): the r8
# first-colliding-band rewrite changed drop semantics when a bucket
# exceeds max_bucket_size, and no measured dataset overflows the cap —
# this fixture does, deliberately. Band layout (num_bands=2,
# rows_per_band=2, cap=4):
#   * docs 0..11 share sig[0:2] -> one 12-member band-0 bucket, 3x over
#     the cap -> DROPPED. Docs 0,1 additionally share sig[2:4] (band-1
#     bucket of 2, kept).
#   * docs 20,21 share ONLY sig[2:4] (band 1, kept); their band-0
#     slices are unique (not in the boilerplate bucket).
#   * docs 100,101 share sig[0:2] in their own 2-member band-0 bucket
#     (kept).
# Ground truth (pairs reachable through ANY kept bucket — exactly what
# the pre-r8 "any kept band" rule emits): (0,1), (20,21), (100,101).
# ---------------------------------------------------------------------------


@pytest.fixture()
def cap_sigs(spark):
    rows = []
    for d in range(12):  # boilerplate: shared band-0 slice
        tail = [70 + 2 * d, 71 + 2 * d]  # unique band-1 slices...
        if d in (0, 1):
            tail = [7, 8]  # ...except docs 0,1: shared kept band-1
        rows.append((d, [1, 2] + tail))
    rows.append((20, [200, 201, 9, 10]))  # band-1-only pair, band 0 unique
    rows.append((21, [210, 211, 9, 10]))
    rows.append((100, [50, 51, 300, 301]))  # kept band-0 control pair
    rows.append((101, [50, 51, 310, 311]))
    return spark.createDataFrame(rows, "doc_id long, sig array<bigint>")


def _old_rule_pairs(rows, num_bands, rows_per_band, cap):
    """The pre-r8 reference semantics, reconstructed independently:
    all pairs from every bucket of size <= cap, distinct."""
    from collections import defaultdict

    buckets = defaultdict(list)
    for doc_id, sig in rows:
        for b in range(num_bands):
            key = (b, tuple(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets[key].append(doc_id)
    out = set()
    for members in buckets.values():
        if 2 <= len(members) <= cap:
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b in ms[i + 1 :]:
                    out.add((a, b))
    return out


def test_lsh_cap_pressure_semantics(spark, cap_sigs):
    kw = dict(num_bands=2, rows_per_band=2, max_bucket_size=4, n_salts=2)
    truth = _old_rule_pairs(
        [(r["doc_id"], r["sig"]) for r in cap_sigs.collect()], 2, 2, 4
    )
    assert truth == {(0, 1), (20, 21), (100, 101)}

    got_default = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(cap_sigs, **kw).collect()
    }
    # documented r8 tightening: (0,1)'s FIRST colliding band (band 0)
    # is the dropped boilerplate bucket -> suppressed even though their
    # band-1 bucket is kept; pairs whose first kept collision is their
    # first collision are unaffected. Measured recall on this
    # deliberately adversarial fixture: 2/3 vs the old rule's 3/3.
    assert got_default == {(20, 21), (100, 101)}
    assert len(got_default) / len(truth) == pytest.approx(2 / 3)

    got_exact = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            cap_sigs, exact_cap_semantics=True, **kw
        ).collect()
    }
    # exact mode restores the old rule bit-for-bit: recall >= old rule
    assert got_exact == truth


def test_lsh_cap_modes_identical_without_overflow(spark, cap_sigs):
    # raise the cap above the boilerplate bucket: no bucket overflows,
    # so default and exact modes must emit the identical pair set and
    # include the boilerplate pairs
    kw = dict(num_bands=2, rows_per_band=2, max_bucket_size=100, n_salts=2)
    default = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(cap_sigs, **kw).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            cap_sigs, exact_cap_semantics=True, **kw
        ).collect()
    }
    assert default == exact
    assert (0, 1) in default and (0, 11) in default
    truth = _old_rule_pairs(
        [(r["doc_id"], r["sig"]) for r in cap_sigs.collect()], 2, 2, 100
    )
    assert default == truth
