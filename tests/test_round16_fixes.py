"""Round-16 pins (optimization round 2 of 2):

1. bm25 single-tokenize restructure (VERDICT r15 #2): the r16 narrow
   (one corpus pass) form returns exactly the rows of the r15
   three-subtree form, reconstructed inline here as the spec.
2. ``clean_corpus(keep_cached=True)`` (VERDICT r15 #3) returns the same
   survivors as the default hygiene path, plus the cache handle.
3. The simhash combination-scheme candidates return exactly the
   quadratic-scan pair set.

The CC driver-gate seam pins live in test_sessionize_cc.py, the
gap-fill checkpoint pin in test_tuning.py and the packing checkpoint
pin in test_packing.py.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from ncagg_spark.pipeline.corpus import clean_corpus  # noqa: E402
from ncagg_spark.pipeline.search import bm25_topk  # noqa: E402
from ncagg_spark.pipeline.text import token_count, tokenize  # noqa: E402
from ncagg_spark.pipeline.topk import bounded_topk  # noqa: E402


def _bm25_topk_r15_spec(docs, terms, *, k, k1=1.2, b=0.75):
    """The r15 three-subtree form, verbatim, as the equivalence spec."""
    MICRO = 1_000_000.0
    base = docs.select(
        F.col("doc_id"),
        token_count("text").cast("double").alias("dl"),
        F.explode(tokenize("text")).alias("tok"),
    ).filter(F.col("tok").isin(sorted(set(terms))))
    tf = base.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    consts = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(token_count("text")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_part = (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    contrib = (
        tf.join(F.broadcast(dfreq), on="tok")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.floor(idf * tf_part * F.lit(MICRO)).cast("long").alias("c_micro"),
        )
    )
    scores = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.sum("c_micro").cast("double") / F.lit(MICRO)).alias("score"),
    )
    return bounded_topk(
        scores,
        [F.col("score").desc(), F.col("doc_id").asc()],
        k,
        id_col="doc_id",
    ).select("doc_id", "n_terms", "score", "rank")


def test_bm25_narrow_equals_r15_form(spark):
    rows = []
    words = ["data", "spark", "corpus", "filter", "index", "query"]
    for i in range(40):
        toks = [words[(i + j) % len(words)] for j in range(3 + i % 7)]
        if i % 5 == 0:
            toks += ["spark", "spark"]
        if i % 9 == 0:
            toks = []  # empty text
        rows.append((i, " ".join(toks)))
    rows.append((99, None))  # NULL text
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "index"]
    got = bm25_topk(docs, terms, k=8).collect()
    want = _bm25_topk_r15_spec(docs, terms, k=8).collect()
    key = lambda r: (r.rank, r.doc_id)  # noqa: E731
    assert sorted(map(tuple, sorted(got, key=key))) == sorted(
        map(tuple, sorted(want, key=key))
    )
    assert len(got) == 8


def test_clean_corpus_keep_cached_same_survivors(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "a completely different document about spark optimization"),
        (4, "a completely different document about spark optimisation"),
        (5, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = clean_corpus(docs, jaccard_threshold=0.5)
    kept, cached = clean_corpus(docs, jaccard_threshold=0.5, keep_cached=True)
    got = sorted((r.doc_id, r.n_members) for r in kept.collect())
    cached.unpersist()
    want = sorted((r.doc_id, r.n_members) for r in base.collect())
    assert got == want


# ---------------------------------------------------------------------------
# r16: simhash combination-scheme candidates (block_bits=4, k=5) must
# return EXACTLY the quadratic-scan pair set — and exactly what the
# degenerate r15 scheme (block_bits=8, k=1) returns. The fixture is
# adversarial for the pigeonhole: errors concentrated in one block,
# spread 1-per-block across 4 blocks (defeats any single-combo scheme
# that skips a table), identical-signature clusters, and just-over-the-
# threshold distances that a sloppy key would still bucket together.
def test_simhash_combination_scheme_parity(spark):
    import random

    from ncagg_spark.pipeline.dedup import simhash_near_duplicates

    rng = random.Random(416)
    base = rng.getrandbits(32)

    def flip(sig, *bits):
        for b in bits:
            sig ^= 1 << b
        return sig & 0xFFFFFFFF

    sigs = [
        base,                          # identical cluster (d=0)
        base,
        flip(base, 7),                 # d=1, inside block 1
        flip(base, 0, 1, 2),           # d=3, all in block 0
        flip(base, 3, 11, 19),         # d=3, one bit in 3 blocks
        flip(base, 0, 8, 16, 24),      # d=4 spread 1-per-byte-block: OUT
        flip(base, 28, 29, 30, 31),    # d=4 concentrated: OUT
    ] + [rng.getrandbits(32) for _ in range(60)]
    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")

    def popcount(x):
        return bin(x).count("1")

    expected = {
        (a, b)
        for i, (a, sa) in enumerate(rows)
        for b, sb in rows[i + 1 :]
        if popcount(sa ^ sb) <= 3
    }
    got_new = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(df, max_hamming=3).collect()
    }
    got_old = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(
            df, max_hamming=3, block_bits=8
        ).collect()
    }
    assert got_new == expected
    assert got_old == expected
    # the adversarial cases actually exercise both sides of the gate
    assert (0, 1) in expected and (0, 3) in expected and (0, 4) in expected
    assert (0, 5) not in expected and (0, 6) not in expected
