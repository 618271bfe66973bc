"""One-call corpus cleaning: the composed LLM-training-data pipeline.

``clean_corpus`` chains the engine's primitives in the order a real
pretraining pipeline runs them:

    1. quality gate        (quality_score >= min_quality, plus the
                            published repetition filters when
                            ``max_dup_line_frac``/``max_dup_5gram_frac``
                            are set — cheap expression-only gates first)
    2. exact dedup         (md5 groupBy, keep min id)
    3. near dedup          (MinHash -> LSH candidates -> n-gram Jaccard
                            verify -> connected components -> keep one
                            representative per cluster)
    4. LM fluency gate     (CCNet-style: score survivors under an
                            n-gram LM trained on ``lm_reference``, keep
                            avg_nll <= max_avg_nll; optional)
    5. decontamination     (drop docs covering >= max_bench_frac of any
                            benchmark doc's n-grams; optional)

Everything is a DataFrame composition — one logical plan per stage, no
driver-side loops over data (the CC label propagation iterates over
jobs, not rows). Each stage's input is the previous stage's survivors,
so the expensive signature work runs only on docs that passed the
cheap gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ncagg_spark.pipeline.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    near_dedup,
    ngram_jaccard,
)
from ncagg_spark.pipeline.text import (
    benchmark_overlap,
    duplicate_line_fraction,
    duplicated_ngram_fraction,
    quality_score,
)


def clean_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.0,
    jaccard_threshold: float = 0.8,
    shingle_n: int = 3,
    num_perm: int = 16,
    num_bands: int = 4,
    rows_per_band: int = 4,
    benchmark: DataFrame | None = None,
    bench_id_col: str = "bench_id",
    max_bench_frac: float = 0.5,
    bench_ngram_n: int = 8,
    max_dup_line_frac: float | None = None,
    max_dup_5gram_frac: float | None = None,
    max_shared_span: int | None = None,
    span_k: int = 8,
    lm_reference: DataFrame | None = None,
    max_avg_nll: float | None = None,
    lm_n: int = 2,
    cc_num_partitions: int | None = None,
    keep_cached: bool = False,
) -> DataFrame:
    """Run the full cleaning chain; returns surviving rows of ``docs``
    (original columns plus ``n_members``, the near-dup cluster size each
    survivor represents).

    ``keep_cached=True`` (r16, VERDICT r15 #3) returns
    ``(survivors, cached)`` instead: the gate+exact-dedup subtree stays
    persisted so the survivors plan reads the cache instead of
    re-deriving the quality gate at action time (~a full corpus gate
    recompute saved per action at scale). The CALLER owns the handle
    and must ``cached.unpersist()`` once its action has run — the
    one-shot query path materializes the small (id, n_members) result
    eagerly and releases the handle in the same invocation, so nothing
    persists across invocations. The default keeps the r11 hygiene
    behavior (unpersist before return; the final lazy plan recomputes
    the gate subtree exactly once at action time).
    """
    kept = docs
    if min_quality > 0.0:
        kept = kept.filter(
            quality_score(F.col(text_col)) >= F.lit(min_quality)
        )
    if max_dup_line_frac is not None:
        kept = kept.filter(
            duplicate_line_fraction(F.col(text_col))
            <= F.lit(max_dup_line_frac)
        )
    if max_dup_5gram_frac is not None:
        kept = kept.filter(
            duplicated_ngram_fraction(F.col(text_col), 5)
            <= F.lit(max_dup_5gram_frac)
        )
    kept = exact_dedup(kept, text_col=text_col, id_col=id_col)
    # the near-dedup stage consumes `kept` several times (signatures,
    # both sides of the Jaccard verify, the survivor anti-join) —
    # materialize the quality-gate + exact-dedup subtree once instead of
    # recomputing its scan and shuffle per consumer, WITH the distinct
    # shingle set attached (round 11, VERDICT r10 #6): the tokenize/
    # ngram pass — the CPU-heavy step — runs once per doc at cache fill
    # and is shared by the MinHash signatures and the Jaccard verify
    # (previously each re-derived it from text). The handle is
    # unpersisted below once every eager consumer (the CC loop and the
    # checkpointed drop sets) has run, so repeated clean_corpus calls in
    # one session don't accumulate pinned storage; the final lazy plan
    # then recomputes the gate subtree exactly once at action time.
    # Under keep_cached=True the cache outlives this call: the caller
    # owns the returned handle.
    from ncagg_spark.pipeline.text import tokenize, word_ngrams

    kept = kept.withColumn(
        "__sh",
        F.array_distinct(word_ngrams(tokenize(text_col), shingle_n)),
    )
    cached = kept = kept.persist()

    sigs = minhash_signatures(
        kept, text_col=text_col, id_col=id_col,
        shingle_n=shingle_n, num_perm=num_perm, shingles_col="__sh",
    )
    cands = minhash_lsh_candidates(
        sigs, id_col=id_col,
        num_bands=num_bands, rows_per_band=rows_per_band,
        num_perm=num_perm,
    )
    verified = ngram_jaccard(
        kept, cands, text_col=text_col, id_col=id_col,
        shingle_n=shingle_n, shingles_col="__sh",
    ).filter(F.col("jaccard") >= F.lit(jaccard_threshold)).select(
        "id_a", "id_b"
    )
    # cc_num_partitions sizes the per-round CC shuffles to the PAIR
    # GRAPH (orders of magnitude smaller than the corpus); callers at
    # cluster scale pass ~|edges| / target_task_rows
    # verified pairs are unique by construction (LSH candidates emit
    # each pair once; the Jaccard verify is one row per pair) — skip
    # the CC edge-dedup shuffle
    kept = near_dedup(
        kept, verified, id_col=id_col,
        num_partitions=cc_num_partitions, unique_pairs=True,
    )

    if max_shared_span is not None:
        # span-level (substring) gate: document-level dedup keeps docs
        # that are globally distinct but share a long verbatim passage
        # (boilerplate, quoted articles); drop the HIGHER id of any pair
        # sharing a span of >= max_shared_span tokens — same keep-min-id
        # convention as near_dedup
        from ncagg_spark.pipeline.spans import duplicate_spans

        long_pairs = duplicate_spans(
            kept, k=span_k, id_col=id_col, text_col=text_col
        ).filter(F.col("length") >= F.lit(max_shared_span))
        # materialize the (small, id-level) drop set while the gate
        # subtree is still cached — the returned plan then reads the
        # checkpointed ids instead of re-deriving spans from `kept`
        drop = long_pairs.select(
            F.col("id_b").alias(id_col)
        ).distinct().localCheckpoint(eager=True)
        kept = kept.join(drop, on=id_col, how="left_anti")

    if lm_reference is not None and max_avg_nll is not None:
        # CCNet fluency cut on the dedup survivors (running it after
        # dedup scores each retained doc once, never its duplicates);
        # gram-less docs drop (no evidence -> not kept), CCNet's length
        # floor
        from ncagg_spark.pipeline.lm import lm_score, ngram_lm

        lm = ngram_lm(lm_reference, n=lm_n, text_col=text_col)
        fluent = (
            lm_score(kept, lm, n=lm_n, id_col=id_col, text_col=text_col)
            .filter(F.col("avg_nll") <= F.lit(float(max_avg_nll)))
            .select(id_col)
        )
        kept = kept.join(fluent, on=id_col, how="inner")

    if benchmark is not None:
        contaminated = (
            benchmark_overlap(
                kept,
                benchmark,
                n=bench_ngram_n,
                id_col=id_col,
                text_col=text_col,
                bench_id_col=bench_id_col,
            )
            .filter(F.col("bench_frac") >= F.lit(max_bench_frac))
            .select(id_col)
            .distinct()
            .localCheckpoint(eager=True)  # small id set; see span gate
        )
        kept = kept.join(contaminated, on=id_col, how="left_anti")
    if keep_cached:
        # caller-owned handle: the returned plan still references the
        # persisted gate subtree, so the action reads the cache
        return kept.drop("__sh"), cached
    # every eager consumer of the cached subtree has run (the CC loop
    # inside near_dedup and the checkpointed drop sets above); release
    # the storage so back-to-back clean_corpus calls stay bounded
    cached.unpersist()
    return kept.drop("__sh")
