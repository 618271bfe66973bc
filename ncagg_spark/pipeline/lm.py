"""N-gram language-model scoring — the CCNet-style "perplexity filter"
stage of a web-scale training-data pipeline (Wenzek et al. 2020,
arXiv:1911.00359: score every document under a reference LM, drop the
worst tail). KenLM is not available (and is row-at-a-time anyway); the
same signal is expressed here as a pure-relational add-alpha-smoothed
word n-gram model:

    lp(g)      = ln( (count(g) + alpha) / (T + alpha * V) )
    backoff    = ln(       alpha        / (T + alpha * V) )   (unseen)
    avg_nll(d) = -(1/m) * sum over the m gram OCCURRENCES of d

Training is one explode -> groupBy count over the reference slice;
scoring is one explode -> hash join on the gram -> one groupBy sum.
Every stage is Catalyst built-ins — no UDFs, whole-stage codegen
end-to-end, and the LM table is O(vocab^n) (small next to the corpus,
so AQE broadcasts the scoring join).

Cross-engine determinism: per-gram log-probs are quantized to integer
micro-nats, ``floor(ln(ratio) * 1e6)`` as BIGINT, so the per-document
sum is an INTEGER sum — exact in any partition order (the repo's
standard quantization trick, see assign_cells). The quantization rests
on ln itself agreeing across engines: Java's Math.log and libm (DuckDB,
CPython) returned bit-identical doubles for every probed integer-ratio
argument on this platform (1,287-point sweep, 0 mismatches); a 1-ulp
divergence would need the result within ~1e-16 relative of a 1e-6 grid
point to flip a floor — ~1e-10 per distinct gram.

Reference parity: the reference engine (5tefan/ncagg) has no text
scoring; beyond-reference capability per the training-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ncagg_spark import tuning
from ncagg_spark.pipeline.text import (
    sql_tokenize,
    sql_word_ngrams,
    tokenize,
    word_ngrams,
)

MICRO = 1_000_000.0


def _grams(text_col: Column | str, n: int) -> Column:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize(col)
    if n == 1:
        return toks
    return word_ngrams(toks, n)


def ngram_counts(
    ref: DataFrame, *, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(gram, cnt) occurrence counts over the reference corpus — every
    occurrence counts, not distinct-per-doc (an LM models token
    frequency, unlike the contamination scan's per-doc shingle sets)."""
    return (
        ref.select(F.explode(_grams(text_col, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ngram_lm(
    ref: DataFrame, *, n: int = 2, alpha: float = 1.0, text_col: str = "text"
) -> DataFrame:
    """Train the smoothed LM: (gram, lp_micro) plus the model constants
    (total ``t``, vocab ``v``, ``backoff_micro``) replicated on every row
    via a one-row broadcast cross-join — keeping the whole model a single
    DataFrame keeps training/scoring oracle-replicable with no
    driver-side floats.
    """
    counts = ngram_counts(ref, n=n, text_col=text_col)
    a = float(alpha)
    denom = F.col("t") + F.lit(a) * F.col("v")
    # `counts` feeds BOTH the totals broadcast and the main select, and
    # every scoring consumer uses the returned model at least twice (the
    # gram join AND the backoff-constant agg) — without materialization
    # the reference corpus was scanned 4x per score call (r15, measured
    # in the executed plan). Persist the gram-count table (O(vocab^n),
    # bounded by the vocabulary, not the corpus) for the one eager
    # checkpoint below, which then serves every consumer; identical
    # values (materialization does not change arithmetic), and the
    # checkpointed RDD is released by the context cleaner on GC.
    with tuning.materialized(counts) as counts:
        totals = counts.agg(
            F.sum("cnt").cast("double").alias("t"),
            F.count(F.lit(1)).cast("double").alias("v"),
        )
        return (
            counts.crossJoin(F.broadcast(totals))
            .select(
                "gram",
                F.floor(
                    F.log((F.col("cnt").cast("double") + F.lit(a)) / denom)
                    * F.lit(MICRO)
                )
                .cast("long")
                .alias("lp_micro"),
                F.floor(F.log(F.lit(a) / denom) * F.lit(MICRO))
                .cast("long")
                .alias("backoff_micro"),
            )
        ).localCheckpoint(eager=True)


def lm_score(
    docs: DataFrame,
    lm: DataFrame,
    *,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Score every document: (id, n_grams, avg_nll) where avg_nll is the
    mean negative log-prob in nats over the doc's gram occurrences —
    computed as a half-up INTEGER division in micro-nats, then divided
    by 1e6 (no engine round(); see the inline comment). Documents with
    fewer than ``n`` tokens have no grams and are absent (an LM score
    over zero events is undefined; filter-stage callers treat absence
    as "no evidence", not "bad").

    The join is a plain equi-join on the gram string with an EXPLICIT
    broadcast of the LM side: the model is O(vocab^n) — bounded by the
    vocabulary, not the corpus — but left to AQE the join planned as a
    sort-merge at sf10 (measured r12: 68k-row model, SMJ kept), which
    costs a full corpus-side exchange on the gram. Broadcasting pins
    the plan at any SF and deletes that shuffle; the groupBy sums
    integer micro-nats (exact, order-free). A model that outgrows the
    broadcast limit (high n over a huge vocabulary) would turn the
    forced broadcast into a hard failure, so ``broadcast_model=False``
    opts back into the plain equi-join and lets AQE pick the strategy
    (graceful sort-merge fallback) — ADVICE r12.
    """
    occ = docs.select(
        F.col(id_col), F.explode(_grams(text_col, n)).alias("gram")
    )
    model = F.broadcast(lm) if broadcast_model else lm
    scored = (
        occ.join(model, on="gram", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lp_micro").alias("hit_sum"),
            F.count("lp_micro").alias("hit_n"),
        )
    )
    # unseen grams take the backoff constant; pull it from the model via
    # a one-row broadcast (all rows carry the same value by construction)
    bk = lm.agg(F.min("backoff_micro").alias("backoff_micro"))
    # The mean stays in INTEGER micro-nats end-to-end: half-up division
    # (2*S + m) div (2*m) instead of round(S/(1e6*m), 6). An engine
    # round() of the true ratio sits on an exact half whenever
    # S mod m == m/2 — and Spark (BigDecimal of the shortest decimal
    # rendering) and DuckDB (scaled nearbyint of the binary double)
    # resolve those halves DIFFERENTLY often enough to flip ~19 of 50k
    # docs at sf1.0. Integer division has no such boundary; the final
    # /1e6 of the same BIGINT is bit-identical in any engine.
    neg = -(
        F.coalesce(F.col("hit_sum"), F.lit(0))
        + (F.col("n_grams") - F.col("hit_n")) * F.col("backoff_micro")
    )
    return (
        scored.crossJoin(F.broadcast(bk))
        .withColumn("__neg", neg)
        .select(
            id_col,
            "n_grams",
            (
                F.expr(
                    "(2 * __neg + n_grams) div (2 * n_grams)"
                ).cast("double")
                / F.lit(MICRO)
            ).alias("avg_nll"),
        )
    )


# --- DuckDB oracle fragments (string SQL twins of the expressions above)


def sql_ngram_lm_ctes(
    *, n: int = 2, alpha: float = 1.0, ref_where: str = "TRUE"
) -> str:
    """CTE text: ``lm(gram, lp_micro, backoff_micro)`` over documents
    rows matching ``ref_where`` — the exact SQL twin of ``ngram_lm``."""
    grams = (
        sql_tokenize("text")
        if n == 1
        else sql_word_ngrams(sql_tokenize("text"), n)
    )
    a = repr(float(alpha))
    return f"""
        occ AS (
            SELECT unnest({grams}) AS gram
            FROM documents WHERE {ref_where}
        ),
        cnts AS (
            SELECT gram, count(*)::BIGINT AS cnt FROM occ GROUP BY gram
        ),
        tot AS (
            SELECT sum(cnt)::DOUBLE AS t, count(*)::DOUBLE AS v FROM cnts
        ),
        lm AS (
            SELECT gram,
                   CAST(floor(ln((cnt::DOUBLE + {a}) / (t + {a} * v))
                        * 1000000.0) AS BIGINT) AS lp_micro,
                   CAST(floor(ln({a} / (t + {a} * v))
                        * 1000000.0) AS BIGINT) AS backoff_micro
            FROM cnts CROSS JOIN tot
        )"""


def sql_lm_score(*, n: int = 2, id_expr: str = "doc_id") -> str:
    """SELECT text scoring every document against the ``lm`` CTE —
    the exact SQL twin of ``lm_score`` (requires sql_ngram_lm_ctes in
    the WITH list)."""
    grams = sql_word_ngrams(sql_tokenize("text"), n) if n > 1 else sql_tokenize("text")
    # half-up INTEGER division in micro-nats (see lm_score: engine
    # round() resolves exact halves differently across engines)
    neg = (
        "(-(coalesce(sum(lm.lp_micro), 0) "
        "+ (count(*) - count(lm.lp_micro)) "
        "* (SELECT min(backoff_micro) FROM lm)))"
    )
    return f"""
        SELECT {id_expr},
               count(*)::BIGINT AS n_grams,
               ((2 * {neg} + count(*)) // (2 * count(*)))::DOUBLE
                   / 1000000.0 AS avg_nll
        FROM (SELECT doc_id, unnest({grams}) AS gram FROM documents) d
        LEFT JOIN lm ON lm.gram = d.gram
        GROUP BY {id_expr}"""
