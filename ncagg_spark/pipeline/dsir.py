"""Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
arXiv:2302.03169 — public paper): pick raw-corpus documents whose hashed
n-gram distribution looks like a target domain.

    bucket(g)   = portable_hash64(salt || g) mod B      (hashed n-grams)
    lr(b)       = ln p_target(b) - ln p_raw(b)          (add-alpha)
    weight(d)   = sum over d's gram occurrences of lr(bucket)
    sample      = top-k by weight + Gumbel noise        (importance
                  resampling without replacement, Gumbel top-k trick)

Everything is relational (explode -> join on bucket -> integer sums) and
cross-engine exact:

- buckets use the repo's portable md5 hash (functions/hashing.py) so
  Spark and DuckDB agree bucket-for-bucket;
- per-bucket log-ratios are quantized to integer micro-nats
  (floor(ln(...)*1e6) BIGINT), so per-doc weights are INTEGER sums —
  exact in any partition order (ln bit-parity probed in pipeline/lm.py);
- the Gumbel noise is DETERMINISTIC: u = (hash64(salt||id) mod 2^53 +
  0.5) / 2^53, g = -ln(-ln(u)), quantized to micro-nats — the resample
  is reproducible and the ranking key (w_micro + g_micro) is an integer,
  so rank order is identical in any engine. Sampling WITHOUT a fresh
  random source is the repo-wide convention (pipeline/sampling.py).

Scale shape: the log-ratio table is exactly B rows (buckets, a few
thousand) — broadcast; training is two explode->groupBy counts; scoring
is one explode, one broadcast join, one groupBy. No UDFs anywhere.

Reference parity: the reference engine has no data-selection surface;
beyond-reference capability per the training-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ncagg_spark import tuning
from ncagg_spark.functions.hashing import hash64, sql_hash64
from ncagg_spark.pipeline.text import (
    sql_tokenize,
    sql_word_ngrams,
    tokenize,
    word_ngrams,
)

MICRO = 1_000_000.0
_U_MOD = 1 << 53  # 53-bit uniform grid: exact as double


def _grams(text_col: Column | str, n: int) -> Column:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize(col)
    return toks if n == 1 else word_ngrams(toks, n)


def _bucket(gram: Column, buckets: int, salt: str) -> Column:
    return F.pmod(
        hash64(F.concat(F.lit(salt + "|"), gram)), F.lit(int(buckets))
    )


def hashed_ngram_logratios(
    target: DataFrame,
    raw: DataFrame,
    *,
    n: int = 2,
    buckets: int = 512,
    alpha: float = 1.0,
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """Per-bucket importance log-ratios: (bucket, lr_micro,
    backoff_micro). ``backoff_micro`` (identical on every row, the
    one-row-broadcast convention of pipeline/lm.py) is the log-ratio of
    a bucket unseen on BOTH sides — ln((t_total + aB)/(r_total + aB))
    with the counts cancelling to alpha/alpha.
    """
    a = float(alpha)
    b = int(buckets)

    def _occ(df: DataFrame, is_t: int) -> DataFrame:
        return df.select(
            F.lit(is_t).alias("is_t"),
            F.explode(_grams(text_col, n)).alias("gram"),
        ).select(
            "is_t", _bucket(F.col("gram"), b, salt).alias("bucket")
        )

    # ONE tagged pass + ONE groupBy replaces the naive per-side count +
    # full-outer join (3 shuffles -> 1); buckets unseen on a side get 0
    # exactly as the outer join's coalesce did
    joined = (
        _occ(target, 1)
        .unionByName(_occ(raw, 0))
        .groupBy("bucket")
        .agg(
            F.sum("is_t").alias("t_cnt"),
            F.sum(F.lit(1) - F.col("is_t")).alias("r_cnt"),
        )
    )
    ab = F.lit(a * b)
    # ln(p_t/p_r) with both smoothed ratios composed INSIDE one ln call —
    # the exact expression the SQL twin re-renders
    lr = F.log(
        ((F.col("t_cnt").cast("double") + F.lit(a)) / (F.col("tt") + ab))
        / (
            (F.col("r_cnt").cast("double") + F.lit(a))
            / (F.col("tr") + ab)
        )
    )
    backoff = F.log((F.col("tr") + ab) / (F.col("tt") + ab))
    # `joined` (<= B rows) feeds BOTH the totals broadcast and the main
    # select: without a persist the two branches each re-run the
    # corpus-wide explode scans (r15, measured in the executed plan —
    # the documents table was scanned twice per log-ratio evaluation).
    # Persist the tiny bucket table so the corpus is scanned once per
    # side; released once the result is checkpointed.
    with tuning.materialized(joined) as joined:
        totals = joined.agg(
            F.sum("t_cnt").cast("double").alias("tt"),
            F.sum("r_cnt").cast("double").alias("tr"),
        )
        out = joined.crossJoin(F.broadcast(totals)).select(
            "bucket",
            F.floor(lr * F.lit(MICRO)).cast("long").alias("lr_micro"),
            # sign flip: ln(a/(tt+aB) / (a/(tr+aB))) = ln((tr+aB)/(tt+aB))
            F.floor(backoff * F.lit(MICRO)).cast("long").alias(
                "backoff_micro"
            ),
        )
        # materialize the <= B-row ratio table eagerly: every consumer
        # uses it at least twice (dsir_weights joins it AND derives the
        # backoff constant from it) — without this each use re-ran the
        # full two-sided corpus count. Identical values (persist and
        # checkpoint do not change arithmetic); storage is <= buckets
        # rows and the checkpointed RDD is released by the context
        # cleaner on GC.
        return out.localCheckpoint(eager=True)


def dsir_weights(
    docs: DataFrame,
    logratios: DataFrame,
    *,
    n: int = 2,
    buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """(id, n_grams, w_micro, weight): per-doc importance weight — the
    integer micro-nat sum of its gram buckets' log-ratios (unseen
    buckets take the backoff constant). Docs with no grams are absent
    (no evidence), matching pipeline/lm.py's convention."""
    occ = docs.select(
        F.col(id_col), F.explode(_grams(text_col, n)).alias("gram")
    ).select(
        id_col,
        _bucket(F.col("gram"), int(buckets), salt).alias("bucket"),
    )
    scored = (
        occ.join(F.broadcast(logratios), on="bucket", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_micro").alias("hit_sum"),
            F.count("lr_micro").alias("hit_n"),
        )
    )
    bk = logratios.agg(F.min("backoff_micro").alias("backoff_micro"))
    return scored.crossJoin(F.broadcast(bk)).select(
        id_col,
        "n_grams",
        (
            F.coalesce(F.col("hit_sum"), F.lit(0))
            + (F.col("n_grams") - F.col("hit_n"))
            * F.col("backoff_micro")
        ).alias("w_micro"),
    ).withColumn(
        # the same BIGINT / 1e6 is bit-identical in any engine (no
        # round(): it resolves exact decimal halves engine-specifically)
        "weight",
        F.col("w_micro").cast("double") / F.lit(MICRO),
    )


def gumbel_micro(id_col: Column | str, *, salt: str = "gumbel") -> Column:
    """Deterministic Gumbel(0,1) noise in integer micro-nats:
    u = (hash64(salt||id) mod 2^53 + 0.5) / 2^53 (never 0 or 1),
    g = -ln(-ln(u)), floor-quantized. Same id + salt -> same noise in
    any engine."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    u = (
        F.pmod(
            hash64(F.concat(F.lit(salt + "|"), c.cast("string"))),
            F.lit(_U_MOD),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_U_MOD))
    return F.floor(-F.log(-F.log(u)) * F.lit(MICRO)).cast("long")


def dsir_sample(
    docs: DataFrame,
    logratios: DataFrame,
    *,
    k: int,
    n: int = 2,
    buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
    gumbel_salt: str = "gumbel",
) -> DataFrame:
    """Gumbel top-k importance resample: k docs drawn ~ exp(weight)
    without replacement (the Gumbel-max trick), deterministic via hashed
    noise. Returns (id, weight, rank); rank ties break to the lower id.

    Every doc with >= 1 gram is scored — the whole corpus — so the
    ranking uses the bounded two-phase top-k (pipeline/topk.py, VERDICT
    r11 #3): per-hash-bucket top-k in a parallel window, then one tiny
    global window over <= k x n_buckets survivors. The ranking key
    (w_micro + Gumbel micro-nats) is an integer and the id tie-break
    makes the order total, so ranks — and oracle hashes — are identical
    to the single-window form."""
    from ncagg_spark.pipeline.topk import bounded_topk

    w = dsir_weights(
        docs,
        logratios,
        n=n,
        buckets=buckets,
        text_col=text_col,
        id_col=id_col,
        salt=salt,
    )
    keyed = w.withColumn(
        "key_micro",
        F.col("w_micro") + gumbel_micro(id_col, salt=gumbel_salt),
    )
    return bounded_topk(
        keyed,
        [F.col("key_micro").desc(), F.col(id_col).asc()],
        k,
        id_col=id_col,
    ).select(id_col, "weight", "rank")


# --- DuckDB twins ----------------------------------------------------------


def _sql_bucket(gram_expr: str, buckets: int, salt: str) -> str:
    h = sql_hash64(f"'{salt}|' || {gram_expr}")
    # DuckDB % keeps the dividend's sign; the hash is non-negative
    # (60-bit md5 prefix), so plain % equals Spark's pmod here
    return f"({h} % {int(buckets)})"


def sql_dsir_ctes(
    *,
    n: int = 2,
    buckets: int = 512,
    alpha: float = 1.0,
    target_where: str,
    raw_where: str,
    salt: str = "dsir",
) -> str:
    """CTE text ending in ``lr(bucket, lr_micro, backoff_micro)`` — the
    exact SQL twin of ``hashed_ngram_logratios`` over ``documents``."""
    grams = (
        sql_tokenize("text")
        if n == 1
        else sql_word_ngrams(sql_tokenize("text"), n)
    )
    a = repr(float(alpha))
    ab = repr(float(alpha) * int(buckets))
    bexpr = _sql_bucket("g.gram", buckets, salt)
    return f"""
        tocc AS (
            SELECT {bexpr} AS bucket
            FROM (SELECT unnest({grams}) AS gram FROM documents
                  WHERE {target_where}) g
        ),
        rocc AS (
            SELECT {bexpr} AS bucket
            FROM (SELECT unnest({grams}) AS gram FROM documents
                  WHERE {raw_where}) g
        ),
        tc AS (SELECT bucket, count(*)::BIGINT AS t_cnt
               FROM tocc GROUP BY bucket),
        rc AS (SELECT bucket, count(*)::BIGINT AS r_cnt
               FROM rocc GROUP BY bucket),
        jc AS (
            SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
                   coalesce(t_cnt, 0) AS t_cnt,
                   coalesce(r_cnt, 0) AS r_cnt
            FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket
        ),
        tot AS (
            SELECT sum(t_cnt)::DOUBLE AS tt, sum(r_cnt)::DOUBLE AS tr
            FROM jc
        ),
        lr AS (
            SELECT bucket,
                   CAST(floor(ln(
                       ((t_cnt::DOUBLE + {a}) / (tt + {ab}))
                       / ((r_cnt::DOUBLE + {a}) / (tr + {ab}))
                   ) * 1000000.0) AS BIGINT) AS lr_micro,
                   CAST(floor(ln((tr + {ab}) / (tt + {ab}))
                        * 1000000.0) AS BIGINT) AS backoff_micro
            FROM jc CROSS JOIN tot
        )"""


def sql_dsir_sample(
    *,
    k: int,
    n: int = 2,
    buckets: int = 512,
    doc_where: str = "TRUE",
    salt: str = "dsir",
    gumbel_salt: str = "gumbel",
) -> str:
    """SELECT text for the Gumbel top-k resample against the ``lr`` CTE
    (requires sql_dsir_ctes in the WITH list) — twin of dsir_sample."""
    grams = (
        sql_tokenize("text")
        if n == 1
        else sql_word_ngrams(sql_tokenize("text"), n)
    )
    bexpr = _sql_bucket("d.gram", buckets, salt)
    gh = sql_hash64(f"'{gumbel_salt}|' || doc_id::VARCHAR")
    return f"""
        SELECT doc_id, weight, rank FROM (
            SELECT doc_id, weight,
                   row_number() OVER (
                       ORDER BY w_micro + CAST(floor(-ln(-ln(
                           (({gh} % {_U_MOD})::DOUBLE + 0.5)
                           / {float(_U_MOD)!r}))
                           * 1000000.0) AS BIGINT) DESC,
                       doc_id ASC) AS rank
            FROM (
                SELECT doc_id,
                       coalesce(sum(lr.lr_micro), 0)
                       + (count(*) - count(lr.lr_micro))
                         * (SELECT min(backoff_micro) FROM lr)
                           AS w_micro,
                       (coalesce(sum(lr.lr_micro), 0)
                        + (count(*) - count(lr.lr_micro))
                          * (SELECT min(backoff_micro) FROM lr))::DOUBLE
                           / 1000000.0 AS weight
                FROM (SELECT doc_id, {bexpr} AS bucket
                      FROM (SELECT doc_id, unnest({grams}) AS gram
                            FROM documents WHERE {doc_where}) d) d
                LEFT JOIN lr ON lr.bucket = d.bucket
                GROUP BY doc_id
            )
        ) WHERE rank <= {int(k)}"""
