"""Bounded exact global top-k — the repo-wide replacement for the
single-partition ``Window.orderBy(...)`` idiom (VERDICT r11 #3).

A global window with no partition key sorts the ENTIRE input in one
task: correct, but the task is corpus-sized at 100 TB. This helper
computes the identical result in two phases:

1. local: partition rows by a deterministic hash bucket of the id
   (``pmod(hash64(id), n_buckets)`` — the repo's portable hash, so
   replays and AQE re-plans land rows in the same bucket), rank within
   each bucket by the caller's total order, keep ``k`` per bucket. Any
   global top-k row is top-k within every subset that contains it, so
   the survivor set (<= k x n_buckets rows) is a superset of the
   answer. This window shuffles in parallel (hashpartitioning, not
   SinglePartition).
2. global: rank the survivors with the same total order in one tiny
   window — the only SinglePartition exchange, carrying <= k x
   n_buckets rows by construction (the ``pack_sequences`` bound
   discipline, tests/test_packing.py::
   test_no_corpus_sized_single_partition_window).

The caller's ordering MUST be total (include the unique id as the last
tie-break) — then the two-phase ranks equal the single-window ranks
row for row, so oracle value-hashes are unchanged.

The per-query ANN ranking shares one contract and lives here too: each
ANN method (pipeline/similarity.py, pipeline/pq.py) only supplies
candidates; ``rank_per_query`` is the one Spark tail (score, then
``neighbor_id`` ascending, keep k per ``query_id``), ``round_cosine``
the one precision (6 places, applied in Spark so its HALF_UP rounding
decides), ``cosine_topk`` the shared final rerank, and
``_topk_ties_by_id`` / ``partial_topk`` the same tie rule applied to a
numpy batch before the shuffle.

``exact_cosine_topk`` is the one exact scorer of every candidate-join
search (relational brute force, SRP, IVF and both PQ reranks): a
grouped map by the candidate key hands each group's queries and
candidates to numpy, which scores them as dense blocks in the SQL
fold's own summation order (``_fold_dots`` / ``_fold_norms``), so the
raw cosines are bit-identical to ``cosine`` and to the DuckDB oracle.
``cosine`` itself, the per-pair Catalyst fold, remains for the
threshold filter of pipeline/semdedup.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ncagg_spark.functions.hashing import hash64
from ncagg_spark.functions.vectors import _c, dot

_BUCKET = "__tkb"
_LOCAL_RANK = "__tklr"


def bounded_topk(
    df: DataFrame,
    order: list[Column],
    k: int,
    *,
    id_col: str,
    n_buckets: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """Rows of ``df`` with global rank <= k under ``order`` (a TOTAL
    order — include ``id_col`` as final tie-break), plus ``rank_col``.
    Exactly equals the single global window result, without ever
    sorting more than max(partition, k x n_buckets) rows in one task.
    """
    k = int(k)
    bucket = F.pmod(
        hash64(F.col(id_col).cast("string")), F.lit(int(n_buckets))
    )
    local = Window.partitionBy(_BUCKET).orderBy(*order)
    survivors = (
        df.withColumn(_BUCKET, bucket)
        .withColumn(_LOCAL_RANK, F.row_number().over(local))
        .filter(F.col(_LOCAL_RANK) <= k)
        .drop(_BUCKET, _LOCAL_RANK)
    )
    final = Window.orderBy(*order)
    return survivors.withColumn(
        rank_col, F.row_number().over(final)
    ).filter(F.col(rank_col) <= k)


def rank_per_query(
    df: DataFrame, score: str, k: int, *, ascending: bool = False
) -> DataFrame:
    """Rows of ``df`` whose ``rank`` within their ``query_id`` is <= k,
    plus that ``rank`` column. Order: ``score`` (descending unless
    ``ascending``), ties by ``neighbor_id`` ascending — the one tie rule
    of every ANN method, so results never depend on partitioning."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).asc() if ascending else F.col(score).desc(),
        F.col("neighbor_id").asc(),
    )
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def round_cosine(score: Column | str) -> Column:
    """A cosine at the contract's precision — rounded to 6 places, the
    value every ANN path ranks, breaks ties on and returns."""
    return F.round(_c(score), 6)


def cosine(
    q_vec: Column | str,
    c_vec: Column | str,
    q_norm: Column | str,
    c_norm: Column | str,
) -> Column:
    """Exact cosine of two vector columns given their (guarded) norms,
    rounded by ``round_cosine``: elementwise-widened left-to-right dot,
    the form the DuckDB oracle replicates."""
    return round_cosine(dot(q_vec, c_vec) / (_c(q_norm) * _c(c_norm)))


def cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """The shared final ranking of every exact-cosine ANN path: the top
    k per query by ``cosine`` (ties by neighbor id), as (query_id,
    neighbor_id, rank, cosine)."""
    return rank_per_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", "rank", "cosine"
    )


def _topk_ties_by_id(
    key: np.ndarray, nids: np.ndarray, take: int, pre=None
) -> np.ndarray:
    """Row indices of the ``take`` smallest keys, ties broken by
    neighbor id ascending — deterministic under ANY input row order.
    A bare argpartition can pick either of two boundary-tied rows, so
    the truncated candidate set would depend on partitioning; ties are
    REAL here (PQ maps near-replica vectors to identical codes, so
    their ADC distances are bit-equal). Stable argsorts (not lexsort)
    so string ids work; n is one Arrow batch.

    Near-linear (ADVICE r10): an O(n) partition finds the take-th
    smallest key, the EXACT threshold superset (``key <= thr`` keeps
    every boundary-tied row, so determinism is unchanged) is selected
    in O(n), and the two stable tie-break sorts run only on that
    usually-tiny subset. ``pre`` optionally passes the id pre-sort
    ``np.argsort(nids, kind="stable")`` hoisted once per batch —
    measured (1M rows, take=20): subset path 9.3 ms/query vs 276 ms
    for the old two-full-argsort form; the hoisted-pre variant is
    slightly SLOWER (10.9 ms + 118 ms once) because its O(n) boolean
    gather beats nothing once the subset sort is tiny, so call sites
    omit it when take << n."""
    n = len(key)
    if take <= 0:
        return np.empty(0, dtype=np.intp)
    if take < n:
        thr = np.partition(key, take - 1)[take - 1]
        if pre is not None:
            keep = key <= thr
            sub = pre[keep[pre]]
        else:
            sel = np.flatnonzero(key <= thr)
            sub = sel[np.argsort(nids[sel], kind="stable")]
    else:
        sub = pre if pre is not None else np.argsort(nids, kind="stable")
    order = sub[np.argsort(key[sub], kind="stable")]
    return order[:take]


def partial_topk(
    key: np.ndarray, nids: np.ndarray, qids: np.ndarray, take: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Partition-local top-``take`` per query of one Arrow batch.

    ``key`` is candidates x queries, smaller is better. Self-matches
    (neighbor id == query id) are masked to +inf in place, each query
    column keeps its ``take`` smallest keys with ties by neighbor id
    (``_topk_ties_by_id``), and pairs whose key is not finite (masked)
    are dropped. Returns (query ids, neighbor ids, keys) of the kept
    pairs — the candidates a ``rank_per_query`` tail then merges."""
    key[nids[:, None] == qids[None, :]] = np.inf
    take = min(int(take), key.shape[0])
    picks = [
        _topk_ties_by_id(key[:, j], nids, take) for j in range(key.shape[1])
    ]
    rows = np.concatenate(picks)
    cols = np.repeat(np.arange(key.shape[1]), [len(p) for p in picks])
    kept = key[rows, cols]
    ok = np.isfinite(kept)
    return qids[cols[ok]], nids[rows[ok]], kept[ok]


# the left side of a group is scored in row blocks of at most this many
# (query, candidate) pairs, so the dense score block stays bounded
# (8 MiB of float64) however large a cell grows
_BLOCK_PAIRS = 1 << 20
# a raw score more than this below its group's k-th raw score rounds (6
# places) strictly below k pairs of that group, so it cannot rank
# within k; everything at or above it goes on to Spark's ranking
_TIE_MARGIN = 2e-6


def _fold_dots(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``dot(q, c)`` for every row pair of two float64 matrices of one
    width: per pair the products are summed left to right from 0.0, as
    ``dot``'s ``aggregate`` folds them (one separate multiply and add
    per element, no reassociation), so every value is bit-identical to
    the SQL fold. The loop runs over the width; each step is one dense
    (rows x rows) multiply-add."""
    acc = np.zeros((len(Q), len(C)))
    tmp = np.empty_like(acc)
    for j in range(Q.shape[1]):
        np.multiply(Q[:, j, None], C[None, :, j], out=tmp)
        acc += tmp
    return acc


def _fold_norms(X: np.ndarray) -> np.ndarray:
    """``norm_guard(l2_norm(v))`` of every row, in the fold's order."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc += X[:, j] * X[:, j]
    return np.maximum(np.sqrt(acc), 1e-300)


def _vec_lengths(vecs) -> np.ndarray:
    """Length of each array cell, -1 for NULL."""
    return np.fromiter(
        (len(v) if isinstance(v, (list, np.ndarray)) else -1 for v in vecs),
        dtype=np.int64,
        count=len(vecs),
    )


def _near_topk(S: np.ndarray, excluded: np.ndarray, k: int) -> np.ndarray:
    """Mask of the pairs of S (query rows x candidate columns) that can
    still rank within k once rounded: every pair not ``excluded`` whose
    raw score is at least its row's k-th finite score minus
    ``_TIE_MARGIN``, plus every non-finite score (Spark orders NaN
    first, so those go to its ranking untouched)."""
    bad = ~np.isfinite(S)
    keep = ~excluded
    if S.shape[1] > k:
        ranked = np.where(bad | excluded, -np.inf, S)
        kth = -np.partition(-ranked, k - 1, axis=1)[:, k - 1]
        keep &= bad | (S >= kth[:, None] - _TIE_MARGIN)
    return keep


def _score_group(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """One group of ``exact_cosine_topk``: its query rows (``__q``) x
    its candidate rows, as (query_id, neighbor_id, raw cosine) for the
    pairs that can still rank within k. Self-matches are dropped. A
    pair the SQL fold scores NULL (a NULL vector, or two lengths that
    differ, which ``zip_with`` pads with NULL) keeps a NULL cosine and
    is always kept, as Spark then ranks it after every scored pair."""
    is_q = pdf["__q"].to_numpy()
    ids, vecs = pdf["__id"].to_numpy(), pdf["__vec"].to_numpy()
    qids, qvecs, nids, cvecs = ids[is_q], vecs[is_q], ids[~is_q], vecs[~is_q]
    qlen, clen = _vec_lengths(qvecs), _vec_lengths(cvecs)
    rows, cols = [np.empty(0, np.intp)], [np.empty(0, np.intp)]
    vals, nulls = [np.empty(0)], [np.empty(0, bool)]

    def emit(qi, cj, keep, S=None):
        r, c = np.nonzero(keep)
        rows.append(qi[r])
        cols.append(cj[c])
        vals.append(np.zeros(len(r)) if S is None else S[r, c])
        nulls.append(np.full(len(r), S is None))

    for length in np.unique(qlen):
        qi = np.flatnonzero(qlen == length)
        same = (clen == length) & (length >= 0)
        cj = np.flatnonzero(~same)
        emit(qi, cj, qids[qi, None] != nids[None, cj])
        cj = np.flatnonzero(same)
        if not len(cj):
            continue
        C = np.stack(cvecs[cj]).astype("float64")
        cn = _fold_norms(C)
        step = max(1, _BLOCK_PAIRS // len(cj))
        for lo in range(0, len(qi), step):
            qb = qi[lo : lo + step]
            Q = np.stack(qvecs[qb]).astype("float64")
            den = _fold_norms(Q)[:, None] * cn[None, :]
            self_ = qids[qb, None] == nids[None, cj]
            if np.any((den == 0.0) & ~self_):
                # the SQL fold's ANSI division raises here too
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] cosine of two vectors whose norms "
                    "multiply to 0.0"
                )
            S = _fold_dots(Q, C) / den
            emit(qb, cj, _near_topk(S, self_, k), S)
    return pd.DataFrame(
        {
            "query_id": qids[np.concatenate(rows)],
            "neighbor_id": nids[np.concatenate(cols)],
            "cosine": pd.arrays.FloatingArray(
                np.concatenate(vals), np.concatenate(nulls)
            ),
        }
    )


def _valid_vec(vec_col: str) -> Column:
    """The vector, or NULL when an element is NULL. Arrow hands a NULL
    element to pandas as NaN, but the two fold differently: a NULL
    element makes every dot with the vector NULL, a NaN makes it NaN."""
    v = F.col(vec_col)
    return F.when(F.size(F.array_compact(v)) == F.size(v), v)


def exact_cosine_topk(
    queries: DataFrame, candidates: DataFrame, key: str, k: int
) -> DataFrame:
    """Exact cosine top-k of every query against the candidates that
    share its ``key`` value — (query_id, q_vec, key) against
    (neighbor_id, c_vec, key) — as (query_id, neighbor_id, rank,
    cosine), self-matches excluded: the one exact scorer of every
    candidate-join search.

    Both sides go into one grouped map by ``key`` (``applyInPandas``;
    a ``cogroup`` would shuffle and sort each side apart, and each sort
    task holds its own memory page). Each group is scored as dense
    numpy blocks in the SQL fold's order (``_fold_dots``), so every raw
    cosine is bit-identical to the per-pair ``cosine``, and only the
    pairs that can still rank within k leave the group (``_near_topk``:
    the partition-local top-k of a scatter-gather search). Rounding and
    ranking stay in Spark (``round_cosine``, ``cosine_topk``), so its
    HALF_UP rounding and the neighbour-id tie rule decide the result.
    Rows with a NULL id or key join nothing, as in the equi-join this
    replaces."""
    q_type = queries.schema["query_id"].dataType.simpleString()
    n_type = candidates.schema["neighbor_id"].dataType.simpleString()
    kk = max(int(k), 1)

    def side(df: DataFrame, id_col: str, vec_col: str, is_query: bool):
        return df.filter(
            F.col(key).isNotNull() & F.col(id_col).isNotNull()
        ).select(
            F.col(key).alias("__key"),
            F.lit(is_query).alias("__q"),
            F.col(id_col).alias("__id"),
            _valid_vec(vec_col).alias("__vec"),
        )

    scored = (
        side(queries, "query_id", "q_vec", True)
        .unionByName(side(candidates, "neighbor_id", "c_vec", False))
        .groupBy("__key")
        .applyInPandas(
            lambda pdf: _score_group(pdf, kk),
            schema=f"query_id {q_type}, neighbor_id {n_type}, cosine double",
        )
    )
    return cosine_topk(scored.withColumn("cosine", round_cosine("cosine")), k)
