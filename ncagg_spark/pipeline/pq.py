"""Product quantization (PQ) for embedding search at 100 TB.

The standard compressed-index design (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public
literature): split each d-dim vector into m subvectors, k-means each
subspace into 256 codes, store each vector as m uint8 codes (m bytes vs
4d — 32x compression at d=64/m=8), and score with asymmetric distance
computation (ADC): per query build an m x n_codes lookup table of
subvector distances, then each candidate costs m table lookups instead
of d multiplies.

Spark-first shape:
  * training reuses the deterministic distributed k-means
    (pipeline/similarity.kmeans_centroids) once per subspace — at corpus
    scale you train on a sample, so m small k-means jobs are cheap;
  * encoding is one Arrow batch matmul per subspace (mapInPandas — the
    measured-fast path, see SCALE.md ANN section);
  * search is mapInPandas over the CODES table (m bytes/row scanned, not
    4d), numpy fancy-indexing the LUT, partial top-k per batch so the
    shuffle carries only partitions x queries x k rows.

Cosine ranking via the unit-sphere identity: for unit vectors,
||a - b||^2 = 2 - 2 cos(a, b), so L2-PQ over normalized vectors ranks by
cosine and `approx_cosine = 1 - dist2 / 2` recovers the score scale.

Every search here is candidate generation followed by the shared spine
of pipeline/topk.py: ADC (Arrow ``partial_topk`` per batch, or the
relational ``_adc_expr`` fold) proposes the k*expand best candidates
per query under ``rank_per_query``'s tie rule, and one exact cosine
rerank (``_rerank_by_query``) scores them through the same
``exact_cosine_topk`` as the exact searches of pipeline/similarity.py,
one group per query, in the SQL fold's summation order.
The IVF coarse quantizer reuses similarity.py's centroid scoring, so
the index and the relational path assign cells by the same quantized
rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ncagg_spark.pipeline.similarity import (
    _cell_scores,
    _centroid_matrix,
    _larger_cell_argmax,
    _stack,
    assign_cells,
    quantized_probe_col,
    sample_centroids,
)
from ncagg_spark.pipeline.topk import (
    exact_cosine_topk,
    partial_topk,
    rank_per_query,
)


def _unit_rows(X: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.maximum(n, 1e-300)


def pq_train(
    corpus: DataFrame,
    *,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    sample_size: int = 20_000,
) -> list[list[list[float]]]:
    """Train per-subspace L2 codebooks on a deterministic corpus sample.

    Training on a bounded sample is the standard PQ practice at scale
    (codebooks need ~1000 x n_codes examples, not the corpus): the
    sample is the ``sample_size`` vectors with smallest multiplicative
    hash of their id — deterministic, uniformly spread, ONE distributed
    pass — then m small exact-L2 Lloyd runs execute driver-side in
    numpy (n_codes x dim/m numbers each, trivial). Encoding and search
    stay fully distributed.

    Returns codebooks[s][c] = L2 centroid c of subspace s (len dim/m).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    if corpus.schema[id_col].dataType.typeName() in (
        "byte", "short", "integer", "long",
    ):
        key = (F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)
    else:  # non-numeric ids: hash to a deterministic sample key
        key = F.crc32(F.col(id_col).cast("string"))
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(key.asc(), F.col(id_col).asc())
        .limit(sample_size)
        .collect()
    )
    X = _unit_rows(np.array([list(r[1]) for r in rows], dtype="float64"))
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        # deterministic init: first n_codes distinct-ish sample rows
        C = Xs[:: max(1, len(Xs) // n_codes)][:n_codes].copy()
        while len(C) < n_codes:  # tiny-sample degenerate case
            C = np.vstack([C, Xs[: n_codes - len(C)]])
        for _ in range(max_iter):
            d2 = (
                np.sum(Xs * Xs, axis=1)[:, None]
                - 2 * (Xs @ C.T)
                + np.sum(C * C, axis=1)[None, :]
            )
            assign = d2.argmin(axis=1)
            newC = C.copy()
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    newC[c] = Xs[mask].mean(axis=0)
            if np.allclose(newC, C):
                C = newC
                break
            C = newC
        books.append([row.tolist() for row in C])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as m codes (argmin L2 per subspace, on the
    unit-normalized vector). One Arrow batch, m small matmuls. The id
    column keeps its name and type (string doc ids work)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    C = [np.asarray(b, dtype="float64") for b in codebooks]
    Cn = [np.sum(c * c, axis=1) for c in C]
    id_type = {
        f.name: f.dataType.simpleString() for f in corpus.schema.fields
    }[id_col]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(_stack(pdf["__vec"]))
            codes = np.empty((len(X), m), dtype="int32")
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                # argmin ||x-c||^2 = argmax (2 c.x - ||c||^2)
                scores = 2 * (Xs @ C[s].T) - Cn[s][None, :]
                codes[:, s] = scores.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf["__id"],
                    "codes": [row.tolist() for row in codes],
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(encode, schema=f"`{id_col}` {id_type}, codes array<int>")


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via ADC over the codes table.

    Scans m ints per candidate (the compressed index), never the raw
    vectors; per-batch partial top-k keeps the shuffle at
    partitions x queries x k rows. Returns (query_id, neighbor_id, rank,
    approx_cosine).
    """
    query_id_col = query_id_col or id_col
    n_type = {
        f.name: f.dataType.simpleString() for f in codes_df.schema.fields
    }[id_col]
    q_type = {
        f.name: f.dataType.simpleString() for f in queries.schema.fields
    }[query_id_col]
    out_schema = (
        f"query_id {q_type}, neighbor_id {n_type}, approx_cosine double"
    )
    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return codes_df.sparkSession.createDataFrame(
            [], out_schema + ", rank int"
        ).select("query_id", "neighbor_id", "rank", "approx_cosine")
    # ids keep their native type (string doc ids supported)
    qids = np.asarray([r[0] for r in q_rows])
    Q = _unit_rows(np.array([list(r[1]) for r in q_rows], dtype="float64"))
    m = len(codebooks)
    sub = len(codebooks[0][0])
    C = [np.asarray(b, dtype="float64") for b in codebooks]
    # LUT[s][qi, c] = ||q_s - c||^2 for subspace s
    LUT = []
    for s in range(m):
        Qs = Q[:, s * sub : (s + 1) * sub]
        d2 = (
            np.sum(Qs * Qs, axis=1)[:, None]
            - 2 * (Qs @ C[s].T)
            + np.sum(C[s] * C[s], axis=1)[None, :]
        )
        LUT.append(d2)
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf[id_col].to_numpy()
            codes = np.asarray(
                [np.asarray(c, dtype="int64") for c in pdf["codes"]]
            )
            # dist2[i, qi] = sum_s LUT[s][qi, codes[i, s]]
            dist2 = np.zeros((len(codes), len(qids)), dtype="float64")
            for s in range(m):
                dist2 += LUT[s][:, codes[:, s]].T
            qi, ni, d = partial_topk(dist2, nids, qids, kk)
            yield pd.DataFrame(
                {
                    "query_id": qi,
                    "neighbor_id": ni,
                    "approx_cosine": 1.0 - d / 2.0,
                }
            )

    partial = codes_df.mapInPandas(score, schema=out_schema)
    return rank_per_query(partial, "approx_cosine", k).select(
        "query_id", "neighbor_id", "rank", "approx_cosine"
    )


def _anchor_codebooks(
    corpus: DataFrame, n_codes: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Anchor codebooks for the oracle-parity PQ forms: codebook[s][c] =
    subvector s of the c-th anchor, anchors being the ``n_codes`` corpus
    rows with smallest multiplicative id-hash (Knuth 2654435761 mod 2^32
    — deterministic, uniformly spread, one sort-limit). Pure DATA, no
    trained floats, so any SQL engine re-derives them exactly."""
    key = (F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)
    anchors = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(key.asc(), F.col(id_col).asc())
        .limit(n_codes)
        .collect()
    )
    books = [[float(x) for x in r[1]] for r in anchors]
    if len(books) < n_codes:
        raise ValueError(f"corpus has {len(books)} rows < n_codes={n_codes}")
    return books


def _sqdist_const_sql(col_sql: str, values: list[float]) -> str:
    """Left-to-right squared-L2 fold against a constant array — the form
    an ANSI engine replicates bit-for-bit."""
    from ncagg_spark.functions.vectors import _array_sql

    return (
        f"aggregate(zip_with({col_sql}, {_array_sql(values)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _encode_relational(
    df: DataFrame,
    books: list[list[float]],
    *,
    m: int,
    sub: int,
    vec_col: str,
) -> DataFrame:
    """Append ``__code_0..__code_{m-1}`` columns: first-argmin over the
    n_codes left-to-right squared L2 distances per subspace
    (array_position(min) == DuckDB list_position(list_min) — both
    first-match). Pure Catalyst expressions; the vec column is kept."""
    n_codes = len(books)
    for s in range(m):
        sl = f"slice(`{vec_col}`, {s * sub + 1}, {sub})"
        dists = (
            "array("
            + ",".join(
                _sqdist_const_sql(sl, books[c][s * sub : (s + 1) * sub])
                for c in range(n_codes)
            )
            + ")"
        )
        # bind the distance array once: inlining {dists} into both
        # array_position and array_min evaluated all n_codes fold
        # aggregates twice per row (Catalyst does no CSE across the two
        # references — same finding as functions/binding.py, r15); the
        # transform lambda's bound variable makes the second reference
        # free. get(transform(array(e), f), 0) == f(e) exactly.
        df = df.withColumn(
            f"__code_{s}",
            F.expr(
                f"get(transform(array({dists}), "
                "d -> array_position(d, array_min(d)) - 1), 0)"
            ),
        )
    return df


def _adc_expr(
    books: list[list[float]], *, m: int, sub: int, qvec_col: str
) -> str:
    """ADC distance: d0 + d1 + ... + d_{m-1}, each d_s a left-to-right
    subspace distance of the query slice against
    element_at(codebook_s, __code_s + 1) — fixed association order that
    both engines share."""
    from ncagg_spark.functions.vectors import _array_sql

    n_codes = len(books)
    terms = []
    for s in range(m):
        book_lit = (
            "array("
            + ",".join(
                _array_sql(books[c][s * sub : (s + 1) * sub])
                for c in range(n_codes)
            )
            + ")"
        )
        terms.append(
            "aggregate(zip_with("
            f"slice(`{qvec_col}`, {s * sub + 1}, {sub}), "
            f"element_at({book_lit}, CAST(__code_{s} + 1 AS INT)), "
            "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return " + ".join(terms)


def _adc_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    pairs: DataFrame,
    books: list[list[float]],
    *,
    m: int,
    sub: int,
    k: int,
    expand: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The relational PQ search tail: ADC-score the (query_id, __qvec,
    neighbor_id, __code_*) candidate pairs, keep the ``k * expand``
    smallest distances per query (ties by neighbor id), then exact
    cosine rerank them."""
    scored = pairs.withColumn(
        "__dist2", F.expr(_adc_expr(books, m=m, sub=sub, qvec_col="__qvec"))
    )
    cands = rank_per_query(
        scored, "__dist2", k * expand, ascending=True
    ).select("query_id", "neighbor_id")
    return _rerank_by_query(
        corpus, queries, cands,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def pq_topk_relational(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    expand: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Oracle-parity PQ search: Catalyst expressions up to the rerank,
    whose numpy scorer keeps the SQL fold's summation order.

    Same ADC-then-exact-rerank semantics as ``pq_topk_rerank`` but with
    every float operation expressible bit-for-bit in ANSI SQL (the same
    design precedent as IVF's default ``method="sql"`` cell assignment):

      * codebooks are DATA, not arithmetic: codebook[s][c] = subvector s
        of the c-th "anchor" vector, anchors being the ``n_codes`` corpus
        rows with smallest multiplicative hash of their id (Knuth
        2654435761 mod 2^32 — deterministic, uniformly spread, one
        sort-limit). No Lloyd iterations, so no float accumulation to
        replicate; raw parquet floats round-trip exactly into both
        engines.
      * encoding: code[s] = first-argmin over the n_codes left-to-right
        squared L2 distances (array_position(min) == DuckDB
        list_position(list_min) — both first-match).
      * ADC: dist2 = d0 + d1 + ... + d_{m-1}, each d_s a left-to-right
        subspace distance against element_at(codebook, code+1) — fixed
        association order in both engines.
      * exact rerank of the k*expand ADC candidates by cosine (the
        production recall-recovery design, the same ``_rerank_by_query``
        as pq_topk_rerank; its cosines are bit-identical to the SQL
        fold's).

    Raw (un-normalized) vectors are used throughout so the oracle needs
    no normalization arithmetic; L2-ADC over raw vectors is standard PQ,
    the cosine order comes from the exact rerank. Scale: the anchor
    collect is n_codes rows; encode is a projection over the corpus; the
    ADC join broadcasts the (tiny) query side; only candidates' raw
    vectors are touched in the rerank. Production throughput path =
    pq_train/pq_encode/pq_topk (Arrow matmul, SCALE.md ANN section).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    query_id_col = query_id_col or id_col
    books = _anchor_codebooks(corpus, n_codes, id_col, vec_col)

    # -- encode: one int code per subspace, first-argmin tiebreak --
    # spread BEFORE encoding (pipeline/dedup.py:_spread_small_input):
    # the m x n_codes fold-aggregate encode is the CPU-heavy step and
    # must not run in the handful of tasks a small scan yields; a no-op
    # at scale where the scan already gives >= parallelism partitions
    from ncagg_spark.pipeline.dedup import _spread_small_input

    base = _spread_small_input(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
        ),
        "neighbor_id",
    )
    enc = _encode_relational(
        base,
        books,
        m=m,
        sub=sub,
        vec_col="__cvec",
    ).drop("__cvec")

    # -- ADC scoring against the broadcast query side --
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # -- ADC scoring, then exact cosine rerank of the candidates --
    pairs = enc.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    )
    return _adc_rerank(
        corpus, queries, pairs, books, m=m, sub=sub, k=k, expand=expand,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def _rerank_by_query(
    corpus: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact cosine re-rank of a (query_id, neighbor_id) candidate set —
    the one rerank of every PQ search (``pq_topk_relational``,
    ``ivf_pq_topk_relational``, ``pq_topk_rerank``, ``ivf_pq_topk``).
    The candidates' raw vectors are fetched by a broadcast join, so the
    scan that touches full vectors is proportional to the candidate
    count, not the corpus; each query and its candidates are then one
    ``exact_cosine_topk`` group (round-6 cosine, ties by neighbor id)."""
    cand_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
    ).join(F.broadcast(cands), on="neighbor_id")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
    )
    return exact_cosine_topk(q, cand_vecs, "query_id", k)


def pq_topk_rerank(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    expand: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Production PQ search: ADC candidate generation over the
    compressed codes, then EXACT cosine re-rank of the top
    ``k * expand`` candidates against their raw vectors.

    The candidate set is queries x (k*expand) rows (tiny); fetching its
    raw vectors is one broadcast semi-join into the corpus — the scan
    that touches full vectors is proportional to the candidate count,
    not the corpus. This is the standard recall-recovery design: ADC
    decides *where* to look, exact math decides the final order.
    """
    query_id_col = query_id_col or id_col
    cands = pq_topk(
        codes_df,
        codebooks,
        queries,
        k=k * expand,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("query_id", "neighbor_id")
    return _rerank_by_query(
        corpus, queries, cands,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


# ---------------------------------------------------------------------------
# IVF + PQ composition (round 10, VERDICT r9 #4): the standard big-corpus
# index (Jégou et al. 2011 "IVFADC") — a coarse quantizer routes each
# vector to one of n_cells inverted lists; a query probes only its
# n_probe nearest cells and ADC-scores the compressed codes WITHIN those
# cells; an exact cosine re-rank of the k*expand survivors restores
# exact ordering. vs the flat ADC scan (pq_topk / pq_topk_relational,
# measured exp 0.69 and 49 s at sf10) the scored fraction drops to
# ~n_probe/n_cells — with the sqrt(N) cell rule that is a sqrt(N)
# speedup growing with the corpus, which is exactly why it is THE
# composition used at 100-TB embedding counts.
# ---------------------------------------------------------------------------


def ivf_pq_topk_relational(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    expand: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Oracle-parity IVF+PQ: every float op replicable bit-for-bit by an
    ANSI engine, composed from the two already-oracle-gated halves:

      * coarse quantizer = ``assign_cells(method="quantized")`` over
        sample centroids (the emb_ivf_topk design: floor(x*1e6) integer
        dots — exact in any summation order; ties -> larger cell) and
        ``quantized_probe_col`` for the query side (ties -> smaller
        cell);
      * fine quantizer = the anchor-codebook PQ of
        ``pq_topk_relational`` (codebooks are DATA — subvectors of the
        n_codes smallest-multiplicative-hash rows; first-argmin encode;
        fixed-association ADC);
      * the ADC join keys on ``cell`` — each candidate is scored only
        when its cell is probed by the query (neighbors live in exactly
        ONE cell, so no dedup is needed);
      * exact cosine re-rank of the k*expand ADC survivors.

    Scale: the corpus-side work is one narrow projection (cell + m
    codes), the probe join broadcasts queries x n_probe rows, and ADC
    touches ~n_probe/n_cells of the codes. Production throughput path =
    ``build_ivf_pq_index`` + ``ivf_pq_topk`` (Arrow batch math).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    query_id_col = query_id_col or id_col
    if centroids is None:
        # the centroid sample and the anchor codebooks are independent
        # small collects over the corpus — submit them from two driver
        # threads so the second job's tasks back-fill the first's tail
        # (guide §2.6) instead of paying two sequential job round
        # trips (VERDICT r15 #7: the count -> centroids -> codebooks
        # chain). Results are pure functions of the data — identical
        # in any completion order.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_cents = pool.submit(
                sample_centroids, corpus, n_cells,
                id_col=id_col, vec_col=vec_col,
            )
            f_books = pool.submit(
                _anchor_codebooks, corpus, n_codes, id_col, vec_col
            )
            cents, books = f_cents.result(), f_books.result()
    else:
        cents = centroids
        books = _anchor_codebooks(corpus, n_codes, id_col, vec_col)

    # -- corpus -> (cell, codes): ONE narrow projection (the spread is
    # a no-op at scale; see pq_topk_relational) --
    from ncagg_spark.pipeline.dedup import _spread_small_input

    celled = assign_cells(
        _spread_small_input(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cvec"),
            ),
            "neighbor_id",
        ),
        cents,
        vec_col="__cvec",
        out_col="cell",
        method="quantized",
    )
    enc = _encode_relational(
        celled, books, m=m, sub=sub, vec_col="__cvec"
    ).drop("__cvec")

    # -- query probes: n_probe nearest cells, exploded --
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            quantized_probe_col(cents, n_probe, vec_col)
        ).alias("cell"),
    )

    # -- ADC within probed cells only, then exact cosine rerank --
    pairs = enc.join(F.broadcast(q), on="cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _adc_rerank(
        corpus, queries, pairs, books, m=m, sub=sub, k=k, expand=expand,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the compressed IVFADC index: (id, cell, codes) in ONE Arrow
    pass over the corpus — cell = BLAS argmax against unit centroids
    (ties -> larger cell), codes = per-subspace L2 argmin against the
    trained codebooks (pq_encode math, on the unit-normalized vector).
    No join, no shuffle; at real scale persist the result partitioned
    BY CELL so a probe filter prunes partitions at the scan.

    Cell scores are the quantized integer dot (ADVICE r10: floor(x*1e6)
    against floor(c_unit*1e6)), EXACT in any summation order — cell
    assignment matches ``assign_cells(method="quantized")`` bit-for-bit,
    so a production index and the relational/oracle path agree even on
    near-tie vectors."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cell_ids, Cq = _centroid_matrix(centroids, quantized=True)
    CB = [np.asarray(b, dtype="float64") for b in codebooks]
    CBn = [np.sum(c * c, axis=1) for c in CB]
    id_type = {
        f.name: f.dataType.simpleString() for f in corpus.schema.fields
    }[id_col]

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = _stack(pdf["__vec"])
            scores = _cell_scores(raw, Cq, quantized=True)
            cells = cell_ids[_larger_cell_argmax(scores)]
            X = _unit_rows(raw)
            codes = np.empty((len(X), m), dtype="int32")
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                codes[:, s] = (2 * (Xs @ CB[s].T) - CBn[s][None, :]).argmax(
                    axis=1
                )
            yield pd.DataFrame(
                {
                    id_col: pdf["__id"],
                    "cell": cells.astype("int32"),
                    "codes": [row.tolist() for row in codes],
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(
        build, schema=f"`{id_col}` {id_type}, cell int, codes array<int>"
    )


def ivf_pq_topk(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    expand: int = 4,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Production IVFADC search over a ``build_ivf_pq_index`` table:
    probe each query's n_probe nearest cells, ADC-score codes ONLY in
    probed cells (a ``cell IN (...)`` filter — partition-prunable when
    the index is stored partitioned by cell), exact cosine re-rank of
    the k*expand survivors against the raw vectors. Shuffle carries
    only partitions x queries x (k*expand) candidate rows.

    Per batch: one LUT gather over the whole batch, then non-probed
    (row, query) pairs masked to inf. The gather is a single contiguous
    numpy fancy-index per subspace — memory-bandwidth-bound and
    measurably optimal at every locally testable size (<=2M x 100
    queries; SCALE.md "IVFADC build/search split" measured a per-cell
    grouped shape losing to it at every size); the over-computed 75%
    costs less than breaking the batch apart. The probed-fraction
    saving comes from the ``cell IN`` SCAN pruning, which is the
    dominant cost once the index exceeds page cache.
    """
    query_id_col = query_id_col or id_col
    n_type = {
        f.name: f.dataType.simpleString() for f in index.schema.fields
    }[id_col]
    q_type = {
        f.name: f.dataType.simpleString() for f in queries.schema.fields
    }[query_id_col]
    out_schema = (
        f"query_id {q_type}, neighbor_id {n_type}, approx_cosine double"
    )
    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return index.sparkSession.createDataFrame(
            [], f"query_id {q_type}, neighbor_id {n_type}, rank int, "
            "cosine double"
        )
    qids = np.asarray([r[0] for r in q_rows])
    Qraw = np.array([list(r[1]) for r in q_rows], dtype="float64")
    Q = _unit_rows(Qraw)

    # -- probe ranking: n_probe nearest cells per query (BLAS) --
    cell_ids, Cu = _centroid_matrix(centroids, quantized=False)
    npr = min(int(n_probe), len(cell_ids))
    order = np.argsort(
        -_cell_scores(Qraw, Cu, quantized=False), axis=1, kind="stable"
    )[:, :npr]
    probed = cell_ids[order]  # nq x n_probe
    union_cells = sorted({int(c) for row in probed for c in row})
    # probe mask over the union-cell axis: mask[cell_idx, qi]
    cell_pos = {c: i for i, c in enumerate(union_cells)}
    mask = np.zeros((len(union_cells), len(qids)), dtype=bool)
    for qi, row in enumerate(probed):
        for c in row:
            mask[cell_pos[int(c)], qi] = True

    m = len(codebooks)
    sub = len(codebooks[0][0])
    CB = [np.asarray(b, dtype="float64") for b in codebooks]
    LUT = []
    for s in range(m):
        Qs = Q[:, s * sub : (s + 1) * sub]
        LUT.append(
            np.sum(Qs * Qs, axis=1)[:, None]
            - 2 * (Qs @ CB[s].T)
            + np.sum(CB[s] * CB[s], axis=1)[None, :]
        )
    kk = int(k) * int(expand)

    union_arr = np.asarray(union_cells, dtype="int64")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf[id_col].to_numpy()
            cells = pdf["cell"].to_numpy().astype("int64")
            codes = np.asarray(
                [np.asarray(c, dtype="int64") for c in pdf["codes"]]
            )
            dist2 = np.zeros((len(codes), len(qids)), dtype="float64")
            for s in range(m):
                dist2 += LUT[s][:, codes[:, s]].T
            # probe mask: candidates outside a query's probed cells are
            # invisible to it (cells are already IN the union — the
            # pre-filter below guarantees searchsorted hits)
            dist2[~mask[np.searchsorted(union_arr, cells), :]] = np.inf
            qi, ni, d = partial_topk(dist2, nids, qids, kk)
            yield pd.DataFrame(
                {
                    "query_id": qi,
                    "neighbor_id": ni,
                    "approx_cosine": 1.0 - d / 2.0,
                }
            )

    # cell IN (union) — pushed to the scan; with the index stored
    # partitioned by cell this prunes whole partitions, making search
    # cost proportional to the probed fraction, not the corpus
    scanned = index.filter(
        F.col("cell").isin([int(c) for c in union_cells])
    )
    partial = scanned.mapInPandas(score, schema=out_schema)
    cands = rank_per_query(partial, "approx_cosine", kk).select(
        "query_id", "neighbor_id"
    )
    # exact cosine re-rank against raw vectors (candidate-bounded)
    return _rerank_by_query(
        corpus, queries, cands,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def write_ivf_pq_index(
    index: DataFrame, path: str, *, mode: str = "overwrite"
) -> None:
    """Persist a ``build_ivf_pq_index`` table ``partitionBy("cell")`` —
    the layout that makes ``ivf_pq_topk``'s ``cell IN (probed)`` filter
    a PARTITION filter: the scan lists and reads only the probed cells'
    files, so search I/O is proportional to the probed-cell union, not
    the corpus (measured by ``tools/ivfadc_prune.py``; the reference
    prunes whole FILES by coordinate bounds the same way,
    ncagg/aggregator.py:137-142 — here the bound is the cell id).

    ``repartition("cell")`` first, so each cell directory holds exactly
    one file per store write (cells are ~sqrt(N) rows by construction —
    at 32x PQ compression a cell file stays small at any realistic N).
    ``mode="append"`` adds new files per cell without rewriting existing
    ones — the incremental-maintenance path (see
    ``append_ivf_pq_index``)."""
    (
        index.repartition("cell")
        .write.partitionBy("cell")
        .mode(mode)
        .parquet(path)
    )


def read_ivf_pq_index(spark, path: str) -> DataFrame:
    """Read a persisted IVFADC index. ``cell`` comes back as the
    partition column (int), so probe filters prune at file listing."""
    return spark.read.parquet(path)


def append_ivf_pq_index(
    new_vectors: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance (VERDICT r10 #2): encode ONLY the
    new vectors against the FROZEN centroids/codebooks and append their
    (id, cell, codes) rows to the stored partitioned index. Because
    ``build_ivf_pq_index`` is a row-local deterministic map (no
    corpus-wide state beyond the frozen model), a merged index is
    row-identical to a full rebuild over old+new — searches against it
    return exactly the rebuilt result. Per-batch work is O(batch): one
    Arrow pass over the new rows, one shuffle of batch-sized data into
    cell files. At 100 TB this replaces the nightly full rebuild; re-run
    the trainer only when recall drift says the frozen model has aged.
    """
    delta = build_ivf_pq_index(
        new_vectors, centroids, codebooks, id_col=id_col, vec_col=vec_col
    )
    write_ivf_pq_index(delta, path, mode="append")
