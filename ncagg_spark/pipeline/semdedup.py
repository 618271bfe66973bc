"""Semantic deduplication (SemDeDup): cluster embeddings into centroid
cells, find within-cell cosine near-duplicate pairs, and keep one
representative per duplicate cluster.

The method follows the published SemDeDup recipe (Abbas et al. 2023,
arXiv:2303.09540 — public paper): k-means clustering bounds the
quadratic pairwise comparison to within-cluster work, so the cost is
sum(|cell|^2) instead of |corpus|^2. Re-expressed relationally for
Spark:

1. ``assign_cells(method="quantized")`` — one Arrow-batched BLAS argmax
   per batch, exactly replicable cross-engine (floor(x*1e6) integer
   dots, see pipeline/similarity.py).
2. Within-cell pairs: an equi-self-join on ``cell`` (Catalyst hash
   join — ONE shuffle per side, never a cartesian) filtered to
   ``id_a < id_b AND cosine >= threshold``. Cosine uses the
   left-to-right fold of functions/vectors.py, bit-identical to the
   DuckDB oracle.
3. Survivors: connected components over the pair graph, keep the
   minimum id per cluster — the same convention as
   ``pipeline/dedup.py:near_dedup``, so text-LSH dedup and semantic
   dedup report identically-shaped results.

Scale notes (100 TB): the join key is the cell id, so pair expansion is
bounded by the largest cell — size ``n_cells ~ sqrt(N)`` (or larger) so
cells stay small; ``max_cell_size`` deterministically truncates
pathological cells (lowest ids kept, mirroring the LSH big-bucket
guard's drop semantics — recall capped, never memory). ``method="arrow"``
replaces the per-pair interpreted cosine with one BLAS gram matrix per
cell via applyInPandas — the throughput shape once cells are large;
results are identical to the relational path (pinned in tests).

Reference parity note: the reference engine (5tefan/ncagg) has no
embedding operators; its nearest analogue is the cadence-based
near-duplicate chop (ncagg/aggregator.py timing dedup), lifted here
from the time axis to embedding space. Beyond-reference capability per
the training-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ncagg_spark.functions.vectors import l2_norm, norm_guard
from ncagg_spark.pipeline.dedup import near_dedup
from ncagg_spark.pipeline.similarity import assign_cells
from ncagg_spark.pipeline.topk import cosine


def semantic_duplicate_pairs(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "relational",
    max_cell_size: int | None = None,
    probes: int = 1,
) -> DataFrame:
    """Within-cell cosine near-duplicate pairs.

    Returns (id_a, id_b, cell, cosine) with ``id_a < id_b`` and
    ``cosine >= threshold`` (rounded to 6 — the repo-wide convention
    that makes the value cross-engine hashable). With ``probes > 1``,
    ``cell`` is the smallest shared probed cell.

    ``probes``: assign each vector to its top-``probes`` cells for
    PAIRING (multi-probe, the IVF trick applied to dedup) — a pair is
    found if any probed cell is shared. Vanilla SemDeDup (probes=1)
    misses true near-duplicates that straddle a cell boundary: measured
    on planted cos-0.90-0.99 duplicates (tools/semdedup_recall.py),
    same-cell recall is ~0.67 at probes=1, ~0.95-0.975 at probes=2,
    ~1.0 at probes=3, for a pair-evaluation cost bounded by probes^2.
    probes=1 keeps assign_cells' tie rule (ties -> larger cell);
    probes>1 uses quantized_probe_col's (stable rank, ties -> smaller
    cell) — both exactly replicable cross-engine.

    ``method="relational"``: equi-self-join on the cell id, cosine as
    the exact left-to-right double fold — the oracle-parity form.
    ``method="arrow"``: one BLAS gram matrix per cell
    (applyInPandas) — identical output, ~100x less per-pair overhead;
    the path to use when cells hold thousands of members.
    """
    if int(probes) < 1:
        raise ValueError(f"probes must be >= 1, got {probes!r}")
    # spread BEFORE the probe/assign expression and the per-pair cosine
    # folds (pipeline/dedup.py:_spread_small_input): a small embeddings
    # slice arrives as one parquet file -> one task, serializing ALL the
    # centroid-distance and pair-cosine arithmetic; a no-op at scale
    from ncagg_spark.pipeline.dedup import _spread_small_input

    base = _spread_small_input(corpus.select(id_col, vec_col), id_col)
    if probes > 1:
        from ncagg_spark.pipeline.similarity import quantized_probe_col

        assigned = base.withColumn(
            "cell",
            F.explode(
                quantized_probe_col(centroids, int(probes), vec_col)
            ),
        )
    else:
        assigned = assign_cells(
            base,
            centroids,
            vec_col=vec_col,
            out_col="cell",
            method="quantized",
        )
    if max_cell_size is not None:
        # deterministic truncation of pathological cells: keep the
        # max_cell_size lowest ids (recall capped, memory bounded) —
        # same drop convention as the LSH big-bucket guard.
        from pyspark.sql import Window

        w = Window.partitionBy("cell").orderBy(F.col(id_col).asc())
        assigned = (
            assigned.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(max_cell_size))
            .drop("__r")
        )
    if method == "relational":
        a = assigned.select(
            F.col(id_col).alias("id_a"),
            F.col("cell"),
            F.col(vec_col).alias("va"),
            norm_guard(l2_norm(vec_col)).alias("na"),
        )
        b = assigned.select(
            F.col(id_col).alias("id_b"),
            F.col("cell"),
            F.col(vec_col).alias("vb"),
            norm_guard(l2_norm(vec_col)).alias("nb"),
        )
        pairs = (
            a.join(b, on="cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cosine("va", "vb", "na", "nb"))
            .filter(F.col("cosine") >= float(threshold))
            .select("id_a", "id_b", "cell", "cosine")
        )
        return _dedupe_probed(pairs) if probes > 1 else pairs
    if method != "arrow":
        raise ValueError(f"unknown method: {method!r}")

    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int32"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        # np.round is half-to-EVEN while the relational path's F.round
        # is half-up over the shortest decimal rendering; they can
        # disagree only when a cosine lands within 1 ulp of an exact
        # 1e-6 half — never observed on real data, and the equality
        # tests pin the paths on fixed fixtures
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        X = np.asarray(
            [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
        )[order]
        norms = np.maximum(np.linalg.norm(X, axis=1), 1e-300)
        G = (X @ X.T) / np.outer(norms, norms)
        cos = np.round(G, 6)
        ia, ib = np.triu_indices(n, k=1)
        keep = cos[ia, ib] >= thr
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cell": np.full(
                    int(keep.sum()), pdf["cell"].iloc[0], dtype="int32"
                ),
                "cosine": cos[ia[keep], ib[keep]],
            }
        )

    pairs = assigned.groupBy("cell").applyInPandas(
        _cell_pairs,
        schema="id_a long, id_b long, cell int, cosine double",
    )
    return _dedupe_probed(pairs) if probes > 1 else pairs


def _dedupe_probed(pairs: DataFrame) -> DataFrame:
    """A pair sharing several probed cells is emitted once per shared
    cell by the join/gram stage — collapse to one row (smallest shared
    cell; cosine is identical across the duplicates by construction)."""
    return pairs.groupBy("id_a", "id_b").agg(
        F.min("cell").alias("cell"), F.min("cosine").alias("cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "relational",
    max_cell_size: int | None = None,
    probes: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """End-to-end semantic dedup: survivors of ``corpus`` after dropping
    every embedding whose duplicate-cluster representative (minimum id
    reachable through the within-cell cosine pair graph) is another row.

    Returns the kept ``corpus`` rows plus ``n_members`` (duplicate
    cluster size; 1 for unique rows) — the exact output shape of
    ``pipeline/dedup.py:near_dedup``, so downstream keep/drop accounting
    is interchangeable between text-LSH and semantic dedup.
    """
    pairs = semantic_duplicate_pairs(
        corpus,
        centroids,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        method=method,
        max_cell_size=max_cell_size,
        probes=probes,
    ).select("id_a", "id_b")
    # pairs are unique by construction: one row per (id_a, id_b) in both
    # branches of semantic_duplicate_pairs (probes>1 goes through
    # _dedupe_probed) — skip the CC edge-dedup shuffle
    return near_dedup(
        corpus, pairs, id_col,
        num_partitions=num_partitions, unique_pairs=True,
    )
