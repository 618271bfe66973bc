"""Persisted IVFADC index: partition pruning pinned by scan metrics,
and incremental append == full rebuild (VERDICT r10 #1 and #2).

The store is `partitionBy("cell")` parquet; `ivf_pq_topk`'s
`cell IN (probed union)` filter must prune the SCAN to exactly the
probed cells' files — asserted here from the executed plan's
FileSourceScan metrics (numFiles / numPartitions), not inferred from
the plan text. Reference analogue: file-level coordinate-bounds pruning
(ncagg/aggregator.py:137-142), lifted to the index cell."""

import math
import random

import numpy as np
import pytest

from ncagg_spark.pipeline.pq import (
    append_ivf_pq_index,
    build_ivf_pq_index,
    ivf_pq_topk,
    pq_train,
    read_ivf_pq_index,
    write_ivf_pq_index,
)
from ncagg_spark.pipeline.similarity import _unit_scale, sample_centroids
from ncagg_spark.plans.scanstats import scan_io_stats

DIM = 16
N = 2000


@pytest.fixture(scope="module")
def clustered(spark):
    rng = random.Random(5)
    centers = [
        [rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(20)
    ]
    rows = [
        (
            i,
            [
                c + rng.gauss(0.0, 0.05)
                for c in centers[i % 20]
            ],
        )
        for i in range(N)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


@pytest.fixture(scope="module")
def model(clustered):
    cents = sample_centroids(clustered, 16)
    books = pq_train(clustered, dim=DIM, m=4, n_codes=16)
    return cents, books


def probe_union(queries_df, cents, n_probe):
    """Replicate ivf_pq_topk's probe ranking (raw dot against unit
    centroids, stable argsort) for the expected probed-cell union."""
    q = np.array(
        [list(r["embedding"]) for r in queries_df.collect()],
        dtype="float64",
    )
    cents_s = sorted(cents, key=lambda cv: int(cv[0]))
    cell_ids = np.array([int(c) for c, _ in cents_s], dtype="int64")
    Cu = np.array(
        [_unit_scale(v) for _, v in cents_s], dtype="float64"
    ).T
    order = np.argsort(-(q @ Cu), axis=1, kind="stable")[:, :n_probe]
    return sorted({int(c) for row in cell_ids[order] for c in row})


def test_partitioned_store_prunes_scan_to_probed_cells(
    clustered, model, tmp_path
):
    """files/partitions READ == probed-cell union exactly; the flat
    twin reads every file. This is the measured form of the 100 TB
    claim: search I/O proportional to probed cells, not corpus."""
    cents, books = model
    spark = clustered.sparkSession
    index = build_ivf_pq_index(clustered, cents, books)
    part_dir = str(tmp_path / "part")
    flat_dir = str(tmp_path / "flat")
    write_ivf_pq_index(index, part_dir)
    index.repartition(8).write.parquet(flat_dir)

    queries = clustered.filter("vec_id < 3")
    union = probe_union(queries, cents, n_probe=4)
    assert 0 < len(union) < 16  # the fixture must exercise a real prune

    res = ivf_pq_topk(
        read_ivf_pq_index(spark, part_dir),
        cents, books, clustered, queries, k=5, expand=4, n_probe=4,
    )
    stats = [
        s for s in scan_io_stats(res) if s["path"] and part_dir in s["path"]
    ]
    assert stats, "index scan not found in executed plan"
    # write_ivf_pq_index lays out ONE file per cell -> files read must
    # equal the probed union exactly, and so must partitions read
    assert sum(s["numFiles"] for s in stats) == len(union)
    assert sum(s["numPartitions"] for s in stats) == len(union)

    res_f = ivf_pq_topk(
        read_ivf_pq_index(spark, flat_dir),
        cents, books, clustered, queries, k=5, expand=4, n_probe=4,
    )
    stats_f = [
        s for s in scan_io_stats(res_f)
        if s["path"] and flat_dir in s["path"]
    ]
    assert sum(s["numFiles"] for s in stats_f) == 8  # no pruning
    # same answers from both stores
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, res_f.collect())
    )


def test_append_equals_full_rebuild(clustered, model, tmp_path):
    """Incremental maintenance: append new vectors' rows to the stored
    index (frozen model) -> merged store row-identical to a rebuild
    over old+new, and search results identical too."""
    cents, books = model
    spark = clustered.sparkSession
    old = clustered.filter("vec_id < 1500")
    new = clustered.filter("vec_id >= 1500")
    path = str(tmp_path / "incr")
    write_ivf_pq_index(build_ivf_pq_index(old, cents, books), path)
    append_ivf_pq_index(new, path, cents, books)

    merged = read_ivf_pq_index(spark, path)
    rebuilt = build_ivf_pq_index(clustered, cents, books)
    m_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in merged.collect()
    )
    r_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in rebuilt.collect()
    )
    assert m_rows == r_rows

    queries = clustered.filter("vec_id % 400 = 7")
    a = ivf_pq_topk(
        merged, cents, books, clustered, queries,
        k=5, expand=4, n_probe=6,
    ).collect()
    b = ivf_pq_topk(
        rebuilt, cents, books, clustered, queries,
        k=5, expand=4, n_probe=6,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_append_work_is_batch_sized(clustered, model, tmp_path):
    """The append path scans ONLY the new rows (O(batch), not
    O(corpus)): pinned by the store's file layout — each append adds at
    most one new file per touched cell and rewrites nothing (existing
    file set unchanged)."""
    import os

    cents, books = model
    path = str(tmp_path / "incr2")
    write_ivf_pq_index(
        build_ivf_pq_index(clustered.filter("vec_id < 1900"), cents, books),
        path,
    )

    def files(p):
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    before = files(path)
    mtimes = {f: os.path.getmtime(f) for f in before}
    batch = clustered.filter("vec_id >= 1900")  # 100 rows
    union = probe_union(batch, cents, n_probe=1)  # cells they land near
    append_ivf_pq_index(batch, path, cents, books)
    after = files(path)
    added = set(after) - set(before)
    # nothing rewritten, and new files bounded by touched cells
    assert set(before) <= set(after)
    assert all(os.path.getmtime(f) == mtimes[f] for f in before)
    assert 0 < len(added) <= 16  # <= one file per cell the batch touched
    assert len(added) <= math.ceil(len(union) * 4)  # loose cell bound


def test_build_assign_matches_assign_cells_quantized(clustered, model):
    """ADVICE r10: the production index's cell assignment is the
    quantized integer dot — bit-for-bit the same cells as
    assign_cells(method='quantized'), so the persisted index and the
    relational/oracle path agree even on near-ties."""
    from ncagg_spark.pipeline.similarity import assign_cells

    cents, books = model
    got = {
        r["vec_id"]: r["cell"]
        for r in build_ivf_pq_index(clustered, cents, books).collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            clustered, cents, vec_col="embedding", method="quantized"
        ).collect()
    }
    assert got == want
