"""The four benchmark workloads: what each runs through the engine, how
its output is checked, and how a traced run splits it by layer.

A workload's ``run`` is the timed unit: one full pass of the job a user
would launch, from generated files on disk to outputs on disk. ``check``
reads those outputs with pyarrow/numpy only and returns the list of
failed expectations (empty means correct). ``trace`` repeats ``run``
inside a run span, with spans around the engine's public functions, and
then decomposes lazy layers by prefix: each prefix of the pipeline is
executed into Spark's ``noop`` sink and a layer's ``*.s`` is its
prefix's increment. ``Composite`` runs several workloads as one.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import Tracer, busy_seconds

# Input sizes. Each benchmark invocation is one cold run in a fresh
# process, and the gated workloads must fit the whole run budget on 4
# cores, so these are far below a real day or corpus; perfbench/README.md
# lists each size next to the size it stands for and the measured run time.
GRANULE_HZ = 4
NC_HZ = 1
CORPUS_DOCS = 1000
ANN = {"n_vectors": 5_000, "n_queries": 200, "dim": 64, "n_clusters": 32}
ANN_CELLS, ANN_PROBE, ANN_K, ANN_ITERS = 32, 8, 10, 5
ANN_RECALL_FLOOR = 0.9
MAX_HAMMING = 3

# Spark writes INT96 timestamps, which pyarrow reads as nanoseconds
_TICKS_PER_US = {"us": 1, "ns": 1000}
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def popcount(x: np.ndarray) -> np.ndarray:
    return _POPCOUNT8[x.astype(np.uint64).view(np.uint8)].reshape(
        *x.shape, 8
    ).sum(axis=-1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


class Workload:
    name = ""

    def generate(self, rng: np.random.Generator, in_dir: str) -> gen.Truth:
        raise NotImplementedError

    def run(self, spark, truth: gen.Truth, out_dir: str) -> None:
        raise NotImplementedError

    def check(self, truth: gen.Truth, out_dir: str) -> list[str]:
        raise NotImplementedError

    def trace(self, spark, truth: gen.Truth, out_dir: str, tracer: Tracer) -> dict:
        """Run once with spans (the job itself in a ``run=True`` span),
        then return this workload's per-layer metrics."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# granule days (Parquet and NetCDF)
# ---------------------------------------------------------------------------


def day_config(hz: int, **extra):
    from ncagg_spark.config import AggregationConfig

    return AggregationConfig(
        index_by="time",
        cadence_hz=float(hz),
        min_bound=gen.DAY_START_US // 1_000_000,
        max_bound=(gen.DAY_START_US + gen.DAY_US) // 1_000_000,
        fill_values={"flux": gen.FILL_SENTINEL},
        attribute_strategies=dict(gen.ATTRIBUTE_STRATEGIES),
        **extra,
    )


def check_day(facts: dict, parquet_dir: str, time_exact: bool) -> list[str]:
    """One row per slot, strictly increasing time, the planted fills,
    duplicates and junk gone, every surviving record's values intact and
    the reduced attributes equal to the numpy values."""
    bad: list[str] = []
    t = pq.read_table(parquet_dir)
    n = t.num_rows
    if n != facts["n_slots"]:
        bad.append(f"rows {n} != slots {facts['n_slots']}")
        return bad
    ts = t["time"].cast(pa.int64()).to_numpy() // _TICKS_PER_US[t["time"].type.unit]
    if not np.all(np.diff(ts) > 0):
        bad.append("time not strictly increasing")
    fill = t["is_fill"].to_numpy(zero_copy_only=False).astype(bool)
    if int(fill.sum()) != facts["fill_slots"]:
        bad.append(f"fills {int(fill.sum())} != planted {facts['fill_slots']}")
    real = ~fill
    seq = t["seq"].to_numpy(zero_copy_only=False)[real].astype(np.int64)
    if not np.array_equal(seq, facts["survivor_seq"]):
        bad.append("surviving records differ from planted survivors")
        return bad
    slot = (ts[real] - gen.DAY_START_US) // facts["step_us"]
    if not np.array_equal(slot, seq):
        bad.append("real records not on their own cadence slot")
    flux = t["flux"].to_numpy(zero_copy_only=False)[real]
    null = np.isnan(flux.astype(np.float64))
    if int(null.sum()) != facts["sentinel_survivors"]:
        bad.append(
            f"null flux {int(null.sum())} != planted sentinels "
            f"{facts['sentinel_survivors']}"
        )
    if not np.array_equal(flux[~null], gen.flux_of(seq)[~null]):
        bad.append("flux values differ")
    vec = np.stack(t["vec3"].filter(real).to_numpy(zero_copy_only=False))
    if not np.array_equal(vec, gen.vec3_of(seq)):
        bad.append("vec3 values differ")
    if time_exact and not np.array_equal(
        ts[real], facts["time_us"][seq]
    ):
        bad.append("real record times differ")
    with open(os.path.join(parquet_dir, "_attributes.json")) as f:
        attrs = json.load(f)
    if attrs != facts["attributes"]:
        bad.append(f"attributes {attrs} != {facts['attributes']}")
    return bad


def day_counts(reg_input, parquet_dir: str) -> dict:
    """Operator counts: rows regularize received, rows among them with
    a valid in-bounds index, and real vs fill rows in the output."""
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col("time").cast("timestamp"))
    valid = (us > 0) & (us >= gen.DAY_START_US) & (
        us < gen.DAY_START_US + gen.DAY_US
    )
    row = reg_input.select(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(valid, 1)).alias("valid"),
    ).first()
    t = pq.read_table(parquet_dir, columns=["is_fill"])
    fills = int(t["is_fill"].to_numpy(zero_copy_only=False).sum())
    return {
        "operators.fills_added": fills,
        "operators.invalid_dropped": row["n"] - row["valid"],
        "operators.duplicates_dropped": row["valid"] - (t.num_rows - fills),
    }


def span_jobs(spans) -> int:
    return sum(len(s.jobs) for s in spans)


def span_seconds(spans) -> float:
    return sum(s.duration for s in spans)


# engine calls both day workloads make through ncagg_spark.api
DAY_SPANS = [
    ("build_manifest", "plans.manifest.build_manifest"),
    ("reduce_attributes", "plans.attributes.reduce_attributes"),
    ("regularize", "operators.regularize.regularize"),
    ("write_aggregate", "sources.writer.write_aggregate"),
]


def day_layer_metrics(tracer: Tracer, read, out: str) -> dict:
    """Plans, operators and writer metrics of a traced day build whose
    read call was the span ``read``; runs the two prefix decompositions
    (read -> noop, read + regularize -> noop) as spans of their own."""
    reg = tracer.find("operators.regularize.regularize")[0]
    write = tracer.find("sources.writer.write_aggregate")[0]
    plans = tracer.find("plans.manifest.build_manifest") + tracer.find(
        "plans.attributes.reduce_attributes"
    )
    # prefix decomposition over the DataFrames the traced call built
    with tracer.span("prefix.read") as p_read:
        noop(read.result)
    with tracer.span("prefix.read+regularize") as p_reg:
        noop(reg.result)
    m = {
        "plans.manifest_s": span_seconds(plans),
        "plans.manifest_jobs": span_jobs(plans),
        "operators.regularize_build_s": reg.duration,
        "operators.eager_jobs": len(reg.jobs),
        "operators.s": p_reg.duration - p_read.duration,
        "operators.shuffle_write_bytes": (
            p_reg.stages["shuffleWriteBytes"] - p_read.stages["shuffleWriteBytes"]
        ),
        **day_counts(reg.args[1], out),
        "sources.writer.s": write.duration - p_reg.duration,
        "sources.writer.files": sum(
            1 for f in os.listdir(out) if f.startswith("part-")
        ),
        "sources.writer.output_bytes": tree_bytes(out),
    }
    return m


class GranuleDay(Workload):
    """288 five-minute Parquet granules -> api.aggregate(anchor="grid")."""

    name = "granule_day"

    def generate(self, rng, in_dir):
        return gen.granule_day(rng, in_dir, GRANULE_HZ)

    def config(self):
        return day_config(GRANULE_HZ)

    def run(self, spark, truth, out_dir):
        from ncagg_spark import api

        api.aggregate(
            spark, truth.files, os.path.join(out_dir, "day"), self.config(),
            anchor="grid",
        )

    def check(self, truth, out_dir):
        return check_day(truth.facts, os.path.join(out_dir, "day"), True)

    def trace(self, spark, truth, out_dir, tracer):
        from ncagg_spark import api

        patches: list = []
        for attr, name in [
            ("read_granules", "sources.granules.read_granules"), *DAY_SPANS
        ]:
            tracer.wrap(api, attr, name, patches)
        try:
            with tracer.span("api.aggregate", run=True):
                self.run(spark, truth, out_dir)
        finally:
            Tracer.restore(patches)
        read = tracer.find("sources.granules.read_granules")[0]
        m = day_layer_metrics(tracer, read, os.path.join(out_dir, "day"))
        p_read = tracer.find("prefix.read")[0]
        m["sources.granules.read_s"] = read.duration
        m["sources.granules.files"] = len(truth.files)
        m["sources.scan.s"] = p_read.duration
        m["sources.scan.input_bytes"] = p_read.stages["inputBytes"]
        m["sources.scan.records"] = p_read.stages["inputRecords"]
        return m


class NcDayParity(GranuleDay):
    """96 classic NetCDF granules -> api.aggregate_nc with reference-parity
    settings -> write_nc_aggregate_streamed(fmt="netcdf4")."""

    name = "nc_day_parity"

    def generate(self, rng, in_dir):
        return gen.nc_day_parity(rng, in_dir, NC_HZ)

    def config(self):
        return day_config(NC_HZ, bucket_phase=0.5, grid_phase="data")

    def run(self, spark, truth, out_dir):
        from ncagg_spark import api
        from ncagg_spark.sources import nc_granules

        out = api.aggregate_nc(
            spark, truth.files, os.path.join(out_dir, "day_parquet"),
            self.config(), anchor="previous",
        )
        nc_granules.write_nc_aggregate_streamed(
            out, os.path.join(out_dir, "day.nc4"), index_col="time",
            fmt="netcdf4", compression=1,
        )

    def check(self, truth, out_dir):
        bad = check_day(truth.facts, os.path.join(out_dir, "day_parquet"), False)
        path = os.path.join(out_dir, "day.nc4")
        with open(path, "rb") as f:
            if f.read(8) != b"\x89HDF\r\n\x1a\n":
                bad.append("day.nc4 is not an HDF5 file")
        # a zlib-compressed day is still more than a bit per slot
        if os.path.getsize(path) < truth.facts["n_slots"] // 8:
            bad.append("day.nc4 too small to hold the day")
        return bad

    def trace(self, spark, truth, out_dir, tracer):
        from ncagg_spark import api
        from ncagg_spark.sources import nc_granules

        patches: list = []
        for attr, name in DAY_SPANS:
            tracer.wrap(api, attr, name, patches)
        for attr in ("nc_attributes", "nc_schema"):
            tracer.wrap(nc_granules, attr, "sources.nc_granules.header_probe", patches)
        for attr, name in [
            ("read_nc_granules", "sources.nc_granules.read_nc_granules"),
            ("write_nc_aggregate_streamed", "sources.nc_granules.export"),
        ]:
            tracer.wrap(nc_granules, attr, name, patches)
        try:
            with tracer.span("api.aggregate_nc+export", run=True):
                self.run(spark, truth, out_dir)
        finally:
            Tracer.restore(patches)
        read = tracer.find("sources.nc_granules.read_nc_granules")[0]
        m = day_layer_metrics(tracer, read, os.path.join(out_dir, "day_parquet"))
        m["sources.nc_granules.decode_s"] = tracer.find("prefix.read")[0].duration
        probes = tracer.find("sources.nc_granules.header_probe")
        m["sources.nc_granules.header_probe_s"] = span_seconds(probes)
        ex = tracer.find("sources.nc_granules.export")[0]
        m["sources.nc_granules.export_s"] = ex.duration
        m["sources.nc_granules.export_driver_s"] = ex.duration - busy_seconds(
            ex.jobs, ex.wall_start * 1000, ex.wall_end * 1000
        )
        m["sources.nc_granules.export_jobs"] = len(ex.jobs)
        m["sources.nc_granules.export_bytes"] = tree_bytes(
            os.path.join(out_dir, "day.nc4")
        )
        return m


# ---------------------------------------------------------------------------
# corpus near-dedup
# ---------------------------------------------------------------------------


def simhash_pairs(sigs: np.ndarray, max_hamming: int) -> np.ndarray:
    """Every (a, b), a < b, whose signatures differ in <= max_hamming
    bits — the exact all-pairs answer, in numpy."""
    out = []
    for a in range(len(sigs) - 1):
        d = popcount(sigs[a] ^ sigs[a + 1 :])
        b = np.flatnonzero(d <= max_hamming) + a + 1
        out.append(np.stack([np.full(len(b), a), b], axis=1))
    return np.concatenate(out) if out else np.zeros((0, 2), np.int64)


def components(n: int, pairs: np.ndarray) -> np.ndarray:
    """Min-id label of each node's connected component: label
    propagation over the pair list with pointer jumping, in numpy."""
    labels = np.arange(n)
    a, b = pairs[:, 0], pairs[:, 1]
    while True:
        new = labels.copy()
        m = np.minimum(labels[a], labels[b])
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]
        if np.array_equal(new, labels):
            return labels
        labels = new


def read_pairs(path: str) -> np.ndarray:
    t = pq.read_table(path, columns=["id_a", "id_b"])
    p = np.stack([t["id_a"].to_numpy(), t["id_b"].to_numpy()], axis=1)
    return p[np.lexsort((p[:, 1], p[:, 0]))]


class CorpusNearDedup(Workload):
    """Zipf-text corpus -> simhash_signatures -> simhash_near_duplicates
    (pair table written to Parquet) -> near_dedup over the pair table ->
    survivors to Parquet."""

    name = "corpus_near_dedup"

    def generate(self, rng, in_dir):
        truth = gen.corpus_near_dedup(rng, in_dir, CORPUS_DOCS)
        sigs = truth.facts["simhash"]
        # guard the numpy SimHash against the pure-Python one
        for d in rng.choice(len(sigs), 20, replace=False):
            if gen.simhash_py(truth.facts["texts"][d]) != sigs[d]:
                raise RuntimeError(f"numpy SimHash of doc {d} is wrong")
        truth.facts["pairs"] = simhash_pairs(sigs, MAX_HAMMING)
        truth.facts["rng"] = rng
        return truth

    def run(self, spark, truth, out_dir):
        from ncagg_spark.pipeline import dedup

        docs = spark.read.parquet(truth.files[0])
        sigs = dedup.simhash_signatures(docs)
        pairs = dedup.simhash_near_duplicates(sigs, max_hamming=MAX_HAMMING)
        pair_dir = os.path.join(out_dir, "pairs")
        pairs.write.mode("overwrite").parquet(pair_dir)
        kept = dedup.near_dedup(docs, spark.read.parquet(pair_dir))
        kept.write.mode("overwrite").parquet(os.path.join(out_dir, "kept"))

    def check(self, truth, out_dir):
        """Emitted pairs equal numpy's exhaustive pair set, a seeded
        sample of them is re-checked with pure-Python SimHash, and the
        survivors are the components of the emitted pairs."""
        pairs = read_pairs(os.path.join(out_dir, "pairs"))
        want = truth.facts["pairs"]
        if not np.array_equal(pairs, want):
            return [f"{len(pairs)} emitted pairs != {len(want)} numpy pairs"]
        texts = truth.facts["texts"]
        if len(pairs):
            rng = truth.facts["rng"]
            for i in rng.choice(len(pairs), min(10, len(pairs)), replace=False):
                a, b = pairs[i]
                x = gen.simhash_py(texts[a]) ^ gen.simhash_py(texts[b])
                if bin(x).count("1") > MAX_HAMMING:
                    return [f"pair {a},{b} is {bin(x).count('1')} bits apart"]
        labels = components(len(texts), pairs)
        t = pq.read_table(os.path.join(out_dir, "kept"), columns=["doc_id", "n_members"])
        order = np.argsort(t["doc_id"].to_numpy())
        ids = t["doc_id"].to_numpy()[order]
        members = t["n_members"].to_numpy()[order]
        roots = np.flatnonzero(labels == np.arange(len(labels)))
        if not np.array_equal(ids, roots):
            return [f"{len(ids)} survivors != {len(roots)} component roots"]
        if not np.array_equal(members, np.bincount(labels)[roots]):
            return ["n_members differ from component sizes"]
        return []

    def trace(self, spark, truth, out_dir, tracer):
        from ncagg_spark.pipeline import dedup

        patches: list = []
        for attr in ("simhash_signatures", "simhash_near_duplicates", "near_dedup"):
            tracer.wrap(dedup, attr, f"pipeline.dedup.{attr}", patches)
        try:
            with tracer.span("corpus_near_dedup", run=True):
                self.run(spark, truth, out_dir)
        finally:
            Tracer.restore(patches)
        sig_df = tracer.find("pipeline.dedup.simhash_signatures")[0].result
        pair_df = tracer.find("pipeline.dedup.simhash_near_duplicates")[0].result
        cc = tracer.find("pipeline.dedup.near_dedup")[0]
        with tracer.span("prefix.signatures") as p_sig:
            noop(sig_df)
        with tracer.span("prefix.signatures+pairs") as p_pairs:
            noop(pair_df)
        n_pairs = len(read_pairs(os.path.join(out_dir, "pairs")))
        attempted = (
            p_pairs.stages["shuffleWriteRecords"]
            - p_sig.stages["shuffleWriteRecords"]
        )
        survivors = pq.read_table(
            os.path.join(out_dir, "kept"), columns=["doc_id"]
        ).num_rows
        n_docs = truth.input_records
        return {
            "pipeline.dedup.signatures_s": p_sig.duration,
            "pipeline.dedup.pairs_s": p_pairs.duration - p_sig.duration,
            "pipeline.dedup.cc_s": cc.duration,
            "pipeline.dedup.cc_jobs": len(cc.jobs),
            "pipeline.dedup.pairs": n_pairs,
            "pipeline.dedup.pairs_per_doc": n_pairs / n_docs,
            "pipeline.dedup.pairs_per_shuffle_record": (
                n_pairs / attempted if attempted else 0.0
            ),
            "pipeline.dedup.survivors": survivors,
        }


# ---------------------------------------------------------------------------
# ANN IVF
# ---------------------------------------------------------------------------


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    return np.argsort(-(q @ c.T), axis=1, kind="stable")[:, :k]


def recall_at_k(truth: gen.Truth, res_dir: str) -> float:
    t = pq.read_table(res_dir, columns=["query_id", "neighbor_id"])
    got: dict[int, set] = {}
    for q, nb in zip(t["query_id"].to_pylist(), t["neighbor_id"].to_pylist()):
        got.setdefault(q, set()).add(nb)
    exact = truth.facts["exact"]
    hits = sum(
        len(got.get(int(q), set()) & set(exact[i].tolist()))
        for i, q in enumerate(truth.facts["query_ids"])
    )
    return hits / exact.size


class AnnIvf(Workload):
    """Gaussian-cluster vectors -> kmeans_centroids -> assign_cells index
    written to Parquet -> ivf_topk over the held-out batch."""

    name = "ann_ivf"

    def generate(self, rng, in_dir):
        truth = gen.ann_ivf(rng, in_dir, **ANN)
        truth.facts["exact"] = exact_topk(
            truth.facts["corpus"], truth.facts["queries"], ANN_K
        )
        return truth

    def run(self, spark, truth, out_dir):
        from ncagg_spark.pipeline import similarity as sim

        corpus = spark.read.parquet(truth.files[0])
        queries = spark.read.parquet(truth.files[1])
        cents = sim.kmeans_centroids(
            corpus, ANN_CELLS, max_iter=ANN_ITERS, tol=0.0,
            assign_method="arrow",
        )
        index_dir = os.path.join(out_dir, "index")
        sim.assign_cells(corpus, cents, method="arrow").write.mode(
            "overwrite"
        ).parquet(index_dir)
        res = sim.ivf_topk(
            corpus, queries, k=ANN_K, n_cells=ANN_CELLS, n_probe=ANN_PROBE,
            centroids=cents, corpus_cells=spark.read.parquet(index_dir),
        )
        res.write.mode("overwrite").parquet(os.path.join(out_dir, "topk"))

    def check(self, truth, out_dir):
        r = recall_at_k(truth, os.path.join(out_dir, "topk"))
        if r < ANN_RECALL_FLOOR:
            return [f"recall@{ANN_K} {r:.3f} < floor {ANN_RECALL_FLOOR}"]
        return []

    def trace(self, spark, truth, out_dir, tracer):
        from ncagg_spark.pipeline import similarity as sim

        patches: list = []
        tracer.wrap(sim, "kmeans_centroids", "pipeline.similarity.train", patches)
        try:
            with tracer.span("ann_ivf", run=True):
                # same calls as run(), each in its own span
                corpus = spark.read.parquet(truth.files[0])
                queries = spark.read.parquet(truth.files[1])
                cents = sim.kmeans_centroids(
                    corpus, ANN_CELLS, max_iter=ANN_ITERS, tol=0.0,
                    assign_method="arrow",
                )
                index_dir = os.path.join(out_dir, "index")
                with tracer.span("pipeline.similarity.index"):
                    sim.assign_cells(corpus, cents, method="arrow").write.mode(
                        "overwrite"
                    ).parquet(index_dir)
                with tracer.span("pipeline.similarity.search"):
                    res = sim.ivf_topk(
                        corpus, queries, k=ANN_K, n_cells=ANN_CELLS,
                        n_probe=ANN_PROBE, centroids=cents,
                        corpus_cells=spark.read.parquet(index_dir),
                    )
                    res.write.mode("overwrite").parquet(
                        os.path.join(out_dir, "topk")
                    )
        finally:
            Tracer.restore(patches)
        train = tracer.find("pipeline.similarity.train")[0]
        return {
            "pipeline.similarity.train_s": train.duration,
            "pipeline.similarity.train_jobs": len(train.jobs),
            "pipeline.similarity.index_s": tracer.find("pipeline.similarity.index")[0].duration,
            "pipeline.similarity.search_s": tracer.find("pipeline.similarity.search")[0].duration,
            "pipeline.similarity.recall_at_k": recall_at_k(
                truth, os.path.join(out_dir, "topk")
            ),
        }


# ---------------------------------------------------------------------------
# composites: the gated workloads
# ---------------------------------------------------------------------------


class Composite(Workload):
    """Several workloads as one run: each part's job in turn, on inputs
    generated one after another from the same seed, outputs and checks
    kept apart in a directory per part. Per-layer metrics are summed
    over the parts (the parts' layers overlap only in additive ones:
    seconds, jobs, bytes and counts)."""

    def __init__(self, name: str, parts: list[Workload]):
        self.name, self.parts = name, parts

    def _each(self, truth: gen.Truth, out_dir: str):
        for part, t in zip(self.parts, truth.facts["parts"]):
            yield part, t, os.path.join(out_dir, part.name)

    def generate(self, rng, in_dir):
        truths = [p.generate(rng, os.path.join(in_dir, p.name)) for p in self.parts]
        return gen.Truth(
            files=[f for t in truths for f in t.files],
            input_records=sum(t.input_records for t in truths),
            input_bytes=sum(t.input_bytes for t in truths),
            facts={"parts": truths},
        )

    def run(self, spark, truth, out_dir):
        for part, t, out in self._each(truth, out_dir):
            os.makedirs(out, exist_ok=True)
            part.run(spark, t, out)

    def check(self, truth, out_dir):
        return [
            f"{part.name}: {b}"
            for part, t, out in self._each(truth, out_dir)
            for b in part.check(t, out)
        ]

    def trace(self, spark, truth, out_dir, tracer):
        m: dict[str, float] = {}
        for part, t, out in self._each(truth, out_dir):
            os.makedirs(out, exist_ok=True)
            tracer.base = len(tracer.spans)
            for k, v in part.trace(spark, t, out, tracer).items():
                m[k] = m.get(k, 0) + v
        tracer.base = 0
        return m


_granule, _nc, _corpus, _ann = GranuleDay(), NcDayParity(), CorpusNearDedup(), AnnIvf()
WORKLOADS = {
    w.name: w
    for w in (
        Composite("granule_days", [_granule, _nc]),
        Composite("dedup_and_ann", [_corpus, _ann]),
        _granule,
        _nc,
        _corpus,
        _ann,
    )
}
