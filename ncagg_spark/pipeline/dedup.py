"""Deduplication operators for training-data pipelines.

  * exact_duplicates / exact_dedup — md5-fingerprint hash-groupBy. One
    shuffle on a 128-bit key; at 100 TB this is the canonical first pass.
  * minhash LSH — shingle -> minhash signature -> band -> bucket self-join.
    Candidate generation touches only docs sharing a band bucket (the
    classic sub-quadratic near-dup pass); exact Jaccard verifies
    candidates.
  * simhash — 32-bit signature + hamming distance on candidates.
  * ngram-Jaccard — exact verification metric, also usable standalone on
    any candidate pair set.
  * embedding cosine near-dup — pairs whose embeddings' cosine exceeds a
    threshold, LSH-bucketed via sign-random-projection to stay
    sub-quadratic.

All signature math is portable md5-based hashing (functions/hashing.py) so
the DuckDB oracle reproduces signatures bit-for-bit.

Scale notes: every self-join here is an equi-join on a bucket/band key,
shuffle-partitioned by that key; skew (a giant bucket = boilerplate text)
is the known failure mode — AQE skew-join splits it, and
``max_bucket_size`` hard-caps pathological buckets (drops buckets larger
than the cap, the standard trade-off in web-scale dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ncagg_spark.functions.hashing import (
    MERSENNE31,
    SIMHASH_BITS,
    band_hashes,
    hash64,
    minhash_perms,
)
from ncagg_spark.pipeline.text import fingerprint, tokenize, word_ngrams


# adaptive connected-components sizing: one loop-stage task per this many
# edge rows. The per-round work (hash join + min-combine) is CPU-light,
# so the sweet spot is small tasks — measured on a 258k-edge-row graph at
# sf0.1: 1 partition 3.6s, 4-8 partitions 3.4-3.5s for the whole loop —
# while the session shuffle width caps the count so a 100 TB pair graph
# never schedules more loop tasks than the cluster has reduce slots.
_CC_EDGES_PER_PARTITION = 64_000

# above this measured edge count the loop's edge cache goes DISK_ONLY
# and the pre-repartition cache is dropped before the loop instead of
# after round 1: ~100M edge rows x 16 B is the point where heap-resident
# caches start competing with the loop's own sorters/aggregates on
# memory-per-core ratios like the 8 GiB local[32] gate (guide §5)
_CC_HEAP_CACHE_MAX_EDGES = 100_000_000

# size-gated driver solve for connected components: when the MEASURED
# symmetric edge list fits comfortably on the driver, one vectorized
# numpy pass replaces ~6 eager loop rounds (each a join + groupBy +
# checkpoint + convergence action). The same "build side fits" logic as
# a broadcast join, and the same bound class: 4M edge rows x 16 B =
# 64 MB of key data, an order of magnitude under the default
# spark.driver.maxResultSize (1g). The distributed loop remains the
# path for every larger graph (the sf10 doc graph, ~124M edge rows,
# stays on it — tools/verify_cc.py keeps checking that loop
# independently at scale).
_CC_DRIVER_MAX_EDGES = 4_000_000


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _cc_on_driver(edges: DataFrame) -> DataFrame | None:
    """Solve min-label connected components on the driver: vectorized
    numpy min-label propagation with pointer jumping (O(E) per round,
    O(log n) rounds — the construction proven at the sf10 graph size in
    tools/verify_cc.py). Identical output contract to the distributed
    loop: (node, cluster_id = min node id reachable), one row per node
    appearing in the edge list. Returns ``None`` when the edge list
    carries NULL ids (ADVICE r15: ``to_numpy(dtype=int64)`` would
    raise) — the caller falls back to the distributed loop, whose
    null behavior is the contract."""
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    node_t = edges.schema["src"].dataType.simpleString()
    schema = f"node {node_t}, cluster_id {node_t}"
    pdf = edges.toPandas()  # Arrow transfer; bounded by the edge gate
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    if pdf.isna().any().any():
        return None
    arr = pdf.to_numpy(dtype=np.int64)
    ids, inv = np.unique(arr, return_inverse=True)
    inv = inv.reshape(-1, 2)
    ia, ib = inv[:, 0], inv[:, 1]
    labels = np.arange(len(ids), dtype=np.int64)
    while True:
        before = labels.copy()
        m = np.minimum(labels[ia], labels[ib])
        np.minimum.at(labels, ia, m)
        np.minimum.at(labels, ib, m)
        while True:  # pointer jumping: labels hold indices into ids
            nl = labels[labels]
            if np.array_equal(nl, labels):
                break
            labels = nl
        if np.array_equal(labels, before):
            break
    out = pd.DataFrame({"node": ids, "cluster_id": ids[labels]})
    return spark.createDataFrame(out, schema=schema)


def _spread_small_input(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition by id when the input has fewer partitions than the
    cluster has slots — a handful of small granule files would otherwise
    serialize the (CPU-heavy) hashing into one task. A no-op at scale,
    where the scan already yields >= parallelism partitions; and since the
    groupBy(id) downstream needs hashpartitioning(id) anyway, this moves
    the one unavoidable shuffle BEFORE the hash work instead of adding one.
    """
    sc = df.sparkSession.sparkContext
    # inputFiles() reads only the file listing — unlike df.rdd, it does not
    # force plan conversion/analysis on every call.
    try:
        n_in = len(df.inputFiles())
    except Exception:
        n_in = sc.defaultParallelism
    if 0 < n_in < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, F.col(id_col))
    return df


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of identical (whitespace-normalized) documents: one row per
    fingerprint with the member count and the kept (minimum) id.
    """
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per identical-text group."""
    w_keep = exact_duplicates(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    # broadcast-free: semi join on id (both sides hash-partition by id)
    return df.join(w_keep, on=id_col, how="semi")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_perm: int = 16,
    seed: int = 42,
    shingles_col: str | None = None,
) -> DataFrame:
    """(id, sig array<long>) — MinHash over word n-gram shingles.

    Relational formulation: explode shingles -> one md5 per distinct
    shingle -> groupBy(id).agg(min(perm_i(h)) x num_perm). Everything is
    whole-stage codegen with map-side partial aggregation (the 16 mins
    combine before the shuffle), and ``sig`` is MATERIALIZED at the
    aggregate — downstream element_at/banding reads an attribute instead
    of re-evaluating the signature expression.

    (The expression-tree alternative — array_min over F.transform — is
    ~16x slower downstream: higher-order-function subtrees are excluded
    from Spark's subexpression elimination, so every element_at of the
    sig re-runs all the hashing.)

    Docs with fewer than shingle_n tokens get an all-null signature
    (explode_outer keeps them; min over the null hash is null), matching
    array_min-over-empty semantics and the DuckDB oracle.

    ``shingles_col`` (round 11, VERDICT r10 #6): the name of an
    ALREADY-COMPUTED distinct-shingle array column — composed pipelines
    (clean_corpus) materialize the tokenized projection once on their
    cached gate output and share it between the signature and the
    Jaccard-verify stages, so the CPU-heavy tokenize/ngram pass runs
    once per doc, not twice. When given, ``text_col`` is unused and the
    small-input spread is skipped (the caller's projection is already
    distributed).
    """
    if shingles_col is not None:
        exploded = df.select(
            F.col(id_col),
            F.explode_outer(F.col(shingles_col)).alias("__shingle"),
        )
    else:
        shingles = F.array_distinct(
            word_ngrams(tokenize(text_col), shingle_n)
        )
        # spread BEFORE shingling: tokenize/ngram generation is the
        # CPU-heavy step and must not run in the handful of scan tasks
        # a small file yields; shuffling raw docs is cheap relative to
        # it
        base = _spread_small_input(df.select(id_col, text_col), id_col)
        exploded = base.select(
            F.col(id_col), F.explode_outer(shingles).alias("__shingle")
        )
    hashed = exploded.select(
        F.col(id_col), (hash64(F.col("__shingle")) % MERSENNE31).alias("__h")
    )
    aggs = [
        F.min(
            (F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MERSENNE31)
        ).alias(f"__s{i}")
        for i, (a, b) in enumerate(minhash_perms(num_perm, seed))
    ]
    sig_cols = [F.col(f"__s{i}") for i in range(num_perm)]
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*sig_cols).alias("sig"))
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    *,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
    n_salts: int = 16,
    num_perm: int | None = None,
    exact_cap_semantics: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band bucket.

    Exploded band table is hash-partitioned by (band, hash); buckets larger
    than ``max_bucket_size`` are dropped (pathological boilerplate guard).
    Pass ``num_perm`` (the signature length) to validate the banding up
    front: bands x rows > num_perm would index past the signature
    (runtime INVALID_ARRAY_INDEX under ANSI), fewer would silently
    ignore part of it (recall loss).

    Each pair is emitted EXACTLY ONCE — from the first band where the
    two documents collide (round 8). Every band row carries the PREFIX
    of its document's earlier band hashes (avg (B-1)/2 longs); at pair
    expansion a collision in any earlier band suppresses the emission,
    so the result is duplicate-free by construction and the old
    ``.distinct()`` — measured 83% of the query's shuffle bytes at
    sf10 (81.3M pair rows, 3.0x cross-band duplication) — disappears.
    Cap interaction (unchanged whenever no bucket exceeds the cap,
    i.e. everywhere measured through sf10): a pair whose FIRST
    colliding band sits in a dropped bucket is suppressed even if a
    later band's bucket is kept — "first colliding band must be kept",
    where the old rule was "any kept band" (prefix equality cannot see
    cap membership). Measured on the pathological boilerplate fixture
    in tests/test_pipeline_dedup.py (one 3x-over-cap band-0 bucket):
    only pairs whose FIRST colliding band is the dropped bucket are
    affected — recall 2/3 vs the old rule's 3/3 on the deliberately
    adversarial fixture, identical pair sets for both rules the moment
    no bucket overflows.

    ``exact_cap_semantics=True`` restores the old "any kept band" rule
    exactly: dropped (over-cap) buckets are enumerated (they are the
    pathology — few by construction), and each member's matching
    prefix hash is re-marked with a doc-unique value so a collision in
    a dropped band can never suppress a later kept-band emission.
    Costs one extra evaluation of the grouped aggregation (an eager
    driver collect of the dropped bucket KEYS only — nothing is
    persisted, so nothing leaks in long-lived applications); the
    emitted pair expression is unchanged when no bucket exceeds the
    cap. Output stays duplicate-free: pairs emit from their first
    KEPT colliding band.
    """
    if num_perm is not None and num_bands * rows_per_band != num_perm:
        raise ValueError(
            f"banding {num_bands}x{rows_per_band} does not cover the "
            f"{num_perm}-permutation signature exactly"
        )
    bands = (
        sigs.select(
            F.col(id_col),
            band_hashes(F.col("sig"), num_bands, rows_per_band).alias(
                "__bhs"
            ),
        )
        .select(
            F.col(id_col),
            F.posexplode("__bhs").alias("band", "bh"),
            # earlier bands' hashes (band is 0-based; slice is 1-based
            # with length band -> exactly bands 0..band-1)
            F.expr("slice(__bhs, 1, band)").alias("__pre"),
        )
    )
    # SALTED truncation: a pathological bucket (boilerplate shared by
    # millions of docs) would make a rank over (band, bh) a single task —
    # window partitions are exactly the thing AQE skew handling canNOT
    # split. So rank within (band, bh, salt) instead: n_salts parallel
    # tasks per hot bucket, each truncating streaming-side at cap+1, then
    # let the groupBy apply the exact global cap on the already-bounded
    # remnant (<= n_salts*(cap+1) rows per bucket — bounded collect_list
    # memory by construction). Drop semantics are unchanged by the salt:
    # surviving_count = sum_s min(count_s, cap+1) > cap  <=>  original
    # bucket had > cap members (pigeonhole: either some salt group
    # truncated at cap+1 > cap, or none did and surviving == original).
    # Cost: the groupBy can no longer reuse the window's partitioning
    # (one extra shuffle of the truncated band table) — the price of
    # removing the only unbounded single-task stage in the dedup path.
    salt = F.pmod(F.xxhash64(id_col), F.lit(n_salts))
    w = Window.partitionBy("band", "bh", "__salt").orderBy(id_col)
    ranked = (
        bands.withColumn("__salt", salt)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= max_bucket_size + 1)
    )
    # One shuffle gathers each bucket; pairs are expanded in place with
    # posexplode + slice. The self-join alternative shuffles the band
    # table twice (once per join side) — at corpus scale that doubles
    # the dominant shuffle for identical output.
    grouped = ranked.groupBy("band", "bh").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("__pre").alias("pre"),
                )
            )
        ).alias("ms")
    )
    dropped_by_band: dict[int, list] = {}
    if exact_cap_semantics:
        # over-cap buckets are the pathology — few by construction, so
        # their (band, hash) keys fit the driver trivially. The salted
        # truncation preserves the over-cap signal: surviving size >
        # cap <=> original size > cap (pigeonhole, see above). This
        # eager collect evaluates the grouped aggregation once on its
        # own; the returned (lazy) pairs plan re-evaluates it — the
        # documented 2x-shuffle cost of exact mode. Deliberately NOT
        # persisted: a cached copy would outlive the call and leak in
        # long-lived applications, and exact mode is the pathological-
        # corpus opt-in, not the hot path.
        for r in (
            grouped.filter(F.size("ms") > max_bucket_size)
            .select("band", "bh")
            .collect()
        ):
            dropped_by_band.setdefault(int(r["band"]), []).append(r["bh"])
    buckets = grouped.filter(
        (F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size)
    )
    if dropped_by_band:
        # re-mark each member's prefix hash with a doc-unique value
        # wherever (band i, pre[i]) is a dropped bucket: a collision in
        # a dropped band can then never suppress the pair (the two docs
        # get different marks), restoring the pre-r8 "any kept band"
        # drop semantics. The mark xxhash64(id, band, 24249) is treated
        # as doc-unique: two members of the same dropped bucket whose
        # marks collide (P ~= 2^-64 per pair) would wrongly suppress
        # their pair — accepted, far below the MinHash estimator's own
        # error. Literal map: band index -> dropped hashes; bands whose
        # NULL-hash bucket overflowed are tracked separately
        # (array_contains cannot match null). NOTE: band_hashes builds
        # every band hash as hash64(concat_ws(...)), which is never
        # NULL, so for signatures produced by THIS pipeline the null
        # branch is unreachable — it exists only for externally
        # supplied band-hash tables (not a supported input today).
        ent = []
        null_bands = []
        for band, hs in sorted(dropped_by_band.items()):
            nn = [h for h in hs if h is not None]
            if len(nn) < len(hs):
                null_bands.append(band)
            if nn:
                ent.append(F.lit(band))
                ent.append(F.array(*[F.lit(int(h)) for h in nn]))
        dmap = (
            F.create_map(*ent)
            if ent
            else F.expr("map()").cast("map<int,array<bigint>>")
        )
        dnull = (
            F.array(*[F.lit(b) for b in null_bands])
            if null_bands
            else F.array().cast("array<int>")
        )
        buckets = buckets.withColumn("__dmap", dmap).withColumn(
            "__dnull", dnull
        )
        buckets = buckets.select(
            "band",
            "bh",
            F.expr(
                "transform(ms, m -> struct(m.id as id, "
                "transform(m.pre, (x, i) -> CASE "
                "WHEN (x IS NULL AND array_contains(__dnull, i)) "
                "  OR coalesce(array_contains("
                "       try_element_at(__dmap, i), x), false) "
                "THEN xxhash64(m.id, i, 24249) ELSE x END) as pre))"
            ).alias("ms"),
        )
    # first-colliding-band emission: suppress the pair when any earlier
    # band hash matches (null-safe <=> mirrors groupBy null semantics —
    # two all-null signatures DO share a bucket, and their pair is
    # emitted exactly once, from band 0). No distinct needed: one doc
    # appears once per band bucket and collides in exactly one first
    # band, so the expansion is duplicate-free by construction.
    pairs = (
        buckets.select(F.col("ms"), F.posexplode("ms").alias("i", "a"))
        .select(
            "a",
            F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b"),
        )
        .filter(
            ~F.expr("exists(zip_with(a.pre, b.pre, (x, y) -> x <=> y), v -> v)")
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
    )
    return pairs


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    shingles_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word-shingle sets for given pairs
    (columns id_a, id_b). Returns (id_a, id_b, jaccard double).
    ``shingles_col`` reuses a precomputed distinct-shingle array (see
    minhash_signatures) instead of re-tokenizing ``text_col``.
    """
    if shingles_col is not None:
        sh = df.select(
            F.col(id_col), F.col(shingles_col).alias("sh")
        )
    else:
        sh = df.select(
            F.col(id_col),
            F.array_distinct(
                word_ngrams(tokenize(text_col), shingle_n)
            ).alias("sh"),
        )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a"), on="id_a")
        .withColumnRenamed("sh", "sh_a")
        .join(sh.withColumnRenamed(id_col, "id_b"), on="id_b")
        .withColumnRenamed("sh", "sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        (inter.cast("double") / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash long) — 32-bit SimHash over whitespace tokens.

    Relational formulation (same rationale as minhash_signatures): explode
    tokens -> one md5 per token occurrence -> groupBy(id) with 32 bit-vote
    sums (map-side combine) -> assemble the signature from the vote signs.
    Duplicate tokens vote multiple times, matching the DuckDB oracle
    (functions/hashing.py:sql_simhash64). Empty docs get simhash 0.
    """
    bits = 32
    base = _spread_small_input(df.select(id_col, text_col), id_col)
    exploded = base.select(
        F.col(id_col), F.explode_outer(tokenize(text_col)).alias("__tok")
    )
    hashed = exploded.select(F.col(id_col), hash64(F.col("__tok")).alias("__h"))
    votes = [
        F.sum(
            F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"__v{j}")
        for j in range(bits)
    ]
    g = hashed.groupBy(id_col).agg(*votes)
    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(
            F.col(f"__v{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return g.select(F.col(id_col), acc.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    num_partitions: int | None = None,
    unique_pairs: bool = False,
) -> DataFrame:
    """Duplicate clustering: connected components over a near-dup pair
    graph. Returns (node, cluster_id) where cluster_id is the minimum
    node id reachable from ``node`` — the canonical representative used to
    keep exactly one document per duplicate cluster.

    Iterative min-label propagation, the idiomatic Spark formulation of an
    algorithm the reference's single-pass design cannot express: each
    round, every node takes the min of its own label and its neighbors',
    then jumps to its label's label. Near-dup clusters are shallow and
    converge in a handful of rounds, but the round count has no
    diameter-based bound: a graph of three 1,000-node cycles is still
    unconverged after 60 rounds (ROADMAP direction 3). When
    ``max_iter`` rounds end with the labels still changing, the loop
    raises ``RuntimeError`` instead of returning partial clusters.
    Per round: one shuffle
    (edges ⋈ labels on src, both sides hash-partitioned by node id) + one
    map-side-combining groupBy. ``localCheckpoint`` truncates the lineage
    so plan size stays constant across iterations, and the convergence
    check rides the same job that materializes the new labels. For graphs
    with giant diameters at 100 TB, swap in large-star/small-star
    (O(log n) rounds, same per-round shape).

    With ``num_partitions=None`` the edge list is counted first and the
    solve path derives from the MEASURED size: a graph within the
    driver gate (``_CC_DRIVER_MAX_EDGES``, integral ids) is solved in
    one vectorized pass on the driver — the broadcast-join "build side
    fits" logic applied to an iterative algorithm — while larger graphs
    run the distributed loop at a width derived from the edge count.

    ``unique_pairs=True`` skips the edge-dedup ``distinct()`` — one full
    shuffle of the edge list saved per call. Correct whenever the input
    emits each undirected pair at most once in the ``id_a < id_b``
    convention (true by construction for minhash_lsh_candidates and
    simhash_near_duplicates: the symmetric fwd/rev union then cannot
    collide). Duplicate edges would not change the RESULT either way
    (min-label is idempotent over multiplicity) — the distinct only
    bounds per-round row counts when the caller cannot vouch.
    """
    # symmetric edge list; self-propagation is covered by unioning the
    # node's own label into the groupBy below
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.union(rev)
    if not unique_pairs:
        edges = edges.distinct()
    # audit hook (VERDICT r15 #5): when the driver gate fires, the
    # consumer's returned plan collapses to a local scan — expose the
    # pair-pipeline plan to plan audits regardless of the solve path
    from ncagg_spark import plan_probe

    plan_probe.observe("cc-edges", edges)
    # size the per-round shuffles to the GRAPH, not the corpus: the pair
    # graph is orders of magnitude smaller than its source table, and an
    # iterative loop pays scheduling overhead per round per task.
    # num_partitions=None derives the count from the MEASURED edge count
    # (guide §2: partitioning scales with input size, never a constant):
    # one extra cheap pass over the just-persisted edge list buys every
    # per-round stage the right width — 1 task for the sf0.1-sized
    # graphs that used to schedule 8, |edges|/target tasks at 100 TB.
    raw = None
    if num_partitions is None:
        raw = edges.persist()
        n_edges = raw.count()
        if n_edges <= _CC_DRIVER_MAX_EDGES and all(
            pairs.schema[c].dataType.simpleString() in _INTEGRAL_TYPES
            for c in (id_a, id_b)
        ):
            # the measured graph fits the driver gate — solve it there
            # in one pass instead of paying ~6 eager loop rounds of
            # fixed scheduling/shuffle cost (see _CC_DRIVER_MAX_EDGES);
            # a None return (NULL ids in the edge list) falls through
            # to the distributed loop below
            try:
                solved = _cc_on_driver(raw)
            except Exception:
                raw.unpersist()
                raise
            if solved is not None:
                raw.unpersist()
                return solved
        # cap at the session's adaptive ceiling (initialPartitionNum,
        # r16), not the static shuffle.partitions: a 0.9B-edge graph at
        # the 32-wide static cap put ~28M edge rows through every
        # per-round task; the ceiling is what the session already
        # declares "the widest a shuffle may sensibly start"
        sess = pairs.sparkSession
        cap = int(
            sess.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                None,
            )
            or sess.conf.get("spark.sql.shuffle.partitions")
        )
        num_partitions = max(1, min(
            cap, -(-n_edges // _CC_EDGES_PER_PARTITION)
        ))
        if n_edges > _CC_HEAP_CACHE_MAX_EDGES:
            # guide §5: a graph this size cached in the block manager
            # competes with every sorter/aggregate in the loop (a
            # 0.9B-edge list is ~14 GB — measured OOM on the 8 GiB
            # local JVM with BOTH the pre- and post-repartition caches
            # heap-resident). Recomputing the edge list once into the
            # repartitioned DISK_ONLY cache is cheaper than thrashing:
            # drop the pre-repartition cache now instead of after
            # round 1.
            raw.unpersist()
            raw = None
        if num_partitions == 1:
            # SinglePartition satisfies every clustered-distribution
            # requirement in the loop, so a shuffle-free coalesce of the
            # cached edge list replaces the repartition outright
            edges = (raw if raw is not None else edges).coalesce(1)
        else:
            edges = (raw if raw is not None else edges).repartition(
                num_partitions, "src"
            )
        big_graph = n_edges > _CC_HEAP_CACHE_MAX_EDGES
    else:
        edges = edges.repartition(num_partitions, "src")
        big_graph = False
    edges = edges.persist(
        StorageLevel.DISK_ONLY if big_graph else StorageLevel.MEMORY_AND_DISK
    )

    # init = min(self, min neighbor): the same single groupBy-src shuffle
    # a plain distinct() would cost, but it performs the first
    # propagation round for free (one fewer iteration on every graph)
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("__m"))
        .select(
            "node", F.least(F.col("node"), F.col("__m")).alias("label")
        )
        .persist()
    )

    # scope EVERY per-round shuffle (the groupBy and both joins) to the
    # graph-sized partition count for the whole eager loop: with the
    # session default in force the per-round exchanges came out at
    # corpus-scale width and the persisted edges' hash(src,
    # num_partitions) layout never matched, so edges re-shuffled every
    # round (r15, measured)
    from ncagg_spark.tuning import scoped_shuffle_partitions

    prev_sum = None
    with scoped_shuffle_partitions(pairs.sparkSession, num_partitions):
        for _ in range(max_iter):
            msgs = (
                edges.join(labels, edges.src == labels.node)
                .select(F.col("dst").alias("node"), "label")
            )
            propagated = (
                msgs.union(labels.select("node", "label"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # path compression (pointer jumping): replace each label by
            # ITS label. On chain-shaped duplicate clusters this cuts
            # the rounds from O(diameter) to about log(diameter); on
            # cycle-shaped graphs it gives no such bound (ROADMAP
            # direction 3), hence the non-convergence error below
            jump = propagated.select(
                F.col("node").alias("label"), F.col("label").alias("jumped")
            )
            new_labels = (
                propagated.join(jump, on="label", how="left")
                .select(
                    "node", F.coalesce("jumped", "label").alias("label")
                )
                .localCheckpoint()  # eager: cuts lineage, runs once
            )
            # labels are monotonically non-increasing, so convergence is
            # exactly "sum of labels unchanged" — a shuffle-free agg over
            # the checkpointed rows, replacing a join-based diff action
            # per round
            cur_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).collect()[0][0]
            # the first round's actions have now filled the
            # repartitioned `edges` cache — the pre-repartition cache
            # (`raw`, kept only for the measured count and as the
            # repartition's input) is dead weight from here on; holding
            # both doubled peak storage for the whole loop (guide §5 —
            # at a 10^9-edge-row graph that is the difference between
            # caches that fit and caches that thrash)
            if raw is not None:
                raw.unpersist()
                raw = None
            labels.unpersist()
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            n_edges = edges.count()
            edges.unpersist()
            labels.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"rounds over {n_edges} edge rows: the labels still "
                f"changed in the last round; raise max_iter"
            )

    edges.unpersist()
    if raw is not None:
        raw.unpersist()
    return labels.select(
        F.col("node"), F.col("label").alias("cluster_id")
    )


def near_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    num_partitions: int | None = None,
    unique_pairs: bool = False,
) -> DataFrame:
    """End-to-end near-duplicate removal: cluster the near-dup pair graph
    (connected components) and keep exactly one representative per
    cluster — the minimum id, the web-pipeline convention. Docs outside
    the graph are unique and always kept.

    Returns the kept rows of ``df`` plus ``n_members`` (the size of the
    duplicate cluster the kept doc represents; 1 for unique docs). The
    corpus-side joins are plain equi-joins on the id — the label table is
    O(duplicates), tiny next to the corpus, so AQE broadcasts it.
    """
    labels = connected_components(
        pairs, num_partitions=num_partitions, unique_pairs=unique_pairs
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    reps = (
        labels.filter(F.col("node") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select(F.col("node").alias(id_col), "n_members")
    )
    losers = labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return (
        df.join(losers, on=id_col, how="left_anti")
        .join(reps, on=id_col, how="left")
        .withColumn(
            "n_members",
            F.coalesce(F.col("n_members"), F.lit(1).cast("long")),
        )
    )


def simhash_near_duplicates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    block_bits: int = 4,
    max_block_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Sub-quadratic via the multi-block combination scheme (Manku et al.,
    "Detecting Near-Duplicates for Web Crawling", WWW 2007): split the
    32-bit signature into ``n_blocks = 32 / block_bits`` blocks. A pair
    within distance ``max_hamming`` corrupts at most ``max_hamming``
    blocks, so it agrees EXACTLY on some ``k = n_blocks - max_hamming``
    of them (pigeonhole) — and therefore on at least one of the
    C(n_blocks, k) k-block combinations. Each signature is keyed under
    every combination (table id + the k concatenated block values);
    bucket-mates of any table are candidates, verified by the exact
    hamming filter below. Recall-complete for every ``block_bits``; the
    knob only trades probe rows (C(n_blocks, k) per doc) against key
    width (k * block_bits bits), i.e. against CHANCE candidates per
    table, which fall off as 2^-(k * block_bits).

    ``block_bits=8`` is the degenerate k=1 form (4 tables of 8-bit
    keys, the r15 shape): at 5M docs every 8-bit bucket holds ~20k
    signatures, the in-bucket expansion is quadratic (~2 * 10^11
    candidate pairs) and the bucket gather OOMs (measured: sf100 third-
    decade run, OPTIMIZATION_r16.md). The default is now
    ``block_bits=4`` — k=5, 56 tables of 20-bit keys — the SAME exact
    pair set (pigeonhole + hamming filter + distinct are unchanged,
    pinned by test) for ~2^9 fewer chance candidates per doc pair.
    """
    n_blocks = SIMHASH_BITS // block_bits
    k = n_blocks - max_hamming
    if k < 1:
        # pigeonhole guarantee needs distance < n_blocks: a pair with
        # max_hamming >= n_blocks differing bits can differ in EVERY
        # block and would silently never be candidated.
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"with {n_blocks} blocks (need max_hamming < {n_blocks}); "
            f"use smaller block_bits"
        )
    from itertools import combinations

    from ncagg_spark.functions.binding import bind_once
    from ncagg_spark.tuning import plan_bytes

    combos = list(combinations(range(n_blocks), k))

    def probe_structs(blks: Column) -> Column:
        out = []
        for cid, combo in enumerate(combos):
            key = F.lit(0).cast("long")
            for j, b in enumerate(combo):
                key = key + F.shiftleft(
                    F.element_at(blks, b + 1), j * block_bits
                )
            out.append(
                F.struct(
                    F.lit(cid).alias("blk"), key.alias("key")
                )
            )
        return F.array(*out)

    # the 8 block extractions are bound once per row (bind_once); each
    # is referenced by C(n_blocks-1, k-1) combination keys
    block_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), i * block_bits)
            .bitwiseAND(F.lit((1 << block_bits) - 1))
            for i in range(n_blocks)
        ]
    )
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(bind_once(block_arr, probe_structs)).alias("b"),
    ).select(id_col, "simhash", F.col("b.blk"), F.col("b.key"))
    # Size the bucket-gather shuffle to the PROBE volume, not the
    # session constant (guide §2): the explode above multiplies every
    # signature row by C(n_blocks, k) ~28-byte structs, so at 5M docs
    # the gather moves ~8 GB through whatever width the session says —
    # at the local default 32 that put ~260M probe rows plus their
    # expanded candidates through EACH task and OOMed the 8 GiB JVM
    # (measured, sf100 third-decade run). Derived from the optimizer's
    # size estimate of the signature subtree: ~35 bytes per (id, sig)
    # row (measured stable sf0.001-sf100), ~28 bytes per probe struct
    # row, targeting ~64 MiB of probe rows per task. Only widens (the
    # session width stands when it is already enough, or when the
    # estimate failed), so small-scale plans are byte-identical.
    sig_bytes = plan_bytes(sigs)
    gather_width = 0
    if sig_bytes is not None:
        n_probe_rows = max(1, sig_bytes // 35) * len(combos)
        gather_width = -(-n_probe_rows * 28 // (64 * 1024 * 1024))
    session_width = int(
        sigs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if gather_width > session_width:
        blocks = blocks.repartition(
            min(gather_width, 4096), "blk", "key"
        )
    # Same single-shuffle bucket-gather as minhash_lsh_candidates: a
    # self-join would shuffle the block table twice AND run the whole
    # signature pipeline (tokenize -> shingle -> hash -> 32 bit votes)
    # once per join side. Gathering each block bucket and expanding
    # pairs in place computes signatures once.
    #
    # max_block_bucket=None (default) is UNCAPPED: this function promises
    # exact parity with a quadratic scan (recall-complete pigeonhole), so
    # dropping an oversized bucket would silently lose true pairs. Pass a
    # cap only when trading that guarantee for bounded memory at
    # web-corpus scale (boilerplate buckets).
    ranked = blocks
    if max_block_bucket is not None:
        w = Window.partitionBy("blk", "key").orderBy(id_col)
        ranked = blocks.withColumn("__r", F.row_number().over(w)).filter(
            F.col("__r") <= max_block_bucket + 1
        )
    buckets = (
        ranked.groupBy("blk", "key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    if max_block_bucket is not None:
        buckets = buckets.filter(F.size("ms") <= max_block_bucket)
    expanded = (
        buckets.select(
            F.col("blk"), F.col("ms"), F.posexplode("ms").alias("i", "a")
        )
        .select(
            "blk",
            F.col("a.id").alias("id_a"),
            F.col("a.simhash").alias("__sig_a"),
            F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b"),
        )
        .select(
            "blk",
            "id_a",
            F.col("b.id").alias("id_b"),
            F.col("__sig_a").bitwiseXOR(F.col("b.simhash")).alias("__xor"),
        )
        .filter(F.bit_count(F.col("__xor")) <= max_hamming)
    )
    if max_block_bucket is None:
        # First-clean-combo emission instead of a global DISTINCT
        # (guide §2.4 remove shuffles outright, r16): a true pair is
        # bucket-mates under every all-clean combination (up to
        # C(n_blocks, k) of them), so the old form emitted it with that
        # multiplicity and collapsed it with a full shuffle + two hash
        # aggregates — at 5M docs ~0.5B surviving pairs times the
        # multiplicity, the OOM wall of the sf100 run. Each pair is now
        # emitted EXACTLY once: combo c is the lexicographically first
        # all-clean combination iff the clean-block mask m satisfies
        # (m & below_mask[c]) == combo_mask[c] (both per-combo
        # constants: c must be clean, and every block below c's highest
        # member that is not in c must be dirty — otherwise swapping it
        # in gives a lex-smaller clean combo). One AND + one equality
        # per candidate, no distinct needed.
        clean_mask = sum(
            (
                F.when(
                    F.shiftright(F.col("__xor"), i * block_bits)
                    .bitwiseAND(F.lit((1 << block_bits) - 1))
                    == 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                for i in range(n_blocks)
            ),
            F.lit(0),
        )
        combo_masks = [sum(1 << b for b in c) for c in combos]
        below_masks = [(1 << (max(c) + 1)) - 1 for c in combos]
        first_clean = (
            clean_mask.bitwiseAND(
                F.element_at(
                    F.array(*[F.lit(m) for m in below_masks]),
                    F.col("blk") + 1,
                )
            )
            == F.element_at(
                F.array(*[F.lit(m) for m in combo_masks]),
                F.col("blk") + 1,
            )
        )
        return expanded.filter(first_clean).select(
            "id_a", "id_b", F.bit_count(F.col("__xor")).alias("hamming")
        )
    # capped path: truncation can drop a pair's FIRST clean combo while
    # a later one survives, so first-combo emission would lose pairs
    # the old form kept — keep the distinct here (bounded by the cap)
    return expanded.select(
        "id_a", "id_b", F.bit_count(F.col("__xor")).alias("hamming")
    ).distinct()
