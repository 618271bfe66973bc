"""Sequence packing for LLM training: concatenate the token stream of
the whole corpus (in a deterministic document order) and split it into
fixed-length training sequences, emitting the (sequence, document,
segment) manifest a dataloader needs — the GPT-style "concat and chunk"
packing used by essentially every large pretraining run (documents are
separator-joined into one stream; sequences cross document boundaries;
no padding except possibly the final partial sequence).

The hard part at 100 TB is the GLOBAL token offset of every document:
a naive ``Window.orderBy(doc_id)`` cumulative sum plans a single-
partition window — one task sorts the whole corpus. This module does
the classic two-phase distributed prefix sum, relationally:

  1. bucket each doc by id range (pure expression, no shuffle);
  2. per-bucket token subtotals — ONE partial-aggregated shuffle whose
     result is <= n_buckets rows;
  3. exclusive bucket offsets via a window over that TINY frame (the
     only single-partition step: n_buckets rows, not n_docs);
  4. broadcast the offsets back and finish with a within-bucket
     cumulative window — parallel across buckets.

So the plan is: scan -> small agg -> broadcast join -> windows keyed by
bucket. No single task ever holds more than ~1/n_buckets of the corpus.
Output is EXACTLY the sequential-semantics manifest (prefix sums are
exact integer arithmetic in any grouping), which is what the DuckDB
single-window oracle checks.

Bucketing assumes ``id_col`` is numeric and roughly uniform over its
range (true for dense ids; skew costs balance, never correctness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count


def token_offsets(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    count_col: str | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """(id, n_tok, start): exclusive prefix sum of per-document token
    counts in ascending ``id_col`` order — ``start`` is the global token
    offset where the document begins in the concatenated stream.

    ``count_col`` uses a precomputed token-count column instead of
    tokenizing ``text_col`` (e.g. a real pipeline's tokenizer output).
    Zero-token documents keep a well-defined ``start`` and occupy no
    stream positions. The two collects are one-row aggregates (id range
    + nothing else); the bucket-offset window runs over <= n_buckets
    rows. The narrow (id, n_tok) projection is checkpointed once,
    eagerly, so the tokenize pass runs once however many downstream
    branches consume the counts.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    n_tok = (
        F.col(count_col) if count_col else token_count(F.col(text_col))
    ).cast("long")
    counts = docs.select(
        F.col(id_col).cast("long").alias(id_col), n_tok.alias("n_tok")
    )
    # The counts frame is consumed FOUR times downstream (the id-range
    # collect below, the bucketed main branch, the bucket-subtotal
    # aggregate, and — via pack_sequences — the drop_incomplete total)
    # and Catalyst shares nothing across the branches: each consumer
    # re-runs the full corpus scan + tokenize (r16, measured: 4 parquet
    # scans in the doc_pack_sequences plan + the eager range collect =
    # 5 source passes, of which 4 tokenize). ``counts`` is two longs
    # per doc — O(n_docs * 16 B) — so materialize it once and let every
    # consumer read the materialization (guide §8 "decide with small
    # rows": the tokenize pass is the heavy step; everything after it
    # needs only the narrow proxy). Eager and per-invocation: nothing
    # survives this call, every invocation recomputes from its input.
    # Unconditional: in same-session ABAB medians (r16, lazy ->
    # checkpointed, pack_sequences / pack_bpeish) the checkpoint won or
    # washed at every measured size: sf0.01 1.14->0.90 / 0.77->0.76 s,
    # sf0.1 1.26->1.06 / 1.02->0.78 s, sf30 13.7->3.8 / 84.3->23.1 s.
    counts = counts.localCheckpoint(eager=True)
    rng = counts.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    if rng["lo"] is None:  # empty corpus
        return counts.select(
            id_col, "n_tok", F.lit(0).cast("long").alias("start")
        ).limit(0)
    lo, hi = int(rng["lo"]), int(rng["hi"])
    width = max(1, -(-(hi - lo + 1) // n_buckets))  # ceil, >= 1
    # integer DIV keeps bucketing exact at any id magnitude; any
    # monotonic-in-id bucket function preserves the prefix-sum order
    bucketed = counts.withColumn(
        "__b", F.expr(f"(`{id_col}` - {lo}L) div {width}L")
    )
    # exclusive offsets of each bucket: tiny frame, tiny window
    bucket_off = (
        bucketed.groupBy("__b")
        .agg(F.sum("n_tok").alias("__bt"))
        .withColumn(
            "__boff",
            F.coalesce(
                F.sum("__bt").over(
                    Window.orderBy("__b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__b", "__boff")
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(bucket_off), "__b")
        .withColumn(
            "start", F.col("__boff") + F.sum("n_tok").over(w_in) - F.col("n_tok")
        )
        .select(id_col, "n_tok", "start")
    )


def pack_sequences(
    docs: DataFrame,
    *,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    count_col: str | None = None,
    n_buckets: int = 256,
    drop_incomplete: bool = True,
) -> DataFrame:
    """The packing manifest: one row per (training sequence, document)
    segment, with every column a BIGINT so the dataloader (and the
    DuckDB oracle) sees exact integers.

      seq_id     — 0-based index of the fixed-``seq_len`` sequence
      <id_col>   — the source document
      doc_offset — token offset within the document where the segment starts
      seq_offset — position within the sequence where it lands
      seg_len    — segment length in tokens

    Documents spanning a sequence boundary emit one row per touched
    sequence (``explode(sequence(first_seq, last_seq))`` — a per-row
    flatMap, no extra shuffle beyond the offsets computation). With
    ``drop_incomplete`` the trailing partial sequence (the only one
    that would need padding) is dropped, so sum(seg_len) == seq_len for
    every emitted seq_id.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    off = token_offsets(
        docs,
        id_col=id_col,
        text_col=text_col,
        count_col=count_col,
        n_buckets=n_buckets,
    ).filter(F.col("n_tok") > 0)
    L = F.lit(seq_len).cast("long")
    Ln = int(seq_len)
    # integer DIV for the sequence bounds, same idiom as the bucketing
    # above: exact at any id/offset magnitude, and matching the
    # oracle's `//` (double division is exact only below 2^53)
    exploded = off.select(
        id_col,
        "n_tok",
        "start",
        F.explode(
            F.sequence(
                F.expr(f"start div {Ln}L"),
                F.expr(f"(start + n_tok - 1) div {Ln}L"),
            )
        ).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * L
    seg_lo = F.greatest(F.col("start"), seq_lo)
    seg_hi = F.least(F.col("start") + F.col("n_tok"), seq_lo + L)
    out = exploded.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col(id_col),
        (seg_lo - F.col("start")).cast("long").alias("doc_offset"),
        (seg_lo - seq_lo).cast("long").alias("seq_offset"),
        (seg_hi - seg_lo).cast("long").alias("seg_len"),
    )
    if drop_incomplete:
        # in-plan one-row broadcast agg (the lm/search/dsir constants
        # convention): keeps the returned DataFrame lazy — no eager
        # corpus scan at construction, no stale captured total
        max_seq = off.agg(
            F.expr(f"coalesce(sum(n_tok), 0L) div {Ln}L").alias(
                "__max_seq"
            )
        )
        out = (
            out.crossJoin(F.broadcast(max_seq))
            .filter(F.col("seq_id") < F.col("__max_seq"))
            .drop("__max_seq")
        )
    return out


def sql_pack_sequences(
    table: str,
    *,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_expr: str | None = None,
    drop_incomplete: bool = True,
) -> str:
    """DuckDB twin of `pack_sequences`: the sequential-semantics form —
    one global cumulative window (fine at oracle scale) + the same
    segment arithmetic. ``tokens_expr`` defaults to the whitespace
    tokenizer over ``text``."""
    from .text import sql_tokenize

    n = f"len({tokens_expr or sql_tokenize('text')})"
    L = int(seq_len)
    gate = (
        f"WHERE seq_id < (SELECT sum(n_tok) FROM nz) // {L}"
        if drop_incomplete
        else ""
    )
    return f"""
        WITH tc AS (
            SELECT {id_col}, CAST({n} AS BIGINT) AS n_tok FROM {table}
        ),
        nz AS (SELECT * FROM tc WHERE n_tok > 0),
        off AS (
            SELECT {id_col}, n_tok,
                   CAST(COALESCE(SUM(n_tok) OVER (
                       ORDER BY {id_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start
            FROM nz
        ),
        seg AS (
            SELECT {id_col}, n_tok, start,
                   UNNEST(generate_series(start // {L},
                                          (start + n_tok - 1) // {L})) AS seq_id
            FROM off
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id,
               {id_col},
               CAST(GREATEST(start, seq_id * {L}) - start AS BIGINT) AS doc_offset,
               CAST(GREATEST(start, seq_id * {L}) - seq_id * {L} AS BIGINT) AS seq_offset,
               CAST(LEAST(start + n_tok, seq_id * {L} + {L})
                    - GREATEST(start, seq_id * {L}) AS BIGINT) AS seg_len
        FROM seg
        {gate}
    """
