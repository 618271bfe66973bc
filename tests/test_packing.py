"""Sequence packing (pipeline/packing.py): the concat-and-chunk manifest
must equal the sequential semantics exactly, under any bucketing, and
the plan must never sort the corpus in one partition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ncagg_spark.pipeline.packing import pack_sequences, token_offsets


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


FIXTURE = [
    (1, "a b c"),                      # 3 tokens -> [0, 3)
    (2, ""),                           # 0 tokens: no segments
    (5, "d e f g h i j"),              # 7 tokens -> [3, 10)
    (7, "  k   l  "),                  # 2 tokens -> [10, 12)
    (9, "m n o p q"),                  # 5 tokens -> [12, 17)
]


class TestTokenOffsets:
    def test_exclusive_prefix_with_gaps_and_empty_docs(self, spark):
        out = {
            r["doc_id"]: (r["n_tok"], r["start"])
            for r in token_offsets(_docs(spark, FIXTURE)).collect()
        }
        assert out == {1: (3, 0), 2: (0, 3), 5: (7, 3), 7: (2, 10), 9: (5, 12)}

    def test_bucketing_is_execution_only(self, spark):
        df = _docs(spark, FIXTURE)
        one = sorted(map(tuple, token_offsets(df, n_buckets=1).collect()))
        many = sorted(map(tuple, token_offsets(df, n_buckets=1000).collect()))
        assert one == many

    def test_empty_corpus(self, spark):
        assert token_offsets(_docs(spark, [])).count() == 0

    def test_no_corpus_sized_single_partition_window(self, spark):
        """The scale claim: the only SinglePartition exchange feeds the
        <= n_buckets bucket-offset window; the per-doc cumulative window
        is partitioned by bucket."""
        plan = (
            token_offsets(_docs(spark, FIXTURE))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        single = [
            ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln
        ]
        assert len(single) == 1  # the tiny bucket-totals frame only
        big_windows = [
            ln
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln and "__b" not in ln
        ]
        assert not big_windows, big_windows


class TestPackSequences:
    def test_manifest_matches_sequential_semantics(self, spark):
        # stream = 17 tokens, seq_len 4 -> 4 full sequences (16 tokens)
        rows = sorted(
            map(
                tuple,
                pack_sequences(
                    _docs(spark, FIXTURE), seq_len=4
                ).collect(),
            )
        )
        assert rows == [
            (0, 1, 0, 0, 3),   # doc 1 tokens 0..3  -> seq 0 pos 0
            (0, 5, 0, 3, 1),   # doc 5 token 0      -> seq 0 pos 3
            (1, 5, 1, 0, 4),   # doc 5 tokens 1..5  -> seq 1
            (2, 5, 5, 0, 2),   # doc 5 tokens 5..7  -> seq 2 pos 0
            (2, 7, 0, 2, 2),   # doc 7 both tokens  -> seq 2 pos 2
            (3, 9, 0, 0, 4),   # doc 9 tokens 0..4  -> seq 3
        ]  # doc 9 token 4 falls in the dropped partial seq 4

    def test_keep_incomplete_tail(self, spark):
        rows = sorted(
            map(
                tuple,
                pack_sequences(
                    _docs(spark, FIXTURE), seq_len=4, drop_incomplete=False
                ).collect(),
            )
        )
        assert (4, 9, 4, 0, 1) in rows and len(rows) == 7

    def test_every_kept_sequence_is_full(self, spark):
        out = pack_sequences(_docs(spark, FIXTURE), seq_len=5)
        sums = out.groupBy("seq_id").agg(F.sum("seg_len").alias("s"))
        assert sums.filter(F.col("s") != 5).count() == 0

    def test_segments_tile_each_document(self, spark):
        """Per doc: segment doc_offsets are contiguous from 0 and cover
        n_tok tokens (no token lost or duplicated by the split)."""
        out = (
            pack_sequences(
                _docs(spark, FIXTURE), seq_len=4, drop_incomplete=False
            )
            .groupBy("doc_id")
            .agg(
                F.sum("seg_len").alias("covered"),
                F.min("doc_offset").alias("first"),
                F.max(F.col("doc_offset") + F.col("seg_len")).alias("end"),
            )
        )
        for r in out.collect():
            assert r["first"] == 0
            assert r["covered"] == r["end"]

    def test_rejects_bad_params(self, spark):
        with pytest.raises(ValueError):
            pack_sequences(_docs(spark, FIXTURE), seq_len=0)
        with pytest.raises(ValueError):
            token_offsets(_docs(spark, FIXTURE), n_buckets=0)

    def test_count_col_skips_tokenizer(self, spark):
        df = spark.createDataFrame(
            [(1, 10), (2, 6)], "doc_id long, n_bpe long"
        )
        rows = sorted(
            map(
                tuple,
                pack_sequences(
                    df, seq_len=8, count_col="n_bpe", text_col="missing"
                ).collect(),
            )
        )
        assert rows == [(0, 1, 0, 0, 8), (1, 1, 8, 0, 2), (1, 2, 0, 2, 6)]

    def test_extreme_id_magnitudes_stay_exact(self, spark):
        """Bucketing uses integer DIV — ids near 2^62 must not wobble."""
        base = 1 << 62
        df = spark.createDataFrame(
            [(base + i * 1_000_003, f"t{i} " * (i + 1)) for i in range(6)],
            "doc_id long, text string",
        )
        rows = token_offsets(df, n_buckets=4).orderBy("doc_id").collect()
        starts = [r["start"] for r in rows]
        toks = [r["n_tok"] for r in rows]
        assert toks == [1, 2, 3, 4, 5, 6]
        assert starts == [0, 1, 3, 6, 10, 15]

    def test_pack_sequences_materialized_rows_unchanged(
        self, spark, checkpoints
    ):
        # the per-document counts are checkpointed once, eagerly, at
        # every size; the manifest is exact row for row. Mixed doc
        # lengths so sequences cross document boundaries, plus a
        # zero-token doc (occupies no stream positions) and a dropped
        # trailing partial sequence.
        docs = _docs(
            spark,
            [
                (1, "a b c d e"),          # 5 tokens
                (2, ""),                   # 0 tokens -> no stream positions
                (3, "f g h"),              # 3 tokens
                (4, "i j k l m n o"),      # 7 tokens
                (5, "p q"),                # 2 tokens -> 17 total, seq_len 4
            ],
        )
        out = pack_sequences(docs, seq_len=4, drop_incomplete=True)
        assert [c.columns for c in checkpoints] == [["doc_id", "n_tok"]]
        rows = sorted(
            (r.seq_id, r.doc_id, r.doc_offset, r.seq_offset, r.seg_len)
            for r in out.collect()
        )
        # 17 tokens // 4 = 4 complete sequences; doc 1 spans seqs 0-1,
        # doc 3 spans 1-2, doc 4 spans 2-3, doc 5 starts at offset 15
        # (seq 3) and its tail falls in the dropped partial seq 4
        assert rows == [
            (0, 1, 0, 0, 4),
            (1, 1, 4, 0, 1),
            (1, 3, 0, 1, 3),
            (2, 4, 0, 0, 4),
            (3, 4, 4, 0, 3),
            (3, 5, 0, 3, 1),
        ]
