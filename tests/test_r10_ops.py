"""Unit tests for the late-round-10 operators: char-level exact
substring dedup, margin-based pair mining, Heaps'-law vocab growth,
TF-IDF keyword extraction. Value parity against the DuckDB oracles is
covered by tests/test_oracle_parity.py (every registered query); these
pin the operator-level edge cases the gate data can't exercise.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from protarrow_spark.operators import dedup, similarity, text


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestSubstringWindows:
    def test_exact_copy_fully_flagged(self, spark):
        body = "abcdefghij" * 8  # 80 chars, shared verbatim
        df = _docs(spark, [(1, body), (2, body), (3, "z" * 80)])
        out = {
            r["doc_id"]: r
            for r in dedup.substring_window_profile(df, "doc_id", "text").collect()
        }
        # 80 - 32 + 1 = 49 window positions, every one duplicated for
        # the two copies; the unrelated doc has zero duplicated text
        # (its windows are all 'z'*32 — identical WITHIN the doc, but
        # present in no other doc).
        assert out[1]["n_windows"] == 49
        assert out[1]["n_dup_windows"] == 49
        assert out[1]["dup_millis"] == 1000
        assert out[2]["n_dup_windows"] == 49
        assert out[3]["n_dup_windows"] == 0
        assert out[3]["dup_millis"] == 0

    def test_short_docs_excluded(self, spark):
        df = _docs(spark, [(1, "tiny"), (2, "x" * 31), (3, "y" * 32)])
        rows = dedup.substring_window_profile(df, "doc_id", "text").collect()
        assert {r["doc_id"] for r in rows} == {3}
        assert rows[0]["n_windows"] == 1

    def test_partial_overlap_counts_positions(self, spark):
        shared = "S" * 40  # 40-char shared run -> 9 aligned windows
        df = _docs(
            spark,
            [(1, shared + "a" * 40), (2, "b" * 40 + shared)],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_window_profile(df, "doc_id", "text").collect()
        }
        # the shared run yields 40-32+1 = 9 all-S windows in each doc,
        # duplicated across docs regardless of position offset.
        assert out[1]["n_dup_windows"] == 9
        assert out[2]["n_dup_windows"] == 9

    def test_stride_reduces_stream_but_keeps_detection(self, spark):
        body = "abcdefghij" * 8
        df = _docs(spark, [(1, body), (2, body)])
        out = dedup.substring_window_profile(
            df, "doc_id", "text", stride=8
        ).collect()
        # positions 1, 9, 17, ... -> ceil(49/8) = 7 windows, all dup.
        assert all(r["n_windows"] == 7 and r["n_dup_windows"] == 7 for r in out)


class TestMarginTopk:
    def test_margin_ranks_and_accepts(self, spark):
        # query q aligned exactly with corpus vec 10; three decoys at
        # increasing angles -> margin > 1 and top-1 is vec 10.
        rows = [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, [0.8, 0.6, 0.0, 0.0]),
            (12, [0.6, 0.8, 0.0, 0.0]),
            (13, [0.0, 1.0, 0.0, 0.0]),
        ]
        corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
        )
        out = similarity.margin_topk_pairs(corpus, queries).collect()
        assert len(out) == 1
        r = out[0]
        assert r["src_id"] == 0 and r["tgt_id"] == 10
        assert abs(r["cos_top1"] - 1.0) < 1e-12
        # mean(1.0, 0.8, 0.6, 0.0) = 0.6 -> margin = 1/0.6
        assert abs(r["margin"] - 1.0 / 0.6) < 1e-12
        assert r["accepted"] is True

    def test_hubness_rejected(self, spark):
        # all corpus vectors equally similar -> margin == 1 < threshold
        corpus = spark.createDataFrame(
            [(i, [1.0, 0.0]) for i in range(10, 14)], ["vec_id", "embedding"]
        )
        queries = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
        r = similarity.margin_topk_pairs(corpus, queries).collect()[0]
        assert abs(r["margin"] - 1.0) < 1e-12
        assert r["accepted"] is False
        assert r["tgt_id"] == 10  # tiebreak: smallest neighbor id


class TestVocabGrowth:
    def test_monotone_and_exact(self, spark):
        df = _docs(
            spark,
            [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(8)],
        )
        rows = sorted(
            text.vocab_growth(df, "doc_id", "text").collect(), key=lambda r: r["k"]
        )
        assert [r["k"] for r in rows] == list(range(1, 9))
        # doc ids 0..7 -> max_id 7; bound_k = 7k div 8
        assert [r["bound"] for r in rows] == [0, 1, 2, 3, 4, 5, 6, 7]
        # cumulative counts are non-decreasing and end at the corpus totals
        for a, b in zip(rows, rows[1:]):
            assert b["n_docs"] >= a["n_docs"]
            assert b["total_tokens"] >= a["total_tokens"]
            assert b["distinct_tokens"] >= a["distinct_tokens"]
        last = rows[-1]
        assert last["n_docs"] == 8
        assert last["total_tokens"] == sum(range(1, 9))
        assert last["distinct_tokens"] == 8  # w0..w7


class TestTfidfKeywords:
    def test_stopword_gate_and_ranking(self, spark):
        rows = [
            (1, "the alpha alpha beta", "s1"),
            (2, "the alpha gamma", "s1"),
            (3, "the delta", "s2"),
            (4, "the delta epsilon", "s2"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        out = text.tfidf_keywords(df, "doc_id", "text", "source", k=2)
        got = {(r["source"], r["rank"]): r for r in out.collect()}
        # 'the' is in 4/4 docs -> df*2 > n_docs -> excluded everywhere
        assert all(r["tok"] != "the" for r in got.values())
        # s1: alpha tf=3 df=2 -> 1.5e6; beta/gamma tf=1 df=1 -> 1e6 (beta wins tie)
        assert got[("s1", 1)]["tok"] == "alpha"
        assert got[("s1", 1)]["score_micro"] == 1_500_000
        assert got[("s1", 2)]["tok"] == "beta"
        # s2: delta tf=2 df=2 -> 1e6; epsilon tf=1 df=1 -> 1e6; tie -> delta...
        # (score tie resolves token-ascending: delta < epsilon)
        assert got[("s2", 1)]["tok"] == "delta"
        assert got[("s2", 2)]["tok"] == "epsilon"


class TestDownweightDuplicates:
    def test_weights_and_canonicals(self, spark, sf_dir):
        from protarrow_spark.queries.pipeline import sample_downweight_duplicates

        rows = sample_downweight_duplicates(spark, sf_dir).collect()
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for cid, members in by_cluster.items():
            # reported size matches the actual member count, weights
            # are the exact integer split, exactly one canonical (the
            # min-id member labels the cluster)
            assert all(m["cluster_size"] == len(members) for m in members)
            assert all(
                m["weight_ppm"] == 1_000_000 // len(members) for m in members
            )
            assert sum(m["is_canonical"] for m in members) == 1
            assert cid == min(m["doc_id"] for m in members)
        # every document appears exactly once
        assert len(rows) == len({r["doc_id"] for r in rows})


class TestCharEntropy:
    def test_extremes(self, spark, tmp_path):
        # single repeated char -> 0 bits; distinct chars -> ~log2(n).
        # Exercise the REAL registered query (not a re-implementation)
        # by pointing it at a temp documents table.
        df = spark.createDataFrame(
            [(1, "aaaaaaaaaaaaaaaa"), (2, "abcdefghijklmnop")],
            ["doc_id", "text"],
        )
        df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
        from protarrow_spark.queries.pipeline import text_char_entropy

        out = {
            r["doc_id"]: r
            for r in text_char_entropy(spark, str(tmp_path)).collect()
        }
        assert out[1]["entropy_millibits"] == 0  # floor(log2(16/16)) = 0
        assert out[1]["distinct_chars"] == 1
        assert out[2]["entropy_millibits"] == 4000  # 16 distinct -> 4 bits
        assert out[2]["distinct_chars"] == 16
        assert out[1]["n_chars"] == out[2]["n_chars"] == 16


class TestJaccardBandCounts:
    def test_dense_blocked_matches_sparse_across_block_pairs(self, spark, sf_dir):
        """The chunked dense kernel (r13: row-chunked postprocessing of
        the intersection matrix) must emit the exact same pair set as
        the sparse inverted-index join — forced multi-block so the
        cross-block (gi != gj) arm and the chunk boundary both run,
        in the jaccard-with-sizes and containment modes, and at
        threshold 0 too, where only pairs sharing a shingle count."""
        from protarrow_spark.sources.tables import table

        docs = table(spark, sf_dir, "documents")

        def rows(mode, threshold, cap):
            # block_size 128 -> ceil(n/128) blocks; well above 1 even
            # at sf0.001, and chunks of 256 rows split the 128-row
            # blocks' concatenated cross groups.
            df = dedup._shingle_pairs(
                docs, "doc_id", "text", mode, threshold, 1,
                dedup.MAX_SHINGLE_DF, cap, 128,
            )
            return sorted(
                tuple(round(x, 9) if isinstance(x, float) else x for x in r)
                for r in df.collect()
            )

        for mode, threshold in (
            ("sizes", 0.1), ("sizes", 0.0), ("containment", 0.3), ("containment", 0.0)
        ):
            assert rows(mode, threshold, 4096) == rows(mode, threshold, None), (
                mode, threshold,
            )

    def test_pushdown_matches_pair_banding_on_both_paths(self, spark, sf_dir):
        """The in-task band histogram (aggregation pushdown) must equal
        banding the materialized sparse pair stream, on BOTH physical
        paths, with one block and with many (cross-block arm and chunk
        boundary), and at threshold 0 too."""
        from protarrow_spark.sources.tables import table

        docs = table(spark, sf_dir, "documents")
        for threshold in (0.1, 0.0):
            pairs = dedup._shingle_pairs(
                docs, "doc_id", "text", "sizes", threshold, 1,
                dedup.MAX_SHINGLE_DF, None, 2048,
            )
            expected = {
                r["band"]: r["n"]
                for r in pairs.selectExpr(
                    "(20 * n_common) div (n_a + n_b - n_common) AS band"
                )
                .groupBy("band")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            # dense-matmul path in one block and in 128-row blocks,
            # sparse join path
            for cap, block_size in ((4096, 2048), (4096, 128), (None, 2048)):
                got = {
                    r["band"]: r["n_pairs"]
                    for r in dedup.jaccard_band_counts(
                        docs, "doc_id", "text", threshold=threshold, n=1,
                        dense_vocab_cap=cap, block_size=block_size,
                    ).collect()
                }
                assert got == expected, (threshold, cap, block_size)


class TestPqTopk:
    def test_reconstruction_beats_random_and_is_deterministic(self, spark, sf_dir):
        """PQ top-k must strongly overlap the exact int8 ranking (the
        codes preserve locality) and be run-to-run identical."""
        from protarrow_spark.sources.tables import table

        emb = table(spark, sf_dir, "embeddings")
        qs = emb.filter(F.col("vec_id") < 3)
        a = similarity.pq_topk(emb, qs, k=10).collect()
        b = similarity.pq_topk(emb, qs, k=10).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        exact = similarity.int8_topk(emb, qs, k=10).collect()
        ex = {}
        for r in exact:
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        got = {}
        for r in a:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        # 8-byte codes are lossy; require clearly-better-than-chance
        # overlap with the exact ranking (chance ~ 10/500 per query;
        # measured 13/30 at the default M=8 K=128 config)
        overlaps = [len(ex[q] & got[q]) for q in ex]
        assert sum(overlaps) >= 8, overlaps

    def test_identical_vectors_share_codes(self, spark):
        rows = [(i, [float(i % 2)] * 64) for i in range(20)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        qs = df.filter(F.col("vec_id") == 0)
        out = similarity.pq_topk(df, qs, k=19).collect()
        # all even vectors are identical to the query -> identical codes
        # -> identical (maximal) ADC scores; odd vectors likewise tie
        # below them. Ranks break ties by neighbor id.
        evens = [r for r in out if r["neighbor_id"] % 2 == 0]
        assert len({r["score_pq"] for r in evens}) == 1
        top = max(r["score_pq"] for r in out)
        assert all(r["score_pq"] == top for r in evens)


class TestIvfPq:
    def test_subset_of_pq_scores_and_cells(self, spark, sf_dir):
        """IVF-PQ results must be exactly the PQ-ADC ranking restricted
        to the query's probed cells: every (query, neighbor, score) it
        returns appears with the identical integer score in the
        unrestricted ADC scoring."""
        from protarrow_spark.sources.tables import table

        emb = table(spark, sf_dir, "embeddings")
        qs = emb.filter(F.col("vec_id") < 3)
        full = {
            (r["query_id"], r["neighbor_id"]): r["score_pq"]
            for r in similarity.pq_topk(emb, qs, k=500).collect()
        }
        composite = similarity.ivfpq_topk(emb, qs, k=5).collect()
        assert composite, "IVF-PQ returned nothing"
        for r in composite:
            key = (r["query_id"], r["neighbor_id"])
            assert key in full
            assert full[key] == r["score_pq"]


class TestPqRecallReport:
    def test_report_shape_and_bounds(self, spark, sf_dir):
        from protarrow_spark.queries.pipeline import (
            PQ_AUDIT_K,
            ann_pq_recall_report,
        )

        rows = ann_pq_recall_report(spark, sf_dir).collect()
        # one row per (config, query vector): 2 configs x 5 queries
        assert len(rows) == 10
        assert {r["config"] for r in rows} == {"m8_k128", "m16_k256"}
        for r in rows:
            assert r["n_truth"] == PQ_AUDIT_K
            assert 0 <= r["n_hits"] <= PQ_AUDIT_K
            assert abs(r["recall_at_k"] - r["n_hits"] / r["n_truth"]) < 1e-12
        # the comparison row must show the tradeoff: the 2x-bytes
        # config strictly improves TOTAL recall on the gate data
        tot = {c: 0 for c in ("m8_k128", "m16_k256")}
        for r in rows:
            tot[r["config"]] += r["n_hits"]
        assert tot["m16_k256"] > tot["m8_k128"]
