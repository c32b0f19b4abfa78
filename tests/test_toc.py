"""TOC match-back (E4): the distributed operator's semantics on
hand-built frames."""

from __future__ import annotations


class TestDistributedOperator:
    def test_allocation_matches_reference_shape(self, spark):
        """Hand-built frame: entry 1 takes the exact match; entry 2's best
        candidate is already taken, so it falls to its next-best; a
        below-threshold entry matches nothing."""
        from doc_parser_spark.operators.enrichment import toc_match_back

        toc = spark.createDataFrame(
            [
                (1, 1, "alpha beta", "1. alpha beta"),
                (1, 2, "alpha beta", "2. alpha beta"),
                (1, 3, "zzzzzzzzzzzz", "3. zzzzzzzzzzzz"),
            ],
            "doc_id long, toc_i int, toc_title string, toc_full string",
        )
        cands = spark.createDataFrame(
            [
                (1, 1, "alpha beta"),
                (1, 2, "alpha betax"),
                (1, 3, "unrelated words"),
            ],
            "doc_id long, cand_j int, cand_text string",
        )
        rows = {
            r["toc_i"]: r
            for r in toc_match_back(toc, cands, 3).collect()
        }
        assert rows[1]["cand_j"] == 1      # exact match
        assert rows[2]["cand_j"] == 2      # next best after exclusion
        assert 3 not in rows               # below threshold → unmatched

    def test_large_max_rank_checkpoints_lineage(self, spark):
        """A TOC deeper than _CHECKPOINT_EVERY crosses the periodic
        localCheckpoint: allocation results must be identical to the
        sequential-greedy semantics (each rank takes its own exact line)
        and the plan must not stack-overflow from O(max_rank²) lineage."""
        from doc_parser_spark.operators.enrichment import (
            _CHECKPOINT_EVERY,
            toc_match_back,
        )

        n = _CHECKPOINT_EVERY * 3 + 2
        toc = spark.createDataFrame(
            [(1, i, f"section {i} heading", f"{i}. section {i} heading")
             for i in range(1, n + 1)],
            "doc_id long, toc_i int, toc_title string, toc_full string",
        )
        cands = spark.createDataFrame(
            [(1, j, f"{j}. section {j} heading") for j in range(1, n + 1)],
            "doc_id long, cand_j int, cand_text string",
        )
        rows = {r["toc_i"]: r["cand_j"]
                for r in toc_match_back(toc, cands, n).collect()}
        assert rows == {i: i for i in range(1, n + 1)}
