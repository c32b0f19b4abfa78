"""Per-conversation stateful context + salted aggregation tests."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestConversationContext:
    def test_heading_carries_across_turns(self, spark):
        from doc_parser_spark.operators.conversation import (
            with_conversation_context,
        )
        from doc_parser_spark.operators.extract import extract_turns

        rows = pd.DataFrame(
            {
                "conv_id": ["c1"] * 4 + ["c2"] * 2,
                "turn_idx": [0, 1, 2, 3, 0, 1],
                "role": "user",
                "text": [
                    "<h1>Setup Guide</h1><p>intro</p>",
                    "plain reply with no headings",
                    "<h2>Install</h2><p>steps</p>",
                    "another plain turn",
                    "no heading conv",
                    "<h1>Other Doc</h1>",
                ],
                "tool": None,
                "ts": pd.Timestamp("2026-01-01"),
            }
        )
        ctx = (
            with_conversation_context(
                extract_turns(spark.createDataFrame(rows))
            )
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        c1 = ctx[ctx["conv_id"] == "c1"]
        assert c1["active_title"].tolist() == ["Setup Guide"] * 4
        assert c1["active_section"].tolist() == [None, None, "Install", "Install"]
        c2 = ctx[ctx["conv_id"] == "c2"]
        assert c2["active_title"].tolist() == [None, "Other Doc"]

    def test_one_row_per_turn(self, spark, transcripts_pdf):
        from doc_parser_spark.operators.conversation import (
            with_conversation_context,
        )
        from doc_parser_spark.operators.extract import extract_turns

        sub = transcripts_pdf.head(150)
        ctx = with_conversation_context(
            extract_turns(spark.createDataFrame(sub))
        )
        assert ctx.count() == len(sub)


class TestSaltedAgg:
    def test_matches_plain_groupby(self, spark, transcripts_pdf):
        from doc_parser_spark.operators.conversation import salted_agg

        df = spark.createDataFrame(transcripts_pdf)
        got = (
            salted_agg(
                df.withColumn("text_len", F.length("text")),
                "conv_id",
                {
                    "n_turns": ("count", "*"),
                    "max_turn": ("max", "turn_idx"),
                    "total_chars": ("sum", "text_len"),
                },
                n_salts=8,
            )
            .orderBy("conv_id")
            .toPandas()
        )
        exp = (
            df.withColumn("text_len", F.length("text"))
            .groupBy("conv_id")
            .agg(
                F.count("*").alias("n_turns"),
                F.max("turn_idx").alias("max_turn"),
                F.sum("text_len").alias("total_chars"),
            )
            .orderBy("conv_id")
            .toPandas()
        )
        pd.testing.assert_frame_equal(
            got[["conv_id", "n_turns", "max_turn", "total_chars"]],
            exp[["conv_id", "n_turns", "max_turn", "total_chars"]],
        )

