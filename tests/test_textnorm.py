"""Unicode normalization (functions/textnorm.py): NFC composition."""

from __future__ import annotations

import unicodedata

from doc_parser_spark.functions.textnorm import nfc_normalize_col


class TestNfc:
    def test_composes_and_null_safe(self, spark):
        # explicit escapes — an editor silently NFC-normalizing this file
        # would otherwise make the decomposed cases vacuous
        rows = [
            (1, "e\u0301clair"),   # decomposed e + combining acute
            (2, "caf\u00e9"),      # already composed
            (3, "A\u030a"),        # decomposed A + combining ring
            (4, None),
            (5, "plain ascii"),
        ]
        df = spark.createDataFrame(rows, ["id", "t"])
        out = {
            r["id"]: r["n"]
            for r in df.select(
                "id", nfc_normalize_col("t").alias("n")
            ).collect()
        }
        assert out[1] == "\u00e9clair"
        assert out[2] == "caf\u00e9"
        assert out[3] == "\u00c5"
        assert out[4] is None
        assert out[5] == "plain ascii"
        assert out[1] == unicodedata.normalize("NFC", rows[0][1])
