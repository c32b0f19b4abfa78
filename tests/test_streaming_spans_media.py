"""Streaming extraction parity, multimodal plumbing and export tests."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


class TestStreaming:
    def test_stream_matches_batch(self, spark, transcripts_pdf, tmp_path):
        from doc_parser_spark.operators.extract import extract_turns
        from doc_parser_spark.streaming.stream import run_stream_to_parquet

        inp = str(tmp_path / "in")
        sub = transcripts_pdf.head(200)
        df = spark.createDataFrame(sub)
        df.coalesce(4).write.parquet(inp)

        q = run_stream_to_parquet(
            spark, inp, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

        got = (
            spark.read.parquet(str(tmp_path / "out"))
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        exp = (
            extract_turns(spark.createDataFrame(sub))
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        assert len(got) == len(exp)
        assert got["extracted_text"].fillna("").tolist() == exp[
            "extracted_text"
        ].fillna("").tolist()

        # resume: second run with same checkpoint is a no-op
        q2 = run_stream_to_parquet(
            spark, inp, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q2.awaitTermination(60)
        assert spark.read.parquet(str(tmp_path / "out")).count() == len(exp)

class TestMultimodal:
    def test_image_decode_plumbing(self, spark):
        from doc_parser_spark.operators.multimodal import decode_images, synth_media

        media = synth_media(spark, n=60)
        feats = decode_images(media).toPandas()
        n_images = media.where(F.col("kind") == "image").count()
        assert len(feats) == n_images
        assert set(feats["decode_status"]) <= {"stub_decoded", "failure", "skipped"}
        assert (feats["n_bytes"] > 0).all()
        assert feats["sha256"].str.len().eq(64).all()
        # deterministic: rerun gives identical features
        feats2 = decode_images(media).toPandas()
        pd.testing.assert_frame_equal(
            feats.sort_values("media_id").reset_index(drop=True),
            feats2.sort_values("media_id").reset_index(drop=True),
        )

    def test_real_decoder_seam(self, spark):
        """The PIL swap-in seam: a custom decoder function ships through the
        UDF closure and runs on the executors via the identical distributed
        path — features come from IT (status 'decoded'), and a decoder
        exception yields a 'failure' row, never a silent stub fallback."""
        from doc_parser_spark.operators.multimodal import (
            decode_images,
            synth_media,
        )

        def fake_pil(payload: bytes):
            if payload[0] % 2 == 0:
                raise ValueError("corrupt image")
            return 320, 200, 0.25

        media = synth_media(spark, n=60)
        feats = decode_images(media, decoder=fake_pil).toPandas()
        assert set(feats["decode_status"]) <= {"decoded", "failure"}
        ok = feats[feats["decode_status"] == "decoded"]
        bad = feats[feats["decode_status"] == "failure"]
        assert len(ok) > 0 and len(bad) > 0
        assert (ok["width"] == 320).all() and (ok["height"] == 200).all()
        assert bad["width"].isna().all()
        # failures still carry lineage (hash + size) for quarantine tables
        assert bad["sha256"].str.len().eq(64).all()
        assert (bad["n_bytes"] > 0).all()

    def test_empty_and_null_payloads_are_one_row_each(self, spark):
        """The per-input envelope in every media operator: a zero-byte
        payload is one 'failure' row, a null payload one 'skipped' row —
        no input vanishes and none gets invented features."""
        from doc_parser_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            audio_features,
            decode_images,
            video_frames,
            video_metadata,
        )

        kinds = ("image", "audio", "video")
        rows = [(2 * k, "c", 0, kind, b"", None) for k, kind in enumerate(kinds)]
        rows += [(2 * k + 1, "c", 0, kind, None, None)
                 for k, kind in enumerate(kinds)]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        for op, k in ((decode_images, 0), (audio_features, 1),
                      (video_metadata, 2), (video_frames, 2)):
            out = sorted(op(media).collect(), key=lambda r: r["media_id"])
            assert [(r["media_id"], r["decode_status"]) for r in out] == [
                (2 * k, "failure"), (2 * k + 1, "skipped")
            ], op.__name__
        img = {r["media_id"]: r for r in decode_images(media).collect()}
        assert (img[0]["width"], img[0]["height"], img[0]["n_bytes"]) == (
            None, None, 0
        )

    def test_frame_sampling(self, spark):
        from doc_parser_spark.operators.multimodal import synth_media, video_frames

        media = synth_media(spark, n=60)
        frames = video_frames(media, every_n=5).toPandas()
        assert len(frames) > 0
        assert (frames["frame_idx"] % 5 == 0).all()
        # random payloads are not AVI: the deterministic frame stub
        assert (frames["decode_status"] == "stub_decoded").all()


class TestExport:
    def test_json_roundtrip_lossless(self, spark, transcripts_pdf):
        from doc_parser_spark.operators.export import from_doc_json, to_doc_json
        from doc_parser_spark.operators.extract import extract_turns

        extracted = extract_turns(
            spark.createDataFrame(transcripts_pdf.head(80))
        ).select(
            "conv_id", "turn_idx", "content_type", "extracted_text",
            "spans", "parse_status",
        )
        back = from_doc_json(to_doc_json(extracted))
        a = extracted.orderBy("conv_id", "turn_idx").toPandas()
        b = back.orderBy("conv_id", "turn_idx").toPandas()
        assert a["extracted_text"].fillna("").tolist() == b[
            "extracted_text"
        ].fillna("").tolist()
        assert a["parse_status"].tolist() == b["parse_status"].tolist()
        sa = a["spans"].map(lambda s: None if s is None else [tuple(x) for x in s])
        sb = b["spans"].map(lambda s: None if s is None else [tuple(x) for x in s])
        assert sa.tolist() == sb.tolist()

class TestStreamingCuration:
    def test_sampling_and_enrichment_compose_onto_streams(
        self, spark, tmp_path
    ):
        """The curation layer runs UNCHANGED on streaming DataFrames:
        stratified_sample is a pure row function (md5 draw — no RNG
        state), so the streamed decision per row is bit-identical to the
        batch decision, across micro-batch boundaries and retries; a
        static dimension joins in as a broadcast stream-static join."""
        from doc_parser_spark.operators.curation import stratified_sample

        rows = [(i, "abc"[i % 3], f"text {i}") for i in range(300)]
        inp = str(tmp_path / "in")
        spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        ).coalesce(5).write.parquet(inp)

        rates = {"a": 0.5, "b": 1.0, "c": 0.0}
        dim = spark.createDataFrame(
            [("a", "latin"), ("b", "latin"), ("c", "cyrillic")],
            ["lang", "script"],
        )

        stream = (
            spark.readStream.schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
            .parquet(inp)
        )
        out = stratified_sample(stream, "doc_id", "lang", rates).join(
            F.broadcast(dim), "lang"
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = (
            spark.read.parquet(str(tmp_path / "out"))
            .orderBy("doc_id")
            .toPandas()
        )
        exp = (
            stratified_sample(
                spark.createDataFrame(
                    rows, "doc_id long, lang string, text string"
                ),
                "doc_id",
                "lang",
                rates,
            )
            .join(F.broadcast(dim), "lang")
            .orderBy("doc_id")
            .toPandas()
        )
        assert len(got) == 300
        assert got["sampled"].tolist() == exp["sampled"].tolist()
        assert got["weight"].tolist() == exp["weight"].tolist()
        assert got["script"].tolist() == exp["script"].tolist()
