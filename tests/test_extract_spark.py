"""Spark integration tests: the extraction operator and the end-to-end job.

The correctness contract (north rule): per-turn text equality under stable
(conv_id, turn_idx) ordering — asserted here by comparing the distributed
result against the pure-python kernels applied row-by-row.
"""

from __future__ import annotations

import pandas as pd
import pytest

from doc_parser_spark.datamodel import CT_EMPTY, STATUS_SKIPPED, STATUS_SUCCESS
from doc_parser_spark.functions.html_extract import extract_html
from doc_parser_spark.functions.pdfish_extract import extract_pdfish
from doc_parser_spark.functions.plain_extract import extract_plain
from doc_parser_spark.operators.extract import extract_turns
from doc_parser_spark.sources.sniff import sniff_text


def _expected_text(text: str) -> str | None:
    from doc_parser_spark.functions.csv_extract import extract_csv
    from doc_parser_spark.functions.md_extract import extract_md

    ct = sniff_text(text)
    if ct == CT_EMPTY:
        return ""
    if ct == "html":
        return extract_html(text)[0]
    if ct == "pdf":
        return extract_pdfish(text)[0]
    if ct == "markdown":
        return extract_md(text)[0]
    if ct == "csv":
        return extract_csv(text)[0]
    if ct == "asciidoc":
        from doc_parser_spark.functions.asciidoc_extract import extract_asciidoc

        return extract_asciidoc(text)[0]
    return extract_plain(text)[0]


@pytest.fixture(scope="module")
def extracted(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf)
    return (
        extract_turns(df, route_partitions=8)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


class TestExtractOperator:
    def test_row_count_preserved(self, extracted, transcripts_pdf):
        assert len(extracted) == len(transcripts_pdf)

    def test_per_turn_text_equality(self, extracted, transcripts_pdf):
        """Distributed result == pure-kernel result, per turn, stable order."""
        inp = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(
            drop=True
        )
        got = extracted.reset_index(drop=True)
        assert (got["conv_id"] == inp["conv_id"]).all()
        assert (got["turn_idx"] == inp["turn_idx"]).all()
        expected = inp["text"].map(_expected_text)
        mismatches = got["extracted_text"].fillna("") != expected.fillna("")
        assert not mismatches.any(), (
            f"{mismatches.sum()} per-turn text mismatches; first: "
            f"{got[mismatches].head(2).to_dict()}"
        )

    def test_spans_match_text_slices(self, extracted):
        for _, row in extracted.iterrows():
            if row["spans"] is None:
                continue
            for span in row["spans"]:
                seg = row["extracted_text"][span["start"] : span["end"]]
                assert len(seg) == span["end"] - span["start"]
                assert "\n\n" not in seg or span["label"] == "table"

    def test_status_vocabulary(self, extracted):
        assert set(extracted["parse_status"]) <= {
            "success",
            "partial_success",
            "failure",
            "skipped",
        }

    def test_empty_is_skipped(self, extracted, transcripts_pdf):
        inp = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(
            drop=True
        )
        got = extracted.reset_index(drop=True)
        empties = inp["text"].fillna("").str.strip() == ""
        assert (got.loc[empties, "parse_status"] == STATUS_SKIPPED).all()
        assert (got.loc[~empties, "parse_status"] == STATUS_SUCCESS).all()

    def test_content_types_routed(self, extracted):
        assert {"html", "plain", "pdf"} <= set(extracted["content_type"])

    def test_garbage_scores_zero(self, extracted):
        glyph = extracted["extracted_text"].fillna("").str.contains("GLYPH<")
        assert (extracted.loc[glyph, "parse_score"] == 0.0).all()

    def test_counts(self, extracted):
        nonnull = extracted[extracted["extracted_text"].notna()]
        assert (nonnull["n_char"] == nonnull["extracted_text"].str.len()).all()


class TestPipelineJob:
    def test_job_runs_and_resumes(self, spark, transcripts_pdf, tmp_path):
        from doc_parser_spark.plans.pipeline import (
            read_extracted,
            read_metrics,
            run_extraction_job,
        )

        df = spark.createDataFrame(transcripts_pdf)
        out = str(tmp_path / "out")
        summary = run_extraction_job(
            spark, df, out, n_buckets=8, job_run_id="run1"
        )
        assert summary["rows"] == len(transcripts_pdf)

        result = read_extracted(spark, out)
        assert result.count() == len(transcripts_pdf)
        assert "bucket_id" in result.columns

        metrics = read_metrics(spark, out).toPandas()
        assert metrics["docs_parsed"].sum() == len(transcripts_pdf)
        assert (metrics["job_run_id"] == "run1").all()
        assert metrics["bytes_processed"].sum() > 0

        # resume: everything committed → second run is a no-op
        summary2 = run_extraction_job(
            spark, df, out, n_buckets=8, job_run_id="run2"
        )
        assert summary2["rows"] == 0
        assert read_extracted(spark, out).count() == len(transcripts_pdf)

    def test_partial_resume(self, spark, transcripts_pdf, tmp_path):
        from doc_parser_spark.operators.extract import bucket_id
        from doc_parser_spark.plans.pipeline import (
            read_extracted,
            run_extraction_job,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(transcripts_pdf)
        out = str(tmp_path / "out2")
        # first run sees only buckets 0-3 (simulated interrupted job)
        partial = df.where(bucket_id("conv_id", 8) < 4)
        run_extraction_job(spark, partial, out, n_buckets=8, job_run_id="p1")
        n_partial = read_extracted(spark, out).count()
        assert 0 < n_partial < len(transcripts_pdf)

        # rerun over the full input completes only the missing buckets
        run_extraction_job(spark, df, out, n_buckets=8, job_run_id="p2")
        final = read_extracted(spark, out)
        assert final.count() == len(transcripts_pdf)
        # no duplicates
        assert (
            final.select("conv_id", "turn_idx").distinct().count()
            == len(transcripts_pdf)
        )

    def test_crash_between_data_and_manifest_leaves_no_duplicates(
        self, spark, transcripts_pdf, tmp_path
    ):
        """Mid-write crash sim: data written to extracted/ but the manifest
        commit never happened. The rerun reprocesses those buckets (orphan
        rows get a second copy under a new job_run_id); read_extracted must
        return only manifest-committed rows — exactly one copy."""
        import shutil

        from doc_parser_spark.plans.pipeline import (
            read_extracted,
            run_extraction_job,
        )

        df = spark.createDataFrame(transcripts_pdf)
        out = str(tmp_path / "out_crash")
        run_extraction_job(spark, df, out, n_buckets=8, job_run_id="c1")
        # simulate the crash: the parquet data survived, the manifest didn't
        shutil.rmtree(str(tmp_path / "out_crash" / "_manifest"))
        assert read_extracted(spark, out).count() == 0  # nothing committed

        run_extraction_job(spark, df, out, n_buckets=8, job_run_id="c2")
        final = read_extracted(spark, out)
        assert final.count() == len(transcripts_pdf)
        assert (
            final.select("conv_id", "turn_idx").distinct().count()
            == len(transcripts_pdf)
        )
        # the orphan copy is still on disk but filtered by the commit log
        raw = spark.read.parquet(str(tmp_path / "out_crash" / "extracted"))
        assert raw.count() == 2 * len(transcripts_pdf)

    def test_stable_ordering_within_bucket_files(self, spark, transcripts_pdf, tmp_path):
        from doc_parser_spark.plans.pipeline import run_extraction_job, read_extracted

        df = spark.createDataFrame(transcripts_pdf)
        out = str(tmp_path / "out3")
        run_extraction_job(spark, df, out, n_buckets=4, job_run_id="o1")
        pdf = read_extracted(spark, out).toPandas()
        # within each parquet bucket, rows must be (conv_id, turn_idx)-sorted
        for _, grp in pdf.groupby("bucket_id"):
            keys = list(zip(grp["conv_id"], grp["turn_idx"]))
            assert keys == sorted(keys)


class TestRoutingModes:
    def test_single_shuffle_mode_same_results(self, spark, transcripts_pdf, tmp_path):
        from doc_parser_spark.plans.pipeline import read_extracted, run_extraction_job

        df = spark.createDataFrame(transcripts_pdf)
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        run_extraction_job(spark, df, a, n_buckets=4, job_run_id="r1")
        run_extraction_job(spark, df, b, n_buckets=4, job_run_id="r2", routing="none")
        pa = (
            read_extracted(spark, a)
            .select("conv_id", "turn_idx", "extracted_text", "parse_status")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        pb = (
            read_extracted(spark, b)
            .select("conv_id", "turn_idx", "extracted_text", "parse_status")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        assert pa.equals(pb)


class TestSizeGuard:
    def test_oversize_turn_takes_cheap_path(self, spark):
        from doc_parser_spark.operators.extract import MAX_PARSE_BYTES

        huge_html = "<html><body><h1>T</h1><p>" + ("word " * (MAX_PARSE_BYTES // 4)) + "</p></body></html>"
        small_html = "<html><body><h1>T</h1><p>small</p></body></html>"
        rows = pd.DataFrame(
            {
                "conv_id": ["big", "small"],
                "turn_idx": [0, 0],
                "role": "user",
                "text": [huge_html, small_html],
                "tool": None,
                "ts": pd.Timestamp("2026-01-01"),
            }
        )
        out = (
            extract_turns(spark.createDataFrame(rows))
            .orderBy("conv_id")
            .toPandas()
        )
        big, small = out.iloc[0], out.iloc[1]
        assert big["parse_status"] == "partial_success"
        assert big["extracted_text"].startswith("<html>")  # plain path
        assert small["parse_status"] == "success"
        assert small["extracted_text"] == "T\n\nsmall"


class TestManifestGuard:
    def test_bucket_count_mismatch_rejected(self, spark, transcripts_pdf, tmp_path):
        from doc_parser_spark.plans.pipeline import run_extraction_job

        df = spark.createDataFrame(transcripts_pdf.head(40))
        out = str(tmp_path / "g")
        run_extraction_job(spark, df, out, n_buckets=8, job_run_id="g1")
        with pytest.raises(ValueError, match="n_buckets=8"):
            run_extraction_job(spark, df, out, n_buckets=16, job_run_id="g2")


class TestCommitTable:
    """One commit write per job: the ``_manifest`` row per (bucket, run) is
    also that bucket's metrics row."""

    def test_job_counts(self, spark, transcripts_pdf, tmp_path):
        """A fresh 16-bucket job starts at most 6 Spark jobs and a no-op
        resume at most 8 (the manifest is read once, rows come from an
        Observation, metrics and manifest are one write)."""
        import uuid

        from doc_parser_spark.plans.pipeline import run_extraction_job

        sc = spark.sparkContext
        df = spark.createDataFrame(transcripts_pdf)
        out = str(tmp_path / "jobs")

        def n_jobs(expected_rows):
            group = f"commit-jobs-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                res = run_extraction_job(spark, df, out, n_buckets=16)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert res["rows"] == expected_rows
            return len(sc.statusTracker().getJobIdsForGroup(group))

        assert n_jobs(len(transcripts_pdf)) <= 6
        assert n_jobs(0) <= 8

    def test_metrics_match_committed_rows(self, spark, transcripts_pdf, tmp_path):
        from pyspark.sql import functions as F

        from doc_parser_spark.operators.extract import bucket_id
        from doc_parser_spark.plans.pipeline import (
            read_extracted,
            read_metrics,
            run_extraction_job,
        )

        # binary %PDF payloads the decoder cannot read → parse failures
        binary = pd.DataFrame(
            {
                "conv_id": [f"bin{i}" for i in range(6)],
                "turn_idx": 0,
                "role": "user",
                "text": "%PDF-1.4\n\x00\x01\x02 stream \x00\xff",
                "tool": None,
                "ts": transcripts_pdf["ts"].iloc[0],
            }
        )
        df = spark.createDataFrame(
            pd.concat([transcripts_pdf, binary], ignore_index=True)
        )
        out = tmp_path / "commit"
        # two runs, each committing half the buckets
        run_extraction_job(
            spark, df.where(bucket_id("conv_id", 8) < 4), str(out),
            n_buckets=8, job_run_id="m1",
        )
        run_extraction_job(spark, df, str(out), n_buckets=8, job_run_id="m2")

        metrics = read_metrics(spark, str(out)).toPandas()
        assert not (out / "_metrics").exists()
        assert (metrics["n_buckets"] == 8).all()
        assert set(metrics["job_run_id"]) == {"m1", "m2"}
        # one row per (bucket, run), and each bucket committed by one run
        assert metrics["partition_id"].is_unique

        expected = (
            read_extracted(spark, str(out))
            .groupBy(F.col("bucket_id").alias("partition_id"), "job_run_id")
            .agg(
                F.count("*").alias("docs_parsed"),
                F.sum("n_bytes_in").alias("bytes_processed"),
                F.sum((F.col("parse_status") == "failure").cast("long")).alias(
                    "parse_failures"
                ),
            )
            .toPandas()
        )
        assert expected["parse_failures"].sum() == len(binary)
        cols = ["partition_id", "job_run_id", "docs_parsed", "bytes_processed",
                "parse_failures"]
        got = metrics[cols].sort_values("partition_id").reset_index(drop=True)
        want = expected[cols].sort_values("partition_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_unreadable_manifest_raises(self, spark, transcripts_pdf, tmp_path):
        """A corrupt manifest is not an absent one: reading it as "nothing
        committed" would hide every row and make a rerun reprocess, and
        duplicate, every bucket."""
        from doc_parser_spark.plans.pipeline import (
            read_extracted,
            run_extraction_job,
        )

        df = spark.createDataFrame(transcripts_pdf)
        out = tmp_path / "corrupt"
        run_extraction_job(spark, df, str(out), n_buckets=8, job_run_id="k1")
        for f in (out / "_manifest").iterdir():
            f.write_bytes(b"not a parquet file")

        corrupt = "_manifest/part-.* is not a Parquet file"
        with pytest.raises(Exception, match=corrupt):
            read_extracted(spark, str(out)).count()
        with pytest.raises(Exception, match=corrupt):
            run_extraction_job(spark, df, str(out), n_buckets=8, job_run_id="k2")
        raw = spark.read.parquet(str(out / "extracted"))
        assert raw.count() == len(transcripts_pdf)

    def test_commit_killed_before_any_manifest_file(
        self, spark, transcripts_pdf, tmp_path
    ):
        """A kill during a fresh output's commit write leaves the data and a
        ``_manifest`` that holds only the committer's ``_temporary/0/``.
        That is "nothing committed", not an error: ``read_extracted`` sees no
        rows, and the rerun reprocesses every bucket and commits once."""
        import shutil

        from doc_parser_spark.plans.pipeline import (
            read_extracted,
            read_metrics,
            run_extraction_job,
        )

        df = spark.createDataFrame(transcripts_pdf)
        out = tmp_path / "killed_commit"
        run_extraction_job(spark, df, str(out), n_buckets=8, job_run_id="t1")
        shutil.rmtree(out / "_manifest")
        (out / "_manifest" / "_temporary" / "0").mkdir(parents=True)
        assert read_extracted(spark, str(out)).count() == 0

        res = run_extraction_job(spark, df, str(out), n_buckets=8, job_run_id="t2")
        assert res["rows"] == len(transcripts_pdf)
        final = read_extracted(spark, str(out))
        assert final.count() == len(transcripts_pdf)
        runs = final.select("job_run_id").distinct().collect()
        assert [r.job_run_id for r in runs] == ["t2"]
        metrics = read_metrics(spark, str(out)).toPandas()
        assert metrics["docs_parsed"].sum() == len(transcripts_pdf)
        assert set(metrics["job_run_id"]) == {"t2"}
