"""Directory-of-files ingestion (sources/files.py): the reference's
``DocumentConverter.convert_all`` UX over Spark's binaryFile source — one
temp directory of mixed real formats (office, real %PDF, media, text
markup, poison files) must convert in one distributed pass with exact
per-file routing and the error envelope intact."""

from __future__ import annotations

from pathlib import Path

import pytest

from doc_parser_spark.sources import synth_media, synth_office, synth_pdf
from doc_parser_spark.sources.files import convert_directory, convert_files
from doc_parser_spark.sources.synth_webp import build_webp


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    (d / "report.docx").write_bytes(
        synth_office.build_docx("Quarterly", ["alpha beta gamma", "delta"],
                                ["point one", "point two"])
    )
    (d / "sheet.xlsx").write_bytes(
        synth_office.build_xlsx("Data", [["h1", "h2"], ["1", "2"]])
    )
    (d / "deck.pptx").write_bytes(synth_office.build_pptx("Title", ["b1"]))
    (d / "doc.hwpx").write_bytes(synth_office.build_hwpx(1, "한글 본문"))
    (d / "real.pdf").write_bytes(synth_pdf.build_report_pdf(2))
    (d / "img.png").write_bytes(synth_media.build_png(3))
    (d / "img.webp").write_bytes(build_webp(3))
    (d / "clip.avi").write_bytes(synth_media.build_avi(3))
    (d / "sound.wav").write_bytes(synth_media.build_wav(3))
    (d / "song.mp3").write_bytes(synth_media.build_mp3(3))
    (d / "page.html").write_text(
        "<html><body><h1>Head</h1><p>Main body paragraph text here.</p>"
        "</body></html>"
    )
    (d / "notes.md").write_text("# Notes\n\nSome *markdown* body.\n")
    (d / "table.csv").write_text("a,b,c\n1,2,3\n4,5,6\n")
    (d / "poison.docx").write_bytes(b"PK\x03\x04" + b"\x00" * 64)
    (d / "junk.bin").write_bytes(bytes(range(256)) * 4)
    (d / "sub").mkdir()
    (d / "sub" / "nested.txt").write_text("plain nested text file\n")
    # the reference's OWN fixtures, dropped in as files a user would convert
    ref = Path("/root/reference/tests/data")
    (d / "article.nxml").write_bytes(
        (ref / "jats" / "elife-56337.nxml").read_bytes()
    )
    (d / "patent.xml").write_bytes(
        (ref / "uspto" / "ipa20200022300.xml").read_bytes()
    )
    (d / "guide.asciidoc").write_bytes(
        (ref / "asciidoc" / "test_01.asciidoc").read_bytes()
    )
    return d


@pytest.fixture(scope="module")
def converted(spark, doc_dir):
    rows = convert_directory(spark, str(doc_dir)).collect()
    return {Path(r["path"]).name: r for r in rows}


class TestConvertDirectory:
    def test_every_file_has_exactly_one_row(self, converted, doc_dir):
        assert len(converted) == 19

    @pytest.mark.parametrize("name,ct", [
        ("report.docx", "docx"), ("sheet.xlsx", "xlsx"),
        ("deck.pptx", "pptx"), ("doc.hwpx", "hwpx"), ("real.pdf", "pdf"),
    ])
    def test_binary_documents_extract(self, converted, name, ct):
        r = converted[name]
        assert r["kind"] == "document"
        assert r["content_type"] == ct
        assert r["parse_status"] == "success"
        assert r["extracted_text"]
        assert r["spans"]

    def test_docx_content(self, converted):
        assert "alpha beta gamma" in converted["report.docx"]["extracted_text"]

    def test_pdf_content(self, converted):
        assert converted["real.pdf"]["extracted_text"]
        assert all(sp["page"] >= 1 for sp in converted["real.pdf"]["spans"])

    @pytest.mark.parametrize("name,kind", [
        ("img.png", "image"), ("img.webp", "image"), ("clip.avi", "video"),
        ("sound.wav", "audio"), ("song.mp3", "audio"),
    ])
    def test_media_routed_by_kind(self, converted, name, kind):
        r = converted[name]
        assert r["kind"] == kind
        assert r["parse_status"] == "skipped"  # features live in multimodal
        assert r["extracted_text"] is None

    @pytest.mark.parametrize("name,ct", [
        ("page.html", "html"), ("notes.md", "markdown"),
        ("table.csv", "csv"), ("nested.txt", "plain"),
        ("article.nxml", "jats"), ("patent.xml", "uspto"),
        ("guide.asciidoc", "asciidoc"),
    ])
    def test_text_formats_route_through_transcript_router(
        self, converted, name, ct
    ):
        r = converted[name]
        assert r["kind"] == "document"
        assert r["content_type"] == ct
        assert r["parse_status"] == "success"
        assert r["extracted_text"]

    def test_html_strips_markup(self, converted):
        text = converted["page.html"]["extracted_text"]
        assert "Main body paragraph text here." in text
        assert "<p>" not in text

    def test_poison_zip_is_failure_not_crash(self, converted):
        r = converted["poison.docx"]
        assert r["parse_status"] in ("failure", "skipped")
        assert r["extracted_text"] is None

    def test_undecodable_binary_skipped(self, converted):
        # latin-1 always decodes, so pure byte junk lands in the text
        # router; the envelope guarantees a valid status either way
        r = converted["junk.bin"]
        assert r["parse_status"] in ("success", "partial_success", "skipped",
                                     "failure")

    def test_glob_pushdown(self, spark, doc_dir):
        rows = convert_directory(spark, str(doc_dir), glob="*.docx").collect()
        assert sorted(Path(r["path"]).name for r in rows) == [
            "poison.docx", "report.docx"
        ]

    def test_metrics_columns(self, converted):
        r = converted["report.docx"]
        assert r["n_bytes"] > 0 and r["_proc_us"] >= 0

    def test_plan_is_single_pass_no_shuffle(self, spark, doc_dir):
        df = convert_directory(spark, str(doc_dir))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bytes extract on scan partitions


class TestStreamingIngestion:
    def test_convert_files_composes_over_readstream(self, spark, doc_dir,
                                                    tmp_path):
        """Continuous directory ingestion: the SAME convert_files operator
        runs unchanged on a binaryFile readStream (file discovery = the
        micro-batch source), proving the batch/streaming parity the
        curation layer already has."""
        from doc_parser_spark.sources.files import (
            CONVERTED_SCHEMA,
            read_documents_stream,
        )

        stream = read_documents_stream(spark, str(doc_dir))
        out = convert_files(stream)
        assert out.isStreaming
        assert out.schema == CONVERTED_SCHEMA
        sink = tmp_path / "sink"
        ckpt = tmp_path / "ckpt"
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(str(sink)).collect()
        assert len(rows) == 19
        by_name = {Path(r["path"]).name: r for r in rows}
        assert by_name["report.docx"]["parse_status"] == "success"
        assert by_name["img.png"]["kind"] == "image"


class TestSizeLimit:
    def test_oversize_file_is_one_skipped_row(self, spark, tmp_path):
        """S2 InputDocument size-limit analog: an over-limit file costs one
        status row, never an extraction attempt (or an executor OOM at
        scale)."""
        d = tmp_path / "big"
        d.mkdir()
        (d / "huge.html").write_text("<html>" + "x" * 5000 + "</html>")
        (d / "ok.html").write_text("<html><p>small</p></html>")
        from doc_parser_spark.sources.files import read_documents_dir

        out = convert_files(
            read_documents_dir(spark, str(d)), max_bytes=1000
        ).collect()
        by_name = {Path(r["path"]).name: r for r in out}
        big = by_name["huge.html"]
        assert big["parse_status"] == "skipped"
        assert big["extracted_text"] is None
        assert big["n_bytes"] > 1000
        assert by_name["ok.html"]["parse_status"] == "success"


class TestSizeLimitPushdown:
    def test_oversize_bytes_never_read(self, spark, tmp_path):
        """The S2 guard is enforced at the SCAN, not in the task: the
        under-limit branch pushes `length <= max_bytes` into the binaryFile
        source and the over-limit branch reads only (path, length) — an
        oversize (or >2 GB, unreadable-by-binaryFile) stray never
        materializes its bytes, it just becomes a skipped status row."""
        d = tmp_path / "mix"
        d.mkdir()
        (d / "huge.html").write_text("<html>" + "x" * 5000 + "</html>")
        (d / "ok.html").write_text("<html><p>small</p></html>")
        from doc_parser_spark.sources.files import read_documents_dir

        df = convert_files(read_documents_dir(spark, str(d)), max_bytes=1000)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the length predicate reached the binaryFile scan
        assert "LessThanOrEqual(length" in plan
        # one of the two scans projects no content column (skipped branch)
        scans = [seg for seg in plan.split("FileScan") if "ReadSchema" in seg]
        assert any("content" not in seg.split("ReadSchema")[1][:200]
                   for seg in scans)
        rows = {Path(r["path"]).name: r for r in df.collect()}
        big = rows["huge.html"]
        assert big["parse_status"] == "skipped"
        assert big["n_bytes"] > 1000 and big["_proc_us"] == 0
        assert rows["ok.html"]["parse_status"] == "success"

    def test_streaming_branch_still_composes(self, spark, tmp_path):
        """The filter/union split must not break the readStream twin."""
        from doc_parser_spark.sources.files import (
            CONVERTED_SCHEMA,
            read_documents_stream,
        )

        d = tmp_path / "sdocs"
        d.mkdir()
        (d / "a.html").write_text("<html><p>hi</p></html>")
        (d / "big.html").write_text("<html>" + "y" * 5000 + "</html>")
        out = convert_files(read_documents_stream(spark, str(d)),
                            max_bytes=1000)
        assert out.isStreaming and out.schema == CONVERTED_SCHEMA
        sink, ckpt = tmp_path / "sink2", tmp_path / "ckpt2"
        q = (out.writeStream.format("parquet").option("path", str(sink))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = {Path(r["path"]).name: r
                for r in spark.read.parquet(str(sink)).collect()}
        assert rows["big.html"]["parse_status"] == "skipped"
        assert rows["a.html"]["parse_status"] == "success"


class TestRebalance:
    def test_rebalance_adds_one_exchange_same_results(self, spark, doc_dir):
        from doc_parser_spark.sources.files import read_documents_dir

        base = convert_files(read_documents_dir(spark, str(doc_dir)))
        reb = convert_files(
            read_documents_dir(spark, str(doc_dir)), rebalance=8
        )
        plan = reb._jdf.queryExecution().executedPlan().toString()
        # exactly one exchange: the explicit round-robin of file rows that
        # decouples CPU-heavy decode from byte-based scan packing
        assert plan.count("Exchange") == 1 and "RoundRobin" in plan
        a = sorted((r["path"], r["parse_status"], r["extracted_text"])
                   for r in base.collect())
        b = sorted((r["path"], r["parse_status"], r["extracted_text"])
                   for r in reb.collect())
        assert a == b


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    """Only package-synthesized files: the office set, more report PDFs
    than one ``map_rows`` slice, media, text markup and poison files."""
    from doc_parser_spark.operators.extract import MAP_ROWS_SLICE

    d = tmp_path_factory.mktemp("synth_docs")
    (d / "report.docx").write_bytes(
        synth_office.build_docx("Quarterly", ["alpha beta gamma", "delta"],
                                ["point one", "point two"])
    )
    (d / "sheet.xlsx").write_bytes(
        synth_office.build_xlsx("Data", [["h1", "h2"], ["1", "2"]])
    )
    (d / "deck.pptx").write_bytes(synth_office.build_pptx("Title", ["b1"]))
    (d / "doc.hwpx").write_bytes(synth_office.build_hwpx(1, "한글 본문"))
    for i in range(MAP_ROWS_SLICE + 4):
        (d / f"report{i:02d}.pdf").write_bytes(synth_pdf.build_report_pdf(i))
    (d / "img.png").write_bytes(synth_media.build_png(3))
    (d / "img.webp").write_bytes(build_webp(3))
    (d / "clip.avi").write_bytes(synth_media.build_avi(3))
    (d / "sound.wav").write_bytes(synth_media.build_wav(3))
    (d / "song.mp3").write_bytes(synth_media.build_mp3(3))
    (d / "page.html").write_text(
        "<html><body><h1>Head</h1><p>Main body paragraph text here.</p>"
        "</body></html>"
    )
    (d / "notes.md").write_text("# Notes\n\nSome *markdown* body.\n")
    (d / "table.csv").write_text("a,b,c\n1,2,3\n4,5,6\n")
    (d / "poison.docx").write_bytes(b"PK\x03\x04" + b"\x00" * 64)
    (d / "junk.bin").write_bytes(bytes(range(256)) * 4)
    (d / "sub").mkdir()
    (d / "sub" / "nested.txt").write_text("plain nested text file\n")
    return d


class TestConvertSynthesizedDirectory:
    """The directory surface on synthesized files alone, so it runs
    without the reference sample documents."""

    @pytest.fixture(scope="class")
    def rows(self, spark, synth_dir):
        return convert_directory(spark, str(synth_dir)).collect()

    def test_one_row_per_file(self, rows, synth_dir):
        files = sorted(p.name for p in synth_dir.rglob("*") if p.is_file())
        assert sorted(Path(r["path"]).name for r in rows) == files

    def test_kind_type_and_status(self, rows):
        by_name = {Path(r["path"]).name: r for r in rows}
        expect = {
            "report.docx": ("document", "docx", "success"),
            "sheet.xlsx": ("document", "xlsx", "success"),
            "deck.pptx": ("document", "pptx", "success"),
            "doc.hwpx": ("document", "hwpx", "success"),
            "img.png": ("image", "image", "skipped"),
            "img.webp": ("image", "image", "skipped"),
            "clip.avi": ("video", "video", "skipped"),
            "sound.wav": ("audio", "audio", "skipped"),
            "song.mp3": ("audio", "audio", "skipped"),
            "page.html": ("document", "html", "success"),
            "notes.md": ("document", "markdown", "success"),
            "table.csv": ("document", "csv", "success"),
            "nested.txt": ("document", "plain", "success"),
        }
        for name, r in by_name.items():
            if name.startswith("report") and name.endswith(".pdf"):
                expect[name] = ("document", "pdf", "success")
        got = {name: (r["kind"], r["content_type"], r["parse_status"])
               for name, r in by_name.items() if name in expect}
        assert got == expect
        for name, (kind, _, _) in expect.items():
            r = by_name[name]
            if kind == "document":
                assert r["extracted_text"] and r["spans"], name
            else:
                assert r["extracted_text"] is None, name
            assert r["n_bytes"] > 0 and r["_proc_us"] >= 0, name
        assert "alpha beta gamma" in by_name["report.docx"]["extracted_text"]
        assert all(sp["page"] >= 1 for sp in by_name["report07.pdf"]["spans"])
        poison = by_name["poison.docx"]
        assert poison["parse_status"] in ("failure", "skipped")
        assert poison["extracted_text"] is None
        assert by_name["junk.bin"]["parse_status"] in (
            "success", "partial_success", "skipped", "failure"
        )

    def test_one_arrow_crossing_no_shuffle(self, spark, synth_dir):
        df = convert_directory(spark, str(synth_dir))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInArrow" in plan and "MapInPandas" not in plan

    def test_one_task_equals_split_scan(self, spark, synth_dir, rows):
        """All files in one Arrow batch (several ``map_rows`` slices) give
        the rows of the split scan, ``_proc_us`` aside."""
        from doc_parser_spark.sources.files import read_documents_dir

        one = convert_files(read_documents_dir(spark, str(synth_dir))
                            .coalesce(1)).drop("_proc_us").collect()
        split = [r.asDict() for r in rows]
        for r in split:
            del r["_proc_us"]
        key = lambda r: r["path"]  # noqa: E731
        assert sorted((r.asDict() for r in one), key=key) == sorted(
            split, key=key
        )


class TestZeroByteFiles:
    """Spark's file index lists a zero-length file but its scan yields no
    row for it; ``convert_directory`` still gives every listed file one
    row, an empty one the (``empty``, ``skipped``) row of a zero-byte
    payload. Names with a space or ``%`` (which the index's URIs escape)
    keep the scan's ``path`` format, and a hidden empty file stays
    unlisted, as Spark's listing leaves it."""

    @pytest.fixture(scope="class")
    def empty_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("zero")
        (d / "a b.txt").write_text("hello world\n")
        (d / "empty file.txt").write_bytes(b"")
        (d / "_empty.txt").write_bytes(b"")
        (d / "sub").mkdir()
        (d / "sub" / "b.md").write_text("# B\n\nbody\n")
        (d / "sub" / "empty%41.md").write_bytes(b"")
        return d

    @pytest.mark.parametrize(
        "glob, names",
        [
            (None, ["a b.txt", "empty file.txt", "sub/b.md", "sub/empty%41.md"]),
            ("*.txt", ["a b.txt", "empty file.txt"]),
            ("*.md", ["sub/b.md", "sub/empty%41.md"]),
        ],
    )
    def test_every_listed_file_gets_one_row(self, spark, empty_dir, glob, names):
        rows = convert_directory(spark, str(empty_dir), glob).collect()
        prefix = f"file:{empty_dir}/"
        by_name = {r["path"].removeprefix(prefix): r for r in rows}
        assert sorted(by_name) == names and len(rows) == len(names)
        for name, r in by_name.items():
            if "empty" in name:
                assert (r["kind"], r["content_type"], r["extracted_text"],
                        r["spans"], r["parse_status"], r["n_bytes"]) == (
                    "document", "empty", "", [], "skipped", 0
                )
            else:
                assert r["parse_status"] == "success" and r["n_bytes"] > 0
