"""End-to-end one-shot curation: quality gate → exact dedup → near-dup →
vs-corpus classification → chunks, with injected duplicates and garbage.
A one-shot run is ``curate_ingest`` against the index of an empty corpus,
so every within-batch survivor is novel."""

from __future__ import annotations

import pandas as pd


def _corpus() -> pd.DataFrame:
    art = (
        "<html><body><h1>Guide</h1><p>"
        + " ".join(f"unique sentence number {i} with content" for i in range(6))
        + "</p></body></html>"
    )
    near = art.replace("</p>", " plus one extra tail clause</p>")
    rows = []

    def add(conv, turn, text):
        rows.append(
            {
                "conv_id": conv, "turn_idx": turn, "role": "user",
                "text": text, "tool": None,
                "ts": pd.Timestamp("2026-01-01"),
            }
        )

    # 3 exact copies of the article across conversations
    add("a", 0, art)
    add("b", 0, art)
    add("c", 0, art)
    # 1 near-duplicate
    add("d", 0, near)
    # distinct real content
    for i in range(5):
        add("e", i, f"totally distinct paragraph {i}\n\nsecond para {i} " * 3)
    # garbage (quality gate) + empty (status gate)
    add("f", 0, "GLYPH<1f> GLYPH<2e> junk")
    add("g", 0, "   ")
    return pd.DataFrame(rows)


def _curate(spark, tmp_path):
    """``curate_ingest`` of the corpus against the (written) index of an
    empty corpus."""
    from doc_parser_spark.plans.curate import (
        build_curation_index,
        curate_ingest,
    )

    df = spark.createDataFrame(_corpus())
    index_path = tmp_path / "empty_index"
    if not index_path.exists():
        build_curation_index(spark, df.limit(0)).write.parquet(str(index_path))
    vectors, _, stats = curate_ingest(
        spark, df, spark.read.parquet(str(index_path)),
        near_dup_jaccard=0.5, max_tokens=200,
    )
    return vectors, stats


def test_curation_stages(spark, tmp_path):
    vectors, stats = _curate(spark, tmp_path)
    assert stats["extracted"] == 11
    # empty skipped + glyph garbage (score 0) filtered
    assert stats["quality_kept"] == 9
    # 3 exact copies → 1 kept
    assert stats["exact_unique"] == 7
    # near-dup of the article removed
    assert stats["near_dup_unique"] == 6
    # an empty corpus index: every survivor is novel
    assert stats["novel"] == stats["near_dup_unique"]
    assert stats["vectors"] >= stats["near_dup_unique"]

    pdf = vectors.toPandas()
    # exactly one copy of the article text line survived
    assert (
        pdf["text"].str.contains("unique sentence number 0", regex=False).sum()
        == 1
    )
    # index invariants still hold after curation
    for conv, grp in pdf.groupby("conv_id"):
        assert sorted(grp["i_chunk_on_doc"]) == list(range(len(grp)))
    stats.unpersist()


def test_curation_stats_ride_the_single_action(spark, tmp_path):
    """The stats dict is CollectMetrics-backed: after the caller's one real
    write, reading every stage count launches ZERO additional Spark jobs
    (the round-4 version ran five eager .count() jobs, each re-traversing
    the cached lineage)."""
    vectors, stats = _curate(spark, tmp_path)
    # six observe points in the plan, one per stage (the tree print
    # duplicates forked subtrees, so count distinct metric names)
    plan = vectors._jdf.queryExecution().analyzed().toString()
    for stage in ("extracted", "quality_kept", "exact_unique",
                  "near_dup_unique", "novel", "vectors"):
        assert f"CollectMetrics curation_{stage}" in plan

    sc = spark.sparkContext
    vectors.write.mode("overwrite").parquet(str(tmp_path / "vec"))

    sc.setJobGroup("stats-read", "reading curation stats")
    try:
        collected = dict(stats.items())
    finally:
        sc.setJobGroup(None, None)
    assert collected["extracted"] == 11
    assert collected["quality_kept"] == 9
    assert collected["exact_unique"] == 7
    assert collected["near_dup_unique"] == 6
    assert collected["novel"] == 6
    assert collected["vectors"] >= 6
    # no job ran inside the stats-read group: the metrics came off the write
    assert sc.statusTracker().getJobIdsForGroup("stats-read") == []
    stats.unpersist()


def test_curation_stats_dict_c_paths_fill_first(spark, tmp_path):
    """dict's C-level read paths (get/==/copy/pop/setdefault) bypass
    __getitem__ — each must trigger the lazy fill, or stats.get('extracted')
    before the first action silently returns None."""
    _, stats = _curate(spark, tmp_path)
    assert stats.get("extracted") == 11       # was None pre-fix
    assert stats.get("no_such_stage", -1) == -1

    _, stats2 = _curate(spark, tmp_path)
    assert stats2.copy()["quality_kept"] == 9
    _, stats3 = _curate(spark, tmp_path)
    assert stats3 == {
        "extracted": 11, "quality_kept": 9, "exact_unique": 7,
        "near_dup_unique": 6, "novel": 6, "vectors": stats3["vectors"],
    }
    assert stats3.pop("extracted") == 11
    assert stats3.setdefault("quality_kept", -1) == 9
    _, stats4 = _curate(spark, tmp_path)
    assert dict(stats4)["extracted"] == 11   # perfbench's form
    for s in (stats, stats2, stats3, stats4):
        s.unpersist()
