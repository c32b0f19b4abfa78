"""Corpus-curation operators (operators/curation.py): benchmark
decontamination, deterministic stratified sampling, sequence packing.

Semantic properties beyond the DuckDB oracle gate (curate_* queries):
determinism across re-runs, the rate-1.0 threshold sentinel, packing
invariants (offset bounds, straddle flags, per-shard contiguity), and the
scale shape (broadcast on the benchmark side, no corpus-text shuffle).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doc_parser_spark.operators.curation import (
    decontaminate_ngrams,
    pack_sequences,
    sample_threshold_hex,
    stratified_sample,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "one two three four five six seven eight nine ten eleven"),
        (2, "totally unrelated words nothing shared with anything else here"),
        (3, "prefix words then alpha beta gamma delta epsilon zeta tail"),
        (4, "short text"),  # < n words: no 5-grams
        (5, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDecontaminate:
    def test_flags_overlap_and_spares_rest(self, spark, corpus):
        bench = corpus.where("doc_id = 0")
        out = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in decontaminate_ngrams(
                corpus, bench, "doc_id", "text", n=5
            ).collect()
        }
        assert len(out) == 6  # every corpus doc present, incl. the short one
        assert out[0][1] is True  # bench doc itself
        assert out[3][1] is True  # shares 'alpha beta gamma delta epsilon'+
        assert out[3][0] >= 2  # two shared 5-grams (sliding window)
        assert out[1] == (0, False)
        assert out[2] == (0, False)
        assert out[4] == (0, False)  # too short for any 5-gram

    def test_benchmark_side_is_broadcast(self, spark, corpus):
        plan = decontaminate_ngrams(
            corpus, corpus.limit(1), "doc_id", "text", n=5
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


class TestStratifiedSample:
    RATES = {"a": 0.5, "b": 1.0, "c": 0.0}

    @pytest.fixture(scope="class")
    def strata(self, spark):
        rows = [(i, "abc"[i % 3]) for i in range(300)]
        return spark.createDataFrame(rows, "doc_id long, stratum string")

    def test_rate_one_keeps_all_rate_zero_drops_all(self, spark, strata):
        out = stratified_sample(
            strata, "doc_id", "stratum", self.RATES
        ).toPandas()
        b = out[out.stratum == "b"]
        c = out[out.stratum == "c"]
        assert b.sampled.all() and (b.weight == 1.0).all()
        assert (~c.sampled).all() and (c.weight == 0.0).all()
        a = out[out.stratum == "a"]
        assert 0.3 < a.sampled.mean() < 0.7  # ~0.5 on 100 draws
        assert (a[a.sampled].weight == 2.0).all()

    def test_deterministic_across_runs(self, spark, strata):
        kept1 = set(
            r["doc_id"]
            for r in stratified_sample(strata, "doc_id", "stratum", self.RATES)
            .where("sampled")
            .collect()
        )
        kept2 = set(
            r["doc_id"]
            for r in stratified_sample(
                strata.repartition(7), "doc_id", "stratum", self.RATES
            )
            .where("sampled")
            .collect()
        )
        assert kept1 == kept2  # partitioning-independent, no RNG state

    def test_threshold_hex_edges(self):
        assert sample_threshold_hex(1.0) == "zzzz"
        assert sample_threshold_hex(0.0) == "0000"
        assert sample_threshold_hex(0.25) == "4000"

    def test_row_local_no_exchange(self, spark, strata):
        plan = stratified_sample(
            strata, "doc_id", "stratum", self.RATES
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestPackSequences:
    @pytest.fixture(scope="class")
    def packed(self, spark):
        rows = [(i, " ".join(["w"] * (10 + i % 37))) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return pack_sequences(
            df, "doc_id", "text", budget=64, n_shards=4
        ).toPandas()

    def test_offsets_within_budget(self, packed):
        assert (packed.offset_in_seq >= 0).all()
        assert (packed.offset_in_seq < 64).all()

    def test_straddle_flag_matches_arithmetic(self, packed):
        ends = packed.offset_in_seq + packed.tokens
        assert (packed.straddles == (ends > 64)).all()

    def test_shards_pack_contiguously(self, packed):
        for shard, grp in packed.groupby("shard"):
            grp = grp.sort_values("doc_id")
            # consecutive docs in a shard either continue the running token
            # stream or the stream crossed a budget cut — never a gap
            cum = grp.tokens.cumsum().shift(fill_value=0)
            assert (
                grp.seq_id == shard * 2**32 + cum // 64
            ).all()
            # local seq ids are dense from 0
            local = sorted((grp.seq_id - shard * 2**32).unique())
            assert local[0] == 0
            assert local == list(range(len(local)))

    def test_seq_ids_globally_unique_across_shards(self, packed):
        by_seq = packed.groupby("seq_id").shard.nunique()
        assert (by_seq == 1).all()


# ---------------------------------------------------------------------------
# property-based invariants (pure-python mirrors of the Spark expressions,
# verified equivalent by the oracled queries; hypothesis explores the input
# space no fixed corpus covers)
# ---------------------------------------------------------------------------
import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from doc_parser_spark.operators.curation import sample_threshold_hex


@settings(max_examples=200, deadline=None)
@given(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz|0123456789", min_size=1, max_size=24
    ),
)
def test_threshold_is_monotone_and_exact_at_edges(rate, key):
    """The lexicographic hex compare implements u < rate for the uniform
    draw u = md5/16^4: rate 0 never keeps, rate 1 always keeps, and the
    kept-set is monotone in rate (a row kept at rate r stays kept at any
    r' > r) — the property that makes rate changes pure supersets, so a
    resampled corpus only grows."""
    u = hashlib.md5(key.encode()).hexdigest()[:4]
    kept = u < sample_threshold_hex(rate)
    if rate == 0.0:
        assert not kept
    if rate >= 1.0:
        assert kept
    bigger = min(1.0, rate + 0.25)
    kept_bigger = u < sample_threshold_hex(bigger)
    assert (not kept) or kept_bigger  # monotone


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=80),
    st.integers(min_value=8, max_value=256),
)
def test_pack_arithmetic_invariants(tokens, budget):
    """The concat-and-chunk arithmetic (mirrors pack_sequences' window
    expressions within one shard): offsets stay inside the budget, seq ids
    are non-decreasing and dense, every straddle flag matches end > budget,
    and total token mass is conserved."""
    cum = 0
    prev_seq = 0
    covered = set()
    for t in tokens:
        start = cum
        cum += t
        seq = start // budget
        off = start - seq * budget
        last_seq = (cum - 1) // budget
        straddles = last_seq > seq
        assert 0 <= off < budget
        assert seq >= prev_seq
        # a document occupies [seq, last_seq]; an oversized doc may span
        # many sequences (start ids skip, but token space never gaps)
        covered.update(range(seq, last_seq + 1))
        assert straddles == (off + t > budget)
        prev_seq = seq
    assert covered == set(range(0, max(covered) + 1))
    assert cum == sum(tokens)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=20
    ),
    st.integers(min_value=2, max_value=4),
)
def test_shingle_contamination_symmetry(texts, n):
    """Decontamination's n-gram rule (python mirror of
    dedup.shingle_expr_from_words over a space split):
    a document is contaminated by a benchmark containing itself iff it has
    at least one n-gram; contamination is monotone in benchmark growth."""

    def shingles(s):
        w = s.split(" ")
        return (
            {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
            if len(w) >= n
            else set()
        )

    bench_small = shingles(texts[0])
    bench_big = set().union(*(shingles(t) for t in texts))
    for t in texts:
        sh = shingles(t)
        hit_small = bool(sh & bench_small)
        hit_big = bool(sh & bench_big)
        assert (not hit_small) or hit_big  # monotone in the benchmark
        if sh and t == texts[0]:
            assert hit_small  # self-contamination
        if not sh:
            assert not hit_big  # short docs never contaminated


# ---------------------------------------------------------------------------
# CCNet-style unigram LM quality score
# ---------------------------------------------------------------------------
import math

from pyspark.sql import Row

from doc_parser_spark.operators.curation import lm_quality_score


class TestLmQualityScore:
    def test_common_tokens_score_lower_than_rare(self, spark):
        # 'the cat sat' repeated corpus-wide; doc 9 is gibberish — its
        # tokens are rare, so its NLL must be the highest
        docs = spark.createDataFrame(
            [Row(doc_id=i, text="the cat sat on the mat") for i in range(8)]
            + [Row(doc_id=9, text="zxqv wjkp qqfl zxqv")]
        )
        got = {r["doc_id"]: r["nll"] for r in
               lm_quality_score(docs, "doc_id", "text").collect()}
        assert got[9] == max(got.values())
        assert all(got[i] == got[0] for i in range(8))

    def test_exact_unigram_math_and_oov_floor(self, spark):
        # corpus: 'aa aa bb' → counts aa=2, bb=1, total=3 (vocab_size=1
        # keeps only 'aa'; 'bb' pays the count-1 OOV floor — same value
        # here since count(bb)=1, exercising the coalesce path)
        docs = spark.createDataFrame([Row(doc_id=1, text="aa aa bb")])
        row = lm_quality_score(docs, "doc_id", "text", vocab_size=1).collect()[0]
        expect = -(2 * math.log(2 / 3) + 1 * math.log(1 / 3)) / 3
        assert row["n_tokens"] == 3
        assert abs(row["nll"] - round(expect, 4)) < 1e-9

    def test_tokenizer_lowercases_and_splits_punct(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="The THE the!"), Row(doc_id=2, text="...")]
        )
        rows = lm_quality_score(docs, "doc_id", "text").collect()
        by_id = {r["doc_id"]: r for r in rows}
        assert by_id[1]["n_tokens"] == 3  # one token type 'the', thrice
        assert by_id[1]["nll"] == 0.0  # p('the') = 3/3 = 1
        assert 2 not in by_id  # no tokens -> no row


# ---------------------------------------------------------------------------
# TF-IDF top-k terms
# ---------------------------------------------------------------------------
from doc_parser_spark.operators.curation import tfidf_top_terms


class TestTfidfTopTerms:
    def test_distinctive_term_outranks_ubiquitous(self, spark):
        # 'shared' appears in every doc (low idf); each doc also has a
        # unique term which must rank first despite equal tf
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"shared words here unique{i}")
             for i in range(6)]
        )
        rows = tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
        top = {r["doc_id"]: r["term"] for r in rows if r["rank"] == 1}
        assert top == {i: f"unique{i}" for i in range(6)}

    def test_tf_weighting_and_rank_bounds(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="aaa aaa aaa bbb"), Row(doc_id=2, text="ccc")]
        )
        rows = tfidf_top_terms(docs, "doc_id", "text", k=5).collect()
        d1 = sorted(
            [r for r in rows if r["doc_id"] == 1], key=lambda r: r["rank"]
        )
        assert [r["term"] for r in d1] == ["aaa", "bbb"]  # tf 3 beats tf 1
        assert d1[0]["score"] == pytest.approx(3 * d1[1]["score"], abs=1e-3)
        assert all(r["rank"] <= 5 for r in rows)


# ---------------------------------------------------------------------------
# char-trigram Naive-Bayes language ID
# ---------------------------------------------------------------------------
from doc_parser_spark.operators.curation import lang_id_ngram


class TestLangIdNgram:
    def test_separable_scripts_self_train(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=i, text="der die das und nicht aber", lang="de")
             for i in range(5)]
            + [Row(doc_id=10 + i, text="the quick brown fox jumps", lang="en")
               for i in range(5)]
            + [Row(doc_id=20 + i, text="el rapido zorro marron salta", lang="es")
               for i in range(5)]
        )
        out = lang_id_ngram(
            docs, "doc_id", "text", "lang", ["de", "en", "es"]
        ).collect()
        assert len(out) == 15
        assert all(r["is_correct"] for r in out)

    def test_short_text_dropped_and_determinism(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="ab", lang="en"),
             Row(doc_id=2, text="plenty of english words here", lang="en"),
             Row(doc_id=3, text="noch mehr deutsche woerter hier", lang="de")]
        )
        a = lang_id_ngram(docs, "doc_id", "text", "lang", ["de", "en"])
        got = {r["doc_id"]: r["pred_lang"] for r in a.collect()}
        assert 1 not in got  # < 3 chars -> no trigrams -> no row
        b = {r["doc_id"]: r["pred_lang"]
             for r in lang_id_ngram(docs, "doc_id", "text", "lang",
                                    ["de", "en"]).collect()}
        assert got == b


# ---------------------------------------------------------------------------
# pack_segments — materialized packing splits
# ---------------------------------------------------------------------------
from doc_parser_spark.operators.curation import pack_segments


class TestPackSegments:
    def test_segments_cover_docs_and_fill_budget(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["w"] * (3 + (i * 7) % 11)))
             for i in range(40)]
        )
        segs = pack_segments(docs, "doc_id", "text", budget=8, n_shards=4)
        rows = segs.collect()
        n_tokens = {i: 3 + (i * 7) % 11 for i in range(40)}
        # 1. concatenated segments reproduce every document exactly
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for d, rs in by_doc.items():
            rs.sort(key=lambda r: r["tok_start"])
            assert rs[0]["tok_start"] == 0
            assert rs[-1]["tok_end"] == n_tokens[d]
            for a, b in zip(rs, rs[1:]):
                assert a["tok_end"] == b["tok_start"]
        assert set(by_doc) == set(n_tokens)
        # 2. every sequence except each shard's last is filled to budget
        by_seq = {}
        for r in rows:
            by_seq.setdefault(r["seq_id"], 0)
            by_seq[r["seq_id"]] += r["tok_end"] - r["tok_start"]
        for shard in {s >> 32 for s in by_seq}:
            seqs = sorted(s for s in by_seq if s >> 32 == shard)
            assert all(by_seq[s] == 8 for s in seqs[:-1])
            assert 0 < by_seq[seqs[-1]] <= 8
        # 3. offsets stay inside the budget
        assert all(0 <= r["offset_in_seq"] < 8 for r in rows)

    def test_consistent_with_pack_sequences(self, spark):
        from doc_parser_spark.operators.curation import pack_sequences

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["w"] * (1 + (i * 5) % 9)))
             for i in range(30)]
        )
        seq = {r["doc_id"]: (r["seq_id"], r["offset_in_seq"], r["straddles"])
               for r in pack_sequences(docs, "doc_id", "text", budget=8,
                                       n_shards=4).collect()}
        first = {}
        counts = {}
        for r in pack_segments(docs, "doc_id", "text", budget=8,
                               n_shards=4).collect():
            counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
            if r["tok_start"] == 0:
                first[r["doc_id"]] = (r["seq_id"], r["offset_in_seq"])
        for d, (sid, off, straddles) in seq.items():
            assert first[d] == (sid, off)
            assert (counts[d] > 1) == straddles


class TestTemperatureMixture:
    def _docs(self, spark):
        # 3 domains with counts 64 / 16 / 4
        rows = [(i, "big") for i in range(64)]
        rows += [(100 + i, "mid") for i in range(16)]
        rows += [(200 + i, "small") for i in range(4)]
        return spark.createDataFrame(rows, ["doc_id", "lang"])

    def test_rates_closed_form(self, spark):
        from doc_parser_spark.operators.curation import (
            temperature_mixture_sample,
        )

        docs = self._docs(spark)
        out = temperature_mixture_sample(docs, "doc_id", "lang", tau=0.5)
        rates = {
            r["lang"]: r["rate"]
            for r in out.select("lang", "rate").distinct().collect()
        }
        # rate_d = (min/c_d)^(1-tau) with min=4, tau=0.5
        assert rates["small"] == pytest.approx(1.0, abs=1e-6)
        assert rates["mid"] == pytest.approx((4 / 16) ** 0.5, abs=1e-6)
        assert rates["big"] == pytest.approx((4 / 64) ** 0.5, abs=1e-6)
        # smallest domain keeps everything
        kept = out.where("lang = 'small' AND sampled").count()
        assert kept == 4

    def test_tau_1_keeps_natural_mixture(self, spark):
        from doc_parser_spark.operators.curation import (
            temperature_mixture_sample,
        )

        out = temperature_mixture_sample(
            self._docs(spark), "doc_id", "lang", tau=1.0
        )
        assert out.where("NOT sampled").count() == 0
        assert out.where("weight != 1.0").count() == 0

    def test_tau_0_equalizes_expected_counts(self, spark):
        from doc_parser_spark.operators.curation import (
            temperature_mixture_sample,
        )

        out = temperature_mixture_sample(
            self._docs(spark), "doc_id", "lang", tau=0.0
        )
        rates = {
            r["lang"]: r["rate"]
            for r in out.select("lang", "rate").distinct().collect()
        }
        # expected kept per domain = c_d * (min/c_d) = min for every domain
        for lang, c in (("big", 64), ("mid", 16), ("small", 4)):
            assert rates[lang] * c == pytest.approx(4.0, abs=1e-3)

    def test_deterministic_and_subset_invariance(self, spark):
        from doc_parser_spark.operators.curation import (
            temperature_mixture_sample,
        )

        docs = self._docs(spark)
        a = {
            r["doc_id"]: r["sampled"]
            for r in temperature_mixture_sample(
                docs, "doc_id", "lang", tau=0.5
            ).collect()
        }
        b = {
            r["doc_id"]: r["sampled"]
            for r in temperature_mixture_sample(
                docs, "doc_id", "lang", tau=0.5
            ).collect()
        }
        assert a == b  # pure function of the row + corpus counts

    def test_plan_broadcasts_rates(self, spark):
        import io
        from contextlib import redirect_stdout

        from doc_parser_spark.operators.curation import (
            temperature_mixture_sample,
        )

        out = temperature_mixture_sample(
            self._docs(spark), "doc_id", "lang", tau=0.5
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # the corpus side must not sort-merge; rates ride a broadcast
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan


class TestBigramLM:
    def test_hand_computed_tiny_corpus(self, spark):
        import math

        from doc_parser_spark.operators.curation import lm_bigram_score

        # corpus: "a b a b" and "a b" — every token in vocab
        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: (r["n_bigrams"], r["nll"])
            for r in lm_bigram_score(
                docs, "doc_id", "text", vocab_size=10, lam=0.5
            ).collect()
        }
        # counts: uni a=3 b=3 total 6; bigrams: (a,b)x3, (b,a)x1.
        # bigram-MLE denominators are HISTORY counts (Σ_cur c(prev,cur)):
        # c(a,·)=3 → P(b|a)=3/3=1; c(b,·)=1 → P(a|b)=1/1=1 (b is history
        # only once — its other occurrences are doc-final)
        ll_ab = -math.log(0.5 * 1.0 + 0.5 * 0.5)
        ll_ba = -math.log(0.5 * 1.0 + 0.5 * 0.5)
        assert out[1][0] == 3
        assert out[1][1] == round((2 * ll_ab + ll_ba) / 3, 4)
        assert out[2] == (1, round(ll_ab, 4))

    def test_sequencing_sensitivity(self, spark):
        from doc_parser_spark.operators.curation import lm_bigram_score

        # many docs share a strong word ORDER; one doc has the same words
        # shuffled — identical unigram profile, so only a bigram model can
        # rank it worse
        natural = "the quick brown fox jumps over the lazy dog"
        shuffled = "dog the over quick lazy fox the jumps brown"
        docs = spark.createDataFrame(
            [(i, natural) for i in range(10)] + [(99, shuffled)],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["nll"]
            for r in lm_bigram_score(
                docs, "doc_id", "text", vocab_size=50, lam=0.7
            ).collect()
        }
        assert out[99] > out[0] + 0.5

    def test_unk_and_short_docs(self, spark):
        from doc_parser_spark.operators.curation import lm_bigram_score

        docs = spark.createDataFrame(
            [(1, "common common common rare1"), (2, "common common"),
             (3, "solo"), (4, "")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in lm_bigram_score(
                docs, "doc_id", "text", vocab_size=1, lam=0.5
            ).collect()
        }
        # docs 3 (one token) and 4 (empty) emit no rows
        assert set(out) == {1, 2}
        # rare1 maps to <unk>; its bigram still scores via interpolation
        assert out[1]["n_bigrams"] == 3

    def test_adjacency_window_exchange_written_once(self, spark):
        import re

        from doc_parser_spark.operators.curation import lm_bigram_score

        docs = spark.createDataFrame(
            [(i, "alpha beta gamma alpha beta " * (i + 1)) for i in range(6)],
            ["doc_id", "text"],
        )
        out = lm_bigram_score(docs, "doc_id", "text")
        out.collect()
        plan = (
            out._jdf.queryExecution().executedPlan().finalPhysicalPlan()
            .toString()
        )
        # the per-doc window's exchange feeds the bigram counts and the
        # scoring join: the executed plan writes it once and reads it
        # again through ReusedExchange
        by_doc = r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)"
        written = re.findall(r"\+- " + by_doc, plan)
        reused = re.findall(r"ReusedExchange \[[^\]]*\], " + by_doc, plan)
        assert len(written) == 1
        assert reused


class TestPhraseMining:
    def test_planted_collocation_ranks_high(self, spark):
        from doc_parser_spark.operators.curation import mine_phrases

        # "neural network" always adjacent; "data" and "model" frequent but
        # independently placed — the score must separate them
        docs = []
        for i in range(20):
            docs.append((i, "neural network is a neural network model"))
            docs.append((100 + i, "data goes here and model goes there"))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out = {
            (r["w1"], r["w2"]): r["score"]
            for r in mine_phrases(
                df, "doc_id", "text", delta=3, threshold=1.0
            ).collect()
        }
        assert ("neural", "network") in out
        # frequent-but-independent words never pair adjacently here
        assert ("data", "model") not in out

    def test_delta_discounts_rare_pairs(self, spark):
        from doc_parser_spark.operators.curation import mine_phrases

        # a pair occurring exactly delta times is filtered out entirely
        df = spark.createDataFrame(
            [(i, "rare pair") for i in range(3)]
            + [(10 + i, "filler words only here") for i in range(5)],
            ["doc_id", "text"],
        )
        out = mine_phrases(df, "doc_id", "text", delta=3, threshold=0.0)
        assert ("rare", "pair") not in {
            (r["w1"], r["w2"]) for r in out.collect()
        }


class TestCorpusDiff:
    def test_all_statuses(self, spark):
        from doc_parser_spark.operators.curation import corpus_diff

        old = spark.createDataFrame(
            [(1, "same"), (2, "will change"), (3, "will vanish")],
            ["doc_id", "text"],
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "changed!"), (4, "brand new")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["status"]
            for r in corpus_diff(old, new, "doc_id", "text").collect()
        }
        assert out == {1: "unchanged", 2: "changed", 3: "removed",
                       4: "added"}


class TestCorpusProfile:
    def test_values_computed_independently(self, spark):
        # values asserted against hand arithmetic, NOT the oracle — a
        # formula bug copied to both engine sides would still hash-match
        from doc_parser_spark.operators.curation import profile_corpus

        docs = spark.createDataFrame(
            [
                (1, "one two three"),          # 3 tokens
                (2, "four five"),              # 2
                (3, "six seven eight nine"),   # 4
                (4, ""),                       # empty → 0 tokens
                (5, None),                     # null
                (6, "one two three"),          # exact dup of 1
            ],
            "doc_id long, text string",
        )
        r = profile_corpus(docs, "doc_id", "text").collect()[0]
        assert r["n_docs"] == 6
        assert r["n_null"] == 1
        assert r["n_empty"] == 1
        assert r["n_distinct"] == 4  # dup collapses; null excluded by md5
        assert r["total_tokens"] == 3 + 2 + 4 + 0 + 3
        assert r["min_tokens"] == 0
        assert r["max_tokens"] == 4
        assert r["avg_tokens"] == 2.4  # 12 / 5 non-null
        assert r["p50_tokens"] == 3.0  # sorted [0,2,3,3,4]


class TestMixtureNullDomain:
    def test_null_domain_is_a_stratum_not_row_loss(self, spark):
        # a NULL domain must come through as its own stratum — the plain
        # equi-join silently dropped those rows (found by edge sweep)
        from doc_parser_spark.operators.curation import (
            temperature_mixture_sample,
        )

        df = spark.createDataFrame(
            [(i, "a") for i in range(8)] + [(100 + i, None) for i in range(2)],
            "doc_id long, lang string",
        )
        out = temperature_mixture_sample(df, "doc_id", "lang", tau=0.5)
        assert out.count() == 10
        nulls = out.where(F.col("lang").isNull()).collect()
        assert len(nulls) == 2
        # min-count stratum (the nulls) keeps everything at rate 1.0
        assert all(r["rate"] == 1.0 and r["sampled"] for r in nulls)


class TestSplitAndCurriculum:
    def test_split_fractions_and_determinism(self, spark):
        from doc_parser_spark.operators.curation import train_val_test_split

        df = spark.createDataFrame(
            [(i,) for i in range(2000)], "doc_id long"
        )
        out = train_val_test_split(df, "doc_id").groupBy("split").count()
        counts = {r["split"]: r["count"] for r in out.collect()}
        assert 0.75 < counts["train"] / 2000 < 0.85
        assert 0.07 < counts["val"] / 2000 < 0.13
        assert 0.07 < counts["test"] / 2000 < 0.13
        # re-run identical; different salt reshuffles
        a = {r["doc_id"]: r["split"]
             for r in train_val_test_split(df, "doc_id").collect()}
        b = {r["doc_id"]: r["split"]
             for r in train_val_test_split(df, "doc_id").collect()}
        c = {r["doc_id"]: r["split"]
             for r in train_val_test_split(df, "doc_id", salt="v2").collect()}
        assert a == b
        assert a != c

    def test_curriculum_monotone_in_score(self, spark):
        from doc_parser_spark.operators.curation import curriculum_shards

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], ["doc_id", "s"]
        )
        out = {r["doc_id"]: r["shard"]
               for r in curriculum_shards(df, "doc_id", "s", k=4).collect()}
        # shards are monotone in score and quartile-sized on distinct values
        assert [out[i] for i in (0, 30, 60, 90)] == [1, 2, 3, 4]
        prev = 0
        for i in range(100):
            assert out[i] >= prev
            prev = out[i]

    def test_curriculum_no_global_sort(self, spark):
        import io
        from contextlib import redirect_stdout

        from doc_parser_spark.operators.curation import curriculum_shards

        df = spark.createDataFrame(
            [(i, float(i % 7)) for i in range(50)], ["doc_id", "s"]
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            curriculum_shards(df, "doc_id", "s", k=4).explain("formatted")
        plan = buf.getvalue()
        # the naive ntile plan would show a Window over an empty
        # partitioning (global sort); this one must not use Window at all
        assert "Window" not in plan


class TestWeightedSample:
    def test_statistical_proportionality(self, spark):
        # over many salts, a weight-10 item should win ~10x as often as a
        # weight-1 item in 1-of-n draws (A-ES correctness, coarse bound)
        from doc_parser_spark.operators.curation import weighted_sample_k

        df = spark.createDataFrame(
            [(0, 10.0)] + [(i, 1.0) for i in range(1, 11)],
            ["doc_id", "w"],
        )
        wins = 0
        trials = 60
        for s in range(trials):
            top = weighted_sample_k(
                df, "doc_id", "w", k=1, salt=f"t{s}"
            ).collect()[0]["doc_id"]
            wins += top == 0
        # P(win) = 10/20 = 0.5; 60 trials → expect ~30, allow wide band
        assert 18 <= wins <= 42

    def test_without_replacement_and_deterministic(self, spark):
        from doc_parser_spark.operators.curation import weighted_sample_k

        df = spark.createDataFrame(
            [(i, float(1 + i % 5)) for i in range(100)], ["doc_id", "w"]
        )
        a = [r["doc_id"] for r in
             weighted_sample_k(df, "doc_id", "w", k=20).collect()]
        b = [r["doc_id"] for r in
             weighted_sample_k(df, "doc_id", "w", k=20).collect()]
        assert a == b              # deterministic
        assert len(set(a)) == 20   # without replacement
        # zero/negative weights never win
        df2 = spark.createDataFrame(
            [(1, 0.0), (2, -3.0), (3, 1e-9)], ["doc_id", "w"]
        )
        got = [r["doc_id"] for r in
               weighted_sample_k(df2, "doc_id", "w", k=2).collect()]
        assert got[0] == 3


class TestScriptProfile:
    def test_counts_and_dominant(self, spark):
        from doc_parser_spark.operators.curation import script_profile

        rows = [
            (1, "hello world 123"),
            (2, "Привет мир ok"),
            (3, "你好世界你好"),
            (4, "안녕하세요"),
            (5, "مرحبا abc"),
            (6, "!!! ???"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r for r in
            script_profile(df, "doc_id", "text").collect()
        }
        assert out[1]["latin"] == 10 and out[1]["digit"] == 3
        assert out[1]["dominant"] == "latin"
        assert out[2]["cyrillic"] == 9 and out[2]["dominant"] == "cyrillic"
        assert out[3]["cjk"] == 6 and out[3]["dominant"] == "cjk"
        assert out[4]["hangul"] == 5 and out[4]["dominant"] == "hangul"
        assert out[5]["arabic"] == 5 and out[5]["dominant"] == "arabic"
        assert out[6]["other"] == 6 and out[6]["dominant"] == "other"

    def test_tie_goes_to_earlier_class(self, spark):
        from doc_parser_spark.operators.curation import script_profile

        df = spark.createDataFrame(
            [(1, "ab12")], ["doc_id", "text"]  # latin 2, digit 2
        )
        r = script_profile(df, "doc_id", "text").collect()[0]
        assert r["dominant"] == "latin"  # class-list order breaks ties


class TestVocabDrift:
    def test_planted_term_and_direction(self, spark):
        from doc_parser_spark.operators.curation import vocab_drift

        old = spark.createDataFrame(
            [(i, "stable words here always") for i in range(40)]
            + [(100 + i, "vanishing token") for i in range(10)],
            ["doc_id", "text"],
        )
        new = spark.createDataFrame(
            [(i, "stable words here always") for i in range(40)]
            + [(200 + i, "emerging spike") for i in range(10)],
            ["doc_id", "text"],
        )
        out = {r["term"]: r["log_odds"]
               for r in vocab_drift(old, new, "text", k=10).collect()}
        assert out["emerging"] > 0 and out["spike"] > 0
        assert out["vanishing"] < 0 and out["token"] < 0
        assert abs(out.get("stable", 0.0)) < 0.2


class TestSubwordEncode:
    def test_greedy_longest_match(self, spark):
        from doc_parser_spark.operators.curation import subword_encode_counts

        # 'inter' and 'national' dominate the substring counts, so
        # 'international' should encode to few pieces while a rare word
        # falls back toward characters
        docs = spark.createDataFrame(
            [(i, "international internal nation national inter")
             for i in range(10)] + [(99, "xyzqw international")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: (r["n_words"], r["n_subwords"])
            for r in subword_encode_counts(
                docs, "doc_id", "text", vocab_k=32, max_piece=6
            ).collect()
        }
        n_words, n_sub = out[0]
        assert n_words == 5
        # every word must compress below character-count with this vocab
        assert n_sub < len("internationalinternalnationnationalinter")
        # rare word: 5 chars, no frequent multi-piece → close to 5 pieces
        rare_words, rare_sub = out[99]
        assert rare_words == 2
        assert rare_sub >= 1 + 3  # xyzqw mostly chars + compressed word

    def test_single_char_coverage_total(self, spark):
        from doc_parser_spark.operators.curation import subword_encode_counts

        # a corpus of unique words: encoding must still terminate and
        # cover every word (n_subwords bounded by total chars)
        docs = spark.createDataFrame(
            [(i, f"w{i}abc u{i}") for i in range(20)], ["doc_id", "text"]
        )
        out = subword_encode_counts(
            docs, "doc_id", "text", vocab_k=8
        ).collect()
        assert len(out) == 20
        for r in out:
            assert r["n_words"] == 2
            assert 2 <= r["n_subwords"] <= 10

    def test_vocab_collect_bounded_on_50k_codepoint_corpus(
        self, spark, monkeypatch
    ):
        """The one word tokenizer keeps only [a-z0-9] runs, so the vocab
        the driver collects is at most vocab_k + 36 pieces even on a
        corpus of 50k+ distinct codepoints; those codepoints split words
        and never reach the vocab."""
        from doc_parser_spark.operators.curation import subword_encode_counts

        # ~51k distinct codepoints: CJK Unified + Hangul + CJK Ext-B
        # (astral plane included deliberately — Arrow round-trip check),
        # each one glued between two ASCII words
        points = (
            list(range(0x4E00, 0x9FC0))
            + list(range(0xAC00, 0xD7A4))
            + list(range(0x20000, 0x24E00))
        )
        assert len(points) >= 50_000
        docs = spark.createDataFrame(
            [
                (i, "".join(f"w{c % 97}" + chr(c)
                            for c in points[i * 50:(i + 1) * 50]))
                for i in range(len(points) // 50)
            ],
            ["doc_id", "text"],
        ).repartition(8)
        collected = []
        frame_class = type(docs)
        real_collect = frame_class.collect

        def spy(df):
            rows = real_collect(df)
            collected.append(rows)
            return rows

        monkeypatch.setattr(frame_class, "collect", spy)
        vocab_k = 3
        out = subword_encode_counts(docs, "doc_id", "text", vocab_k=vocab_k)
        (vocab,) = collected
        pieces = [r["piece"] for r in vocab]
        assert vocab_k < len(pieces) <= vocab_k + 36
        assert all(p.isascii() and p.isalnum() for p in pieces)
        rows = out.collect()
        assert len(rows) == len(points) // 50
        # 50 words of 2-3 chars per doc, each at most one piece per char
        assert all(r["n_words"] == 50 for r in rows)
        assert all(50 <= r["n_subwords"] <= 150 for r in rows)
