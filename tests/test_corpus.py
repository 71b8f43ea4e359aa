"""Corpus-preparation operators: PII redaction, heavy hitters (exact +
Misra-Gries), distributed sequence packing, boilerplate n-grams,
keep-best dedup."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark.operators import corpus as C


class TestPiiRedaction:
    def test_injected_pii_is_fully_redacted(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        docs = load(spark, sf_dir, "documents")
        injected = docs.select(
            "doc_id", C.inject_pii(F.col("doc_id"), F.col("text")).alias("text")
        )
        clean = injected.select(C.redact_pii(F.col("text")).alias("text"))
        leftovers = clean.where(
            F.col("text").rlike(C.EMAIL_RE)
            | F.col("text").rlike(C.PHONE_RE)
            | F.col("text").rlike(C.SSN_RE)
        ).count()
        assert leftovers == 0

    def test_counts_match_injection_rule(self, spark):
        df = spark.range(0, 60).select(F.col("id").alias("doc_id"), F.lit("x y z").alias("text"))
        injected = df.select("doc_id", C.inject_pii(F.col("doc_id"), F.col("text")).alias("text"))
        counts = C.pii_counts(F.col("text"))
        got = injected.select(
            "doc_id", counts["n_emails"].alias("e"), counts["n_phones"].alias("p"), counts["n_ssns"].alias("s")
        ).collect()
        for r in got:
            assert r["e"] == (1 if r["doc_id"] % 3 == 0 else 0)
            assert r["p"] == (1 if r["doc_id"] % 4 == 1 else 0)
            assert r["s"] == (1 if r["doc_id"] % 5 == 2 else 0)

    def test_placeholders_present(self, spark):
        df = spark.createDataFrame([(3,)], ["doc_id"]).select(
            "doc_id", C.inject_pii(F.col("doc_id"), F.lit("hello")).alias("text")
        )
        out = df.select(C.redact_pii(F.col("text")).alias("t")).first()["t"]
        assert "[EMAIL]" in out and "@" not in out


class TestHeavyHitters:
    def test_exact_top_k_plan_uses_take_ordered(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        docs = load(spark, sf_dir, "documents").select("text")
        out = C.heavy_hitter_tokens(docs, "text", k=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        rows = out.collect()
        assert len(rows) == 10
        # descending counts, token tie-break
        for a, b in zip(rows, rows[1:]):
            assert (a["cnt"], b["token"]) >= (b["cnt"], a["token"]) or a["cnt"] > b["cnt"]

    def test_misra_gries_superset_and_bounds(self, spark):
        # skewed stream: item i has frequency proportional to 1/i
        rows = []
        for i in range(1, 40):
            rows.extend([(f"item{i:02d}",)] * (2000 // i))
        df = spark.createDataFrame(rows, ["w"]).repartition(4)
        n = df.count()
        k = 16
        est = {r["item"]: r["est_count"] for r in C.misra_gries(df, "w", k=k).collect()}
        true = {r["w"]: r["c"] for r in df.groupBy("w").agg(F.count("*").alias("c")).collect()}
        # distributed MG merge: per-partition error n_p/(k+1) sums to n/(k+1)
        bound = n // (k + 1) + 1
        for item, t in true.items():
            if t > bound:
                assert item in est, f"heavy item {item} (freq {t} > {bound}) missing"
        for item, e in est.items():
            assert e <= true[item], "MG must never overcount"
            assert e >= true[item] - bound

    def test_misra_gries_bounded_state(self, spark):
        # high-cardinality input: output is at most k per partition merged
        df = spark.range(0, 5000).select(F.concat(F.lit("u"), F.col("id")).alias("w"))
        out = C.misra_gries(df.repartition(4), "w", k=8).count()
        assert out <= 8 * 4


class TestSequencePacking:
    def _truth(self, items, budget):
        run, bins = 0, {}
        for doc_id, tok in sorted(items):
            bins[doc_id] = run // budget
            run += tok
        return bins

    def test_matches_sequential_prefix_sum(self, spark):
        import random

        rng = random.Random(7)
        items = [(i, rng.randint(1, 500)) for i in range(1000)]
        rng.shuffle(items)
        df = spark.createDataFrame(items, ["doc_id", "n_tokens"]).repartition(7)
        packed = C.pack_sequences(df, budget=1000, num_partitions=5)
        got = {r["doc_id"]: r["bin_id"] for r in packed.collect()}
        assert got == self._truth(items, 1000)

    def test_no_single_partition_window(self, spark):
        df = spark.createDataFrame([(i, 10) for i in range(50)], ["doc_id", "n_tokens"])
        packed = C.pack_sequences(df, budget=100, num_partitions=4)
        plan = packed._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan

    def test_empty_frame(self, spark):
        df = spark.createDataFrame([], "doc_id long, n_tokens long")
        assert C.pack_sequences(df, budget=100, num_partitions=2).count() == 0


class TestBoilerplate:
    def test_detects_shared_template(self, spark):
        template = "all rights reserved contact us for details"
        rows = [(i, f"doc body {i} unique words here {template}") for i in range(10)]
        rows += [(99, "totally different text with no repeats at all")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = C.boilerplate_ngrams(df, "text", k=3, min_doc_freq=5, top=50).collect()
        grams = {r["ngram"]: r["doc_freq"] for r in out}
        assert grams.get("all rights reserved") == 10
        assert all(f >= 5 for f in grams.values())

    def test_within_doc_repeats_count_once(self, spark):
        # one spammy doc repeating an n-gram should contribute df=1
        spam = " ".join(["buy cheap pills"] * 50)
        df = spark.createDataFrame([(1, spam), (2, spam)], ["doc_id", "text"])
        out = C.boilerplate_ngrams(df, "text", k=3, min_doc_freq=2, top=10).collect()
        by = {r["ngram"]: r["doc_freq"] for r in out}
        assert by.get("buy cheap pills") == 2


class TestKeepBest:
    def test_longest_wins_ties_lowest_id(self, spark):
        prefix = "the same normalized prefix shared by every recrawl of this page " * 3
        rows = [
            (1, prefix + "short tail"),
            (2, prefix + "a much longer tail with many extra tokens appended here"),
            (3, prefix + "a much longer tail with many extra tokens appended also"),
            (9, "unrelated document"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = C.keep_best_by_fingerprint(df).where(F.col("n_members") >= 2).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_members"] == 3
        # docs 2 and 3 tie on token count; lowest id wins
        assert r["kept_doc"] == 2


class TestDecontamination:
    def test_flags_only_docs_sharing_eval_ngrams(self, spark):
        eval_docs = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
        )
        train = spark.createDataFrame(
            [
                (1, "we saw the quick brown fox yesterday"),   # shares "the quick brown"
                (2, "completely unrelated text about spark engines"),
                (3, "jumps over the lazy dog again and again"),  # shares two 3-grams
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["n_shared_ngrams"]
            for r in C.ngram_contamination(train, eval_docs, k=3).collect()
        }
        assert 1 in out and 3 in out and 2 not in out
        assert out[3] >= 2

    def test_eval_side_is_broadcast(self, spark):
        eval_docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        train = spark.createDataFrame([(2, "a b c e")], ["doc_id", "text"])
        plan = (
            C.ngram_contamination(train, eval_docs, k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_within_doc_repeat_counts_once(self, spark):
        eval_docs = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
        train = spark.createDataFrame([(2, " ".join(["x y z"] * 30))], ["doc_id", "text"])
        out = C.ngram_contamination(train, eval_docs, k=3).collect()
        # per-doc distinct before the probe: the repeated shingle counts once
        assert len(out) == 1 and out[0]["n_shared_ngrams"] == 1


class TestRepetitionStats:
    def test_fractions_on_known_doc(self, spark):
        # "a b a b a" -> bigrams: "a b","b a","a b","b a" = 4 total, 2 distinct
        df = spark.createDataFrame([(1, "a b a b a")], ["doc_id", "text"])
        r = C.bigram_repetition_stats(df).first()
        assert r["total_bigrams"] == 4
        assert r["top_bigram_frac"] == 0.5
        assert r["dup_bigram_frac"] == 0.5

    def test_unique_doc_has_zero_dup(self, spark):
        df = spark.createDataFrame([(1, "one two three four")], ["doc_id", "text"])
        r = C.bigram_repetition_stats(df).first()
        assert r["dup_bigram_frac"] == 0.0
        assert r["total_bigrams"] == 3

    def test_short_docs_dropped(self, spark):
        # zero/one-token docs have no bigram rows at all
        df = spark.createDataFrame([(1, "single"), (2, "")], ["doc_id", "text"])
        assert C.bigram_repetition_stats(df).count() == 0


class TestHashSplit:
    def test_assignment_is_deterministic_and_complete(self, spark):
        df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
        out = C.hash_split(df)
        a = {r["doc_id"]: (r["bucket"], r["split"]) for r in out.collect()}
        b = {r["doc_id"]: (r["bucket"], r["split"]) for r in out.collect()}
        assert a == b
        assert all(0 <= v[0] < 256 for v in a.values())

    def test_fractions_roughly_honored(self, spark):
        df = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
        counts = {
            r["split"]: r["n"]
            for r in C.hash_split(df).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        total = sum(counts.values())
        assert total == 4000
        assert counts["train"] / total > 0.9
        assert 0 < counts["val"] / total < 0.06
        assert 0 < counts["test"] / total < 0.06

    def test_split_stable_under_repartition(self, spark):
        df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
        one = {r["doc_id"]: r["split"] for r in C.hash_split(df).collect()}
        two = {
            r["doc_id"]: r["split"]
            for r in C.hash_split(df.repartition(13)).collect()
        }
        assert one == two


class TestCapPerGroup:
    def test_caps_and_is_stable(self, spark):
        rows = [(i, "en" if i < 80 else "fr") for i in range(100)]
        df = spark.createDataFrame(rows, ["doc_id", "lang"])
        out = C.cap_per_group(df, "lang", k=10)
        by = (
            out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        assert {r["lang"]: r["n"] for r in by} == {"en": 10, "fr": 10}
        # survivors identical under a different partitioning
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(
            r["doc_id"] for r in C.cap_per_group(df.repartition(17), "lang", k=10).collect()
        )
        assert a == b

    def test_small_groups_untouched(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["doc_id", "lang"])
        assert C.cap_per_group(df, "lang", k=5).count() == 3


class TestBoilerplateStrip:
    def test_scores_boilerplate_fraction(self, spark):
        footer = "all rights reserved worldwide"
        rows = [(i, f"unique words number {i} alpha beta {footer}") for i in range(8)]
        rows.append((99, "completely original content with no shared template"))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        boiler = C.boilerplate_ngrams(df, "text", k=3, min_doc_freq=5, top=50)
        out = {r["doc_id"]: r for r in C.boilerplate_doc_stats(df, boiler, k=3).collect()}
        assert out[99]["n_boiler"] == 0
        for i in range(8):
            assert out[i]["n_boiler"] >= 2  # the footer's 3-grams
            assert 0 < out[i]["boiler_frac"] < 1

    def test_boilerplate_join_is_broadcast(self, spark):
        df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        boiler = C.boilerplate_ngrams(df, "text", k=3, min_doc_freq=1, top=10)
        plan = (
            C.boilerplate_doc_stats(df, boiler, k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestIncrementalDedup:
    def test_admits_only_novel_and_dedups_within_batch(self, spark):
        existing = spark.createDataFrame(
            [(1, "already in the corpus"), (2, "another stored document")],
            ["doc_id", "text"],
        )
        incoming = spark.createDataFrame(
            [
                (10, "Already, IN the corpus!"),       # dup of corpus (normalized)
                (11, "a genuinely new document"),
                (12, "A genuinely NEW document"),      # intra-batch dup of 11
                (13, "something else entirely"),
            ],
            ["doc_id", "text"],
        )
        got = sorted(
            r["doc_id"] for r in C.dedup_incremental(incoming, existing).collect()
        )
        assert got == [11, 13]


class TestDuplicateSpans:
    def test_crafted_spans_merge_and_bound(self, spark):
        """Two docs share an 8-token run and a separate 3-token run; a
        third doc is clean. Expect per sharing doc: one merged span
        covering the 8-token run (six overlapping 3-gram hits) and one
        exact 3-token span; the clean doc absent."""
        from pyspark.sql import Row

        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import duplicate_spans

        shared8 = "alpha beta gamma delta epsilon zeta eta theta"
        shared3 = "omega psi chi"
        rows = [
            Row(doc_id=1, text=f"{shared8} filler1 one {shared3} tailone"),
            Row(doc_id=2, text=f"pre1 pre2 {shared8} other2 two2 {shared3}"),
            Row(doc_id=3, text="entirely different words without any overlap here"),
        ]
        df = spark.createDataFrame(rows)
        got = {
            (r["doc_id"], r["start_tok"], r["end_tok"]): r["n_gram_hits"]
            for r in duplicate_spans(df, "text", "doc_id", k=3, min_docs=2).collect()
        }
        # doc 1: tokens 1-8 shared8, 11-13 shared3
        # doc 2: tokens 3-10 shared8, 13-15 shared3
        assert got == {
            (1, 1, 8): 6,
            (1, 11, 13): 1,
            (2, 3, 10): 6,
            (2, 13, 15): 1,
        }

    def test_no_cross_doc_duplicates_empty(self, spark):
        from pyspark.sql import Row

        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import duplicate_spans

        df = spark.createDataFrame(
            [Row(doc_id=1, text="aa bb cc dd"), Row(doc_id=2, text="ee ff gg hh")]
        )
        assert duplicate_spans(df, "text", "doc_id", k=3).count() == 0

    def test_short_and_empty_docs_are_safe(self, spark):
        """Docs shorter than k produce no grams (the F.sequence(1,0)
        descending-array trap is guarded) and empty text is fine."""
        from pyspark.sql import Row

        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import duplicate_spans

        df = spark.createDataFrame(
            [Row(doc_id=1, text="one two"), Row(doc_id=2, text=""), Row(doc_id=3, text="one two")]
        )
        assert duplicate_spans(df, "text", "doc_id", k=3).count() == 0

    def test_intra_doc_repeat_does_not_trigger(self, spark):
        """A gram repeated inside ONE doc is not a cross-doc duplicate
        (min_docs counts DISTINCT documents)."""
        from pyspark.sql import Row

        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import duplicate_spans

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="rep rep rep rep rep rep"),
                Row(doc_id=2, text="totally unrelated words here now"),
            ]
        )
        assert duplicate_spans(df, "text", "doc_id", k=3).count() == 0


class TestChunkDocuments:
    def test_windows_cover_and_overlap(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import chunk_documents

        text = " ".join(f"tok{i}" for i in range(150))
        df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")],
                                   "doc_id long, text string")
        out = chunk_documents(df, chunk_tokens=64, stride=48).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc 1: starts 0,48,96,144 -> 4 chunks; lengths 64,64,54,6
        c1 = sorted(by_doc[1], key=lambda r: r.start_tok)
        assert [r.start_tok for r in c1] == [0, 48, 96, 144]
        assert [r.chunk_ix for r in c1] == [0, 1, 2, 3]
        assert [r.n_tokens for r in c1] == [64, 64, 54, 6]
        # overlap: chunk k repeats the last 16 tokens of chunk k-1
        w = text.split()
        for r in c1:
            assert r.chunk_text == " ".join(w[r.start_tok : r.start_tok + 64])
        # every token index is covered by at least one window
        covered = set()
        for r in c1:
            covered.update(range(r.start_tok, r.start_tok + r.n_tokens))
        assert covered == set(range(150))
        # doc 2 (2 tokens): one whole-doc chunk; doc 3 (empty): nothing
        assert [(r.start_tok, r.n_tokens) for r in by_doc[2]] == [(0, 2)]
        assert 3 not in by_doc

    def test_composes_with_pack_sequences(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            chunk_documents,
            pack_sequences,
        )

        from pyspark.sql import functions as F

        text = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame([(i, text) for i in range(6)], "doc_id long, text string")
        chunks = chunk_documents(df, chunk_tokens=64, stride=48).withColumn(
            "seq_id", F.col("doc_id") * 10 + F.col("chunk_ix")
        )
        packed = pack_sequences(chunks, budget=128, order_col="seq_id", tokens_col="n_tokens")
        rows = packed.orderBy("seq_id").collect()
        # greedy prefix-sum bins: cumulative tokens before each row / 128
        run = 0
        for r in rows:
            assert r.bin_id == run // 128
            run += r.n_tokens


class TestKeepBestFractionalQuality:
    def test_fractional_quality_outranks_large_id(self, spark):
        """Review r8: the old scalar rank (quality * 2^32 - id) let a
        LARGE id beat a 1e-6 quality edge; the string rank must keep the
        higher-quality member regardless of id magnitude."""
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = spark.createDataFrame(
            [(10000, "same prefix text", 0.666667), (1, "same prefix text", 0.666666)],
            "doc_id bigint, text string, q double",
        )
        out = keep_best_by_fingerprint(
            docs, quality_col=F.col("q")
        ).collect()
        assert len(out) == 1
        assert out[0]["kept_doc"] == 10000  # higher quality wins
        assert out[0]["kept_quality"] == 0.666667

    def test_tie_still_keeps_lowest_id(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = spark.createDataFrame(
            [(7, "same prefix text", 0.5), (3, "same prefix text", 0.5)],
            "doc_id bigint, text string, q double",
        )
        out = keep_best_by_fingerprint(docs, quality_col=F.col("q")).collect()
        assert out[0]["kept_doc"] == 3


class TestMisraGriesNulls:
    def test_nulls_excluded_explicitly(self, spark):
        """Review r8 contract: NULL items are excluded (documented), so a
        mostly-NULL column still sketches the non-null heavy hitters."""
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            misra_gries,
        )

        rows = [(None,)] * 400 + [("hot",)] * 100 + [("warm",)] * 50
        df = spark.createDataFrame(rows, "item string").repartition(4)
        got = {r["item"]: r["est_count"] for r in misra_gries(df, "item", k=8).collect()}
        assert None not in got
        assert "hot" in got  # the non-null heavy hitter survives


class TestKeepBestQualityContract:
    """ADVICE r8: negative quality reversed the string-rank ordering
    (the WORST member was kept) and >= 1e10 overflowed the fixed
    width. keep_best_by_fingerprint now fails loudly outside
    [0, 1e10) instead of silently mis-ranking."""

    def _docs(self, spark, q_a, q_b):
        return spark.createDataFrame(
            [(1, "same prefix text", q_a), (2, "same prefix text", q_b)],
            "doc_id bigint, text string, q double",
        )

    def test_negative_quality_raises(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = self._docs(spark, -1.0, -5.0)
        with pytest.raises(Exception) as exc:
            keep_best_by_fingerprint(docs, quality_col=F.col("q")).collect()
        assert "keep_best_by_fingerprint" in str(exc.value)

    def test_overflow_quality_raises(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = self._docs(spark, 1.0e10, 1.0)
        with pytest.raises(Exception) as exc:
            keep_best_by_fingerprint(docs, quality_col=F.col("q")).collect()
        assert "keep_best_by_fingerprint" in str(exc.value)

    def test_null_quality_raises(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = spark.createDataFrame(
            [(1, "same prefix text", None), (2, "same prefix text", 1.0)],
            "doc_id bigint, text string, q double",
        )
        with pytest.raises(Exception) as exc:
            keep_best_by_fingerprint(docs, quality_col=F.col("q")).collect()
        assert "keep_best_by_fingerprint" in str(exc.value)

    def test_valid_boundary_quality_ok(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = self._docs(spark, 0.0, 9.9e9)
        out = keep_best_by_fingerprint(docs, quality_col=F.col("q")).collect()
        assert len(out) == 1
        assert out[0]["kept_doc"] == 2  # higher quality wins

    def test_negative_zero_quality_ties_to_lowest_id(self, spark):
        """Review r9: -0.0 passes the >= 0 guard but printf renders a
        leading '-', which mis-ordered it below +0.0 despite numeric
        equality. The +0.0 normalization makes it a true tie (lowest id
        wins)."""
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            keep_best_by_fingerprint,
        )

        docs = spark.createDataFrame(
            [(1, "same prefix text", -0.0), (2, "same prefix text", 0.0)],
            "doc_id bigint, text string, q double",
        )
        out = keep_best_by_fingerprint(docs, quality_col=F.col("q")).collect()
        assert len(out) == 1
        assert out[0]["kept_doc"] == 1


class TestDocIdContract:
    def test_documents_doc_id_unique_in_fixtures(self, sf_dir):
        """keep_best_by_fingerprint's carry columns and tfidf_top_terms'
        per-row document frequency both assume documents.doc_id is
        unique; pin that on every fixture scale present."""
        import os

        import duckdb

        root = os.path.dirname(sf_dir)
        paths = [
            os.path.join(root, d, "documents.parquet")
            for d in sorted(os.listdir(root))
            if os.path.exists(os.path.join(root, d, "documents.parquet"))
        ]
        assert paths
        for p in paths:
            n, distinct = duckdb.sql(
                f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet('{p}')"
            ).fetchone()
            assert n == distinct, f"{p}: {n - distinct} duplicate doc_id rows"
