"""Round 12, wave 1: exact-substring (duplicate-span) dedup — the Lee
et al. 2022 family (VERDICT r11 task #2) — and the bench noise-factor
clamp (task #1)."""

from __future__ import annotations

from gluettalax_spark.registry import all_queries
from tests.harness import compare, exact_hash_compare


def _cross_check(spark, sf_dir, oracle_con, name):
    spec = all_queries()[name]
    got = spec.builder(spark, sf_dir)
    want = oracle_con.execute(spec.oracle).df()
    compare(got, want)
    assert exact_hash_compare(got, want)
    return got.toPandas()


class TestDedupSubstringRuns:
    def test_matches_oracle(self, spark, sf_dir, oracle_con):
        pdf = _cross_check(spark, sf_dir, oracle_con, "dedup_substring_runs")
        assert len(pdf) > 0, "fixture corpus contains duplicates; runs expected"

    def test_runs_are_maximal_and_disjoint(self, spark, sf_dir, oracle_con):
        """Per doc, runs must not touch or overlap (else the island merge
        failed to produce MAXIMAL spans)."""
        pdf = _cross_check(spark, sf_dir, oracle_con, "dedup_substring_runs")
        for doc_id, grp in pdf.groupby("doc_id"):
            grp = grp.sort_values("run_start")
            prev_end = None
            for _, row in grp.iterrows():
                assert row["run_end"] >= row["run_start"]
                assert row["n_tokens"] == row["run_end"] - row["run_start"] + 1
                if prev_end is not None:
                    # A gap of exactly 1 position would have merged:
                    # islands are maximal, so start > prev_end - K + 2.
                    assert row["run_start"] > prev_end - 4 + 1
                prev_end = row["run_end"]

    def test_spans_are_truly_duplicated(self, spark, sf_dir, oracle_con):
        """Independent pure-Python replay on the raw fixture text: every
        K-gram inside a reported run must occur >= 2 times corpus-wide
        (within the df cap) — re-derived with no Spark and no SQL."""
        import re
        from collections import Counter

        import pandas as pd

        pdf = _cross_check(spark, sf_dir, oracle_con, "dedup_substring_runs")
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        K = 5
        toks = {
            int(r.doc_id): [t for t in re.split(r"\s+", r.text.lower()) if t]
            for r in docs.itertuples()
        }
        counts: Counter[str] = Counter()
        doc_freq: Counter[str] = Counter()
        for ts in toks.values():
            grams = {" ".join(ts[i : i + K]) for i in range(len(ts) - K + 1)}
            for g in grams:
                doc_freq[g] += 1
            for i in range(len(ts) - K + 1):
                counts[" ".join(ts[i : i + K])] += 1
        for _, row in pdf.iterrows():
            ts = toks[int(row["doc_id"])]
            for p in range(int(row["run_start"]), int(row["run_end"]) - K + 2):
                g = " ".join(ts[p : p + K])
                assert counts[g] >= 2 and doc_freq[g] <= 512, (
                    f"doc {row['doc_id']} pos {p}: gram not duplicated"
                )

    def test_gram_stream_shuffles_hashes_not_text(self, spark, sf_dir):
        """Plan shape: the duplicate-set aggregate must be keyed on the
        md5 fingerprint (constant-width), with partial aggregation."""
        from gluettalax_spark.operators.dedup import dedup_substring_runs

        df = dedup_substring_runs(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan


class TestDedupSubstringProfile:
    def test_matches_oracle(self, spark, sf_dir, oracle_con):
        pdf = _cross_check(spark, sf_dir, oracle_con, "dedup_substring_profile")
        assert (pdf["dup_tokens"] <= pdf["total_tokens"]).all()
        assert (pdf["docs_with_dups"] <= pdf["n_docs"]).all()
        assert (pdf["dup_ppm"] <= 1_000_000).all()

    def test_ppm_is_integer_exact(self, spark, sf_dir):
        from gluettalax_spark.registry import all_queries

        pdf = all_queries()["dedup_substring_profile"].builder(spark, sf_dir).toPandas()
        for _, r in pdf.iterrows():
            assert r["dup_ppm"] == r["dup_tokens"] * 1_000_000 // r["total_tokens"]
