"""Third-engine recomputes + plan pins for the round-7 additions.

The DuckDB oracle compare is the driver's job; these tests re-derive the
same answers in plain Python and pin the plan shapes that make each
operator scale."""

from __future__ import annotations

import pytest

import re
from collections import Counter

import pandas as pd

from gluettalax_spark.operators.text import BPE_TOPK
from gluettalax_spark.registry import queries
from tests.test_plans import physical_plan


# --------------------------------------------------------------------------
# text_bpe_merge_candidates
# --------------------------------------------------------------------------


def _bpe_brute(sf_dir: str):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    freq: Counter = Counter()
    for text in docs["text"]:
        for w in re.findall(r"[a-z]+", text.lower()):
            freq[w + ">"] += 1
    score: Counter = Counter()
    n_words: Counter = Counter()
    for w, c in freq.items():
        pairs = [w[i : i + 2] for i in range(len(w) - 1)]
        for p in pairs:
            score[p] += c
        for p in set(pairs):
            n_words[p] += 1
    ranked = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOPK]
    return [
        (pair, sc, n_words[pair], rank)
        for rank, (pair, sc) in enumerate(ranked, start=1)
    ]


def test_bpe_matches_python_recompute(spark, sf_dir):
    rows = queries()["text_bpe_merge_candidates"](spark, sf_dir).collect()
    got = [(r["pair"], r["score"], r["n_words"], r["rank"]) for r in rows]
    assert got == _bpe_brute(sf_dir)


def test_bpe_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["text_bpe_merge_candidates"](spark, sf_dir))
    # top-k must not globally sort the pair table...
    assert "TakeOrderedAndProject" in plan
    # ...the whole job is JVM-side (no Python eval of any kind)...
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # ...and the pair fan-out never self-joins.
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# graph_jaccard_linkpred
# --------------------------------------------------------------------------


def _linkpred_brute(sf_dir: str):
    from collections import defaultdict

    from gluettalax_spark.operators.graph import _LINKPRED_MAX_DEG, _LINKPRED_TOPK
    from tests.test_round6_ops import _cooccurrence_edges_brute

    edges = _cooccurrence_edges_brute(sf_dir)
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    common: Counter = Counter()
    for c, ns in nbrs.items():
        if len(ns) > _LINKPRED_MAX_DEG:
            continue
        s = sorted(ns)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                common[(s[i], s[j])] += 1
    out = []
    for (a, b), inter in common.items():
        if (a, b) in edges:
            continue
        da, db = len(nbrs[a]), len(nbrs[b])
        out.append((round(inter / (da + db - inter), 6), a, b, inter, da, db))
    out.sort(key=lambda t: (-t[0], t[1], t[2]))
    return [(a, b, inter, da, db, j) for j, a, b, inter, da, db in out[:_LINKPRED_TOPK]]


def test_linkpred_matches_python_recompute(spark, sf_dir):
    rows = queries()["graph_jaccard_linkpred"](spark, sf_dir).collect()
    got = [
        (r["node_a"], r["node_b"], r["common_neighbors"], r["deg_a"], r["deg_b"], r["jaccard"])
        for r in rows
    ]
    assert got == _linkpred_brute(sf_dir)


def test_linkpred_predictions_are_nonedges(spark, sf_dir):
    from tests.test_round6_ops import _cooccurrence_edges_brute

    edges = _cooccurrence_edges_brute(sf_dir)
    for r in queries()["graph_jaccard_linkpred"](spark, sf_dir).collect():
        assert (r["node_a"], r["node_b"]) not in edges
        assert r["common_neighbors"] >= 1


def test_linkpred_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["graph_jaccard_linkpred"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_linkpred_hub_cap_engages(spark):
    """A hub past the degree cap must not serve as a wedge center (its
    quadratic pair fan-out is the skew risk), but it still counts in the
    degree/union term of every score it appears in."""
    from gluettalax_spark.operators.graph import jaccard_linkpred_scores

    # Star: hub 0 connected to 1..n (n > cap). Plus a 4-cycle 1-2-3-4-1
    # so nodes 1 and 3 (and 2 and 4) share two sub-hub common neighbors.
    n = 300
    edges = [(0, i) for i in range(1, n + 1)] + [(1, 2), (2, 3), (3, 4), (1, 4)]
    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "pa long, pb long"
    )
    rows = jaccard_linkpred_scores(df, max_deg=256).collect()
    by_pair = {(r["node_a"], r["node_b"]): r for r in rows}
    # The hub generated no wedges: spoke pairs' only common neighbor is
    # the hub, so no spoke-only pair may appear...
    assert (5, 6) not in by_pair and (100, 200) not in by_pair
    # ...but cycle chords get their two sub-hub wedges (via 2 and 4 for
    # the 1-3 chord), and the hub still inflates their degree/union term:
    # deg(1) = deg(3) = 3 (hub + two cycle neighbors), inter = 2 -> 2/4.
    r = by_pair[(1, 3)]
    assert r["common_neighbors"] == 2
    assert r["deg_a"] == 3 and r["deg_b"] == 3
    assert r["jaccard"] == 0.5
    # No predicted pair is an existing edge.
    es = {(a, b) for a, b in edges}
    assert all((r["node_a"], r["node_b"]) not in es for r in rows)


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_linkpred_random_graphs_match_brute(spark):
    """Seeded Erdos-Renyi graphs, full score-set equivalence (not just
    the fixture's top-k path): every (pair, inter, degrees, jaccard) the
    helper emits must equal the pure-Python derivation, and vice versa."""
    import random

    from gluettalax_spark.operators.graph import jaccard_linkpred_scores

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = 30
        edges = {
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.15
        }
        nbrs = {i: set() for i in range(n)}
        for a, b in edges:
            nbrs[a].add(b)
            nbrs[b].add(a)
        want = {}
        for a in range(n):
            for b in range(a + 1, n):
                if (a, b) in edges:
                    continue
                inter = len(nbrs[a] & nbrs[b])
                if inter:
                    da, db = len(nbrs[a]), len(nbrs[b])
                    want[(a, b)] = (inter, da, db, round(inter / (da + db - inter), 6))
        df = spark.createDataFrame(sorted(edges), "pa long, pb long")
        got = {
            (r["node_a"], r["node_b"]): (
                r["common_neighbors"], r["deg_a"], r["deg_b"], r["jaccard"]
            )
            for r in jaccard_linkpred_scores(df, max_deg=n).collect()
        }
        assert got == want, f"seed {seed}"


# --------------------------------------------------------------------------
# apply_in_arrow_grouped
# --------------------------------------------------------------------------


def test_apply_in_arrow_streams_batches(spark, sf_dir):
    """Force multiple RecordBatches per group (tiny Arrow batch size) —
    the incremental fold must land on the same totals as one batch."""
    expect = {
        (r["lang"], r["n_docs"], r["total_chars"], r["max_chars"])
        for r in queries()["apply_in_arrow_grouped"](spark, sf_dir).collect()
    }
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["lang", "n_chars"])
    brute = {
        (lang, len(g), int(g["n_chars"].sum()), int(g["n_chars"].max()))
        for lang, g in docs.groupby("lang")
    }
    assert expect == brute
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {
            (r["lang"], r["n_docs"], r["total_chars"], r["max_chars"])
            for r in queries()["apply_in_arrow_grouped"](spark, sf_dir).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert got == brute


def test_apply_in_arrow_plan_is_arrow_grouped(spark, sf_dir):
    plan = physical_plan(queries()["apply_in_arrow_grouped"](spark, sf_dir))
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInBatch" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan


# --------------------------------------------------------------------------
# text_bpe_train
# --------------------------------------------------------------------------


def _bpe_merge_seq(seq: list[str], pair: tuple[str, str]) -> list[str]:
    """TRUE greedy BPE apply on a symbol LIST (left-to-right,
    non-overlapping) — deliberately not str.replace, so the fixture test
    independently certifies the operator's double-space string encoding
    is equivalent to real list-based BPE merging."""
    out: list[str] = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and (seq[i], seq[i + 1]) == pair:
            out.append(seq[i] + seq[i + 1])
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _bpe_train_brute(sf_dir: str):
    from gluettalax_spark.operators.text import BPE_TRAIN_ROUNDS

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    freq: Counter = Counter()
    for text in docs["text"]:
        for w in re.findall(r"[a-z]+", text.lower()):
            freq[w + ">"] += 1
    dic: dict[tuple[str, ...], int] = {tuple(w): c for w, c in freq.items()}
    rows = []
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        score: Counter = Counter()
        for seq, c in dic.items():
            for a, b in zip(seq, seq[1:]):
                score[(a, b)] += c
        (l, r), sc = min(score.items(), key=lambda kv: (-kv[1], kv[0]))
        dic = {tuple(_bpe_merge_seq(list(seq), (l, r))): c for seq, c in dic.items()}
        tokens_after = sum(len(seq) * c for seq, c in dic.items())
        rows.append((rnd, l, r, l + r, sc, tokens_after))
    return rows


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_bpe_train_matches_list_based_bpe(spark, sf_dir):
    rows = queries()["text_bpe_train"](spark, sf_dir).collect()
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["merged"], r["score"], r["tokens_after"])
        for r in rows
    ]
    assert got == _bpe_train_brute(sf_dir)


def test_bpe_train_compression_is_monotone(spark, sf_dir):
    toks = [r["tokens_after"] for r in queries()["text_bpe_train"](spark, sf_dir).collect()]
    assert toks == sorted(toks, reverse=True)
    assert all(t > 0 for t in toks)


def test_bpe_replace_encoding_equals_list_merge():
    """The double-space separator encoding's replace() must equal true
    list-based greedy BPE on adversarial self-overlapping inputs (the
    'aaa' class, where naive single-space encodings diverge)."""
    cases = [
        (["a", "a", "a"], ("a", "a")),
        (["a", "a", "a", "a"], ("a", "a")),
        (["a", "b", "a", "b"], ("a", "b")),
        (["a", "a", "b", "a", "a"], ("a", "a")),
        (["ab", "b", "ab", "b"], ("ab", "b")),
        (["x", "a", "a", "a", "y"], ("a", "a")),
        (["a"], ("a", "a")),
    ]
    for seq, (l, r) in cases:
        s = "  " + "  ".join(seq) + "  "
        merged = s.replace(f" {l}  {r} ", f" {l}{r} ")
        via_string = [t for t in merged.strip().split("  ")]
        assert via_string == _bpe_merge_seq(seq, (l, r)), (seq, l, r)


def test_bpe_train_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["text_bpe_train"](spark, sf_dir))
    # Rounds are checkpoint-materialized (vocab-sized) — the final plan
    # unions the 6 single-row round outputs over frozen RDDs, with no
    # Python eval and no cartesian anywhere.
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# events_changepoint_cusum
# --------------------------------------------------------------------------


def _cusum_brute(sf_dir: str):
    docs = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    docs["day"] = docs["ts"].dt.floor("D")
    out = []
    d0, d1 = docs["day"].min(), docs["day"].max()
    all_days = pd.date_range(d0, d1, freq="D")
    for et, g in docs.groupby("event_type"):
        x = g.groupby("day").size().reindex(all_days, fill_value=0)
        n, total = len(x), int(x.sum())
        prefix, best = 0, None
        for t, (day, xi) in enumerate(x.items(), start=1):
            prefix += int(xi)
            s = n * prefix - t * total
            key = (-abs(s), day)
            if best is None or key < best[0]:
                after = (total - prefix) * 1000 // (n - t) if n - t else None
                best = (key, (et, n, total, day.strftime("%Y-%m-%d"), s,
                              prefix * 1000 // t, after))
        out.append(best[1])
    return sorted(out)


def test_cusum_matches_python_recompute(spark, sf_dir):
    rows = queries()["events_changepoint_cusum"](spark, sf_dir).collect()
    got = sorted(
        (r["event_type"], r["n_days"], r["total"], r["cp_day"], r["s_peak"],
         r["mean_before_milli"], r["mean_after_milli"])
        for r in rows
    )
    assert got == _cusum_brute(sf_dir)


def test_cusum_finds_injected_level_shift(spark):
    """A clean step function (10/day for 10 days, then 30/day for 10
    days) must peak exactly at the last pre-shift day, with the
    before/after means recovering the two levels; a flat control series
    in the same frame must not report a comparable peak."""
    import datetime

    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(20):
        day = base + datetime.timedelta(days=d)
        for i in range(10 if d < 10 else 30):
            rows.append(("shifted", day + datetime.timedelta(seconds=i)))
        for i in range(7):
            rows.append(("flat", day + datetime.timedelta(seconds=i)))
    from gluettalax_spark.operators.stats import cusum_daily_changepoints

    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {r["event_type"]: r for r in cusum_daily_changepoints(df).collect()}
    sh = got["shifted"]
    assert sh["cp_day"] == "2024-03-10"
    assert sh["mean_before_milli"] == 10_000 and sh["mean_after_milli"] == 30_000
    # S' = n_days * S; at the peak S = 10*(10-20) = -100, n=20 days.
    assert sh["s_peak"] == -2000
    assert got["flat"]["s_peak"] == 0


def test_cusum_dense_grid_carries_idle_days(spark):
    """A type active only on the first and last day of the span must
    still be scored over the full calendar (idle days = 0), not just its
    own two rows — the sparse form would report n_days=2."""
    import datetime

    base = datetime.datetime(2024, 3, 1)
    rows = [("sparse", base), ("sparse", base + datetime.timedelta(days=9))] + [
        ("anchor", base + datetime.timedelta(days=d)) for d in range(10)
    ]
    from gluettalax_spark.operators.stats import cusum_daily_changepoints

    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {r["event_type"]: r for r in cusum_daily_changepoints(df).collect()}
    assert got["sparse"]["n_days"] == 10 and got["sparse"]["total"] == 2


def test_cusum_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["events_changepoint_cusum"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# source_mix_temperature
# --------------------------------------------------------------------------


def _mix_temp_brute(counts: dict[str, int]):
    import math

    qs = {s: int(math.floor(math.sqrt(float(n)) * 1048576)) for s, n in counts.items()}
    n_total, q_total = sum(counts.values()), sum(qs.values())
    out = []
    for s in sorted(counts):
        n, q = counts[s], qs[s]
        p_raw = n * 1_000_000 // n_total
        w_temp = q * 1_000_000 // q_total
        out.append(
            (s, n, p_raw, w_temp,
             w_temp * 1000 // p_raw if p_raw else None,
             100_000 * q // q_total)
        )
    return out


def test_mix_temperature_matches_python_recompute(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source"])
    counts = docs["source"].value_counts().to_dict()
    rows = queries()["source_mix_temperature"](spark, sf_dir).collect()
    got = [
        (r["source"], r["n_docs"], r["p_raw_ppm"], r["w_temp_ppm"],
         r["boost_milli"], r["alloc_100k"])
        for r in rows
    ]
    assert got == _mix_temp_brute({s: int(n) for s, n in counts.items()})


def test_mix_temperature_boosts_rare_sources(spark):
    """On a 10000/100/1-doc corpus, sqrt-temperature must upsample the
    rare sources (boost > 1x) and downsample the dominant one, with the
    weights still summing to ~1e6 ppm."""
    from gluettalax_spark.operators.pipeline import temperature_weights

    rows = []
    for s, n in (("big", 10_000), ("mid", 100), ("tiny", 1)):
        rows += [(s,)] * n
    df = spark.createDataFrame(rows, "source string")
    got = {r["source"]: r for r in temperature_weights(df).collect()}
    assert got["big"]["boost_milli"] < 1000
    assert got["mid"]["boost_milli"] > 1000
    # tiny (1 doc in 10101) gets a huge upsampling boost.
    assert got["tiny"]["boost_milli"] > 10_000 and got["tiny"]["w_temp_ppm"] > 0
    total_ppm = sum(r["w_temp_ppm"] for r in got.values())
    assert 1_000_000 - len(got) <= total_ppm <= 1_000_000
    # Allocation of a 100k-doc budget never exceeds it and covers ~all of it.
    alloc = sum(r["alloc_100k"] for r in got.values())
    assert 100_000 - len(got) <= alloc <= 100_000
    # Python recompute on the same skewed corpus.
    assert [
        (r["source"], r["n_docs"], r["p_raw_ppm"], r["w_temp_ppm"],
         r["boost_milli"], r["alloc_100k"])
        for r in sorted(got.values(), key=lambda r: r["source"])
    ] == _mix_temp_brute({"big": 10_000, "mid": 100, "tiny": 1})


def test_mix_temperature_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["source_mix_temperature"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# quality_percentile_by_source
# --------------------------------------------------------------------------


def _quality_score_py(text: str) -> float:
    import math

    n_chars = len(text)
    n_tokens = len(re.findall(r"\S+", text))
    n_stop = len(re.findall(r"\b(the|and|of|to|is|a|in)\b", text.lower()))
    n_punct = sum(1 for ch in text if ch in ".,!?;:")
    len_score = min(n_chars / 500.0, 1.0)
    stop_ratio = n_stop / max(n_tokens, 1)
    punct_ratio = n_punct / max(n_chars, 1)
    return math.floor((0.5 * len_score + 0.4 * stop_ratio + 0.1 * (1.0 - punct_ratio)) * 10000 + 0.5) / 10000


def _quality_pct_brute(sf_dir: str):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"])
    scored = sorted(
        (_quality_score_py(t), int(d), s)
        for d, s, t in zip(docs["doc_id"], docs["source"], docs["text"])
    )
    n = len(scored)
    per_source: dict[str, list[int]] = {}
    for rk, (_q, _d, s) in enumerate(scored, start=1):
        per_source.setdefault(s, []).append(rk * 1_000_000 // n)
    return sorted(
        (s, len(ps), sum(ps) // len(ps), min(ps), max(ps),
         sum(1 for p in ps if p <= 250_000))
        for s, ps in per_source.items()
    )


def test_quality_pct_matches_python_recompute(spark, sf_dir):
    rows = queries()["quality_percentile_by_source"](spark, sf_dir).collect()
    got = sorted(
        (r["source"], r["n_docs"], r["mean_pct_ppm"], r["min_pct_ppm"],
         r["max_pct_ppm"], r["n_bottom_quartile"])
        for r in rows
    )
    assert got == _quality_pct_brute(sf_dir)


def test_quality_pct_bottom_quartile_accounts(spark, sf_dir):
    """The bottom-quartile docs across sources must total ~25% of the
    corpus (integer-floor boundary), and every mean percentile must sit
    inside its own [min, max]."""
    rows = queries()["quality_percentile_by_source"](spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in rows)
    bottom = sum(r["n_bottom_quartile"] for r in rows)
    assert abs(bottom - n // 4) <= 1
    for r in rows:
        assert r["min_pct_ppm"] <= r["mean_pct_ppm"] <= r["max_pct_ppm"]


def test_quality_pct_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["quality_percentile_by_source"](spark, sf_dir))
    # The global rank subplan is isolated (checkpointed) — the consumer
    # plan sees its frozen output, never a single-task global window.
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# embedding_outlier_centroid
# --------------------------------------------------------------------------


def _outlier_brute(sf_dir: str):
    import math

    from gluettalax_spark.operators.similarity import COV_Q, OUTLIER_TOPK

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    by_label: dict[int, list[tuple[int, list[int]]]] = {}
    for vid, vec, lab in zip(emb["vec_id"], emb["embedding"], emb["label"]):
        qv = [math.floor(float(x) * COV_Q) for x in vec]
        by_label.setdefault(int(lab), []).append((int(vid), qv))
    rows = []
    for lab in sorted(by_label):
        members = by_label[lab]
        n = len(members)
        S = [sum(qv[d] for _v, qv in members) for d in range(len(members[0][1]))]
        scored = sorted(
            (-sum((n * qv[d] - S[d]) ** 2 for d in range(len(qv))), vid)
            for vid, qv in members
        )
        for rk, (neg_d2, vid) in enumerate(scored[:OUTLIER_TOPK], start=1):
            dist = round(math.sqrt(float(-neg_d2)) / n / COV_Q, 6)
            rows.append((lab, rk, vid, n, dist))
    return rows


def test_outlier_matches_python_bigint_recompute(spark, sf_dir):
    """Exact-integer third engine: Python big ints can't overflow, so
    equality certifies the decimal(38,0) path never silently wrapped."""
    got = [
        (r["label"], r["rank"], r["vec_id"], r["n_vecs"], r["dist"])
        for r in queries()["embedding_outlier_centroid"](spark, sf_dir).collect()
    ]
    assert got == _outlier_brute(sf_dir)


def test_outlier_finds_injected_vector(spark):
    """A tight synthetic cluster plus one far-away vector: the injected
    vector must rank 1 with a distance far above the runner-up."""
    import random

    from gluettalax_spark.operators.similarity import centroid_outliers

    rng = random.Random(7)
    rows = []
    for vid in range(40):
        rows.append((vid, [0.5 + rng.uniform(-0.01, 0.01) for _ in range(64)], 0))
    rows.append((99, [-0.9] * 64, 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = centroid_outliers(df, topk=2).collect()
    assert got[0]["vec_id"] == 99 and got[0]["rank"] == 1
    assert got[0]["dist"] > 10 * got[1]["dist"]
    assert all(r["n_vecs"] == 41 for r in got)


def test_outlier_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["embedding_outlier_centroid"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# corpus_token_zipf
# --------------------------------------------------------------------------


def _zipf_brute(sf_dir: str):
    import math

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    freq: Counter = Counter()
    for text in docs["text"]:
        for w in re.findall(r"[a-z]+", text.lower()):
            freq[w] += 1
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (math.floor(math.log(rk) * 1_000_000), math.floor(math.log(c) * 1_000_000), c)
        for rk, (_w, c) in enumerate(ranked, start=1)
    ]
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    syy = sum(p[1] * p[1] for p in pts)
    num, den, den_y = float(n * sxy - sx * sy), float(n * sxx - sx * sx), float(n * syy - sy * sy)
    slope = num / den
    return (
        n,
        sum(p[2] for p in pts),
        round(slope, 6),
        round((float(sy) - slope * float(sx)) / float(n) / 1_000_000.0, 4),
        round((num * num) / (den * den_y), 4),
    )


def test_zipf_matches_python_recompute(spark, sf_dir):
    r = queries()["corpus_token_zipf"](spark, sf_dir).collect()[0]
    assert (
        r["n_terms"], r["total_tokens"], r["zipf_slope"], r["intercept_nats"], r["r2"]
    ) == _zipf_brute(sf_dir)


def test_zipf_slope_is_negative_with_fit(spark, sf_dir):
    r = queries()["corpus_token_zipf"](spark, sf_dir).collect()[0]
    assert r["zipf_slope"] < 0
    assert 0.0 <= r["r2"] <= 1.0


def test_zipf_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["corpus_token_zipf"](spark, sf_dir))
    # Rank rides exact_global_rank's frozen subplan, never a global window.
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# orders_seasonality_weekday + text_js_divergence_sources
# --------------------------------------------------------------------------


def _seasonality_brute(sf_dir: str):
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"])
    # pandas dayofweek: 0=Monday; Spark dayofweek: 1=Sunday.
    wd = (orders["o_orderdate"].dt.dayofweek + 1) % 7 + 1
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    per = {}
    for w, c in zip(wd, cents):
        n, t = per.get(int(w), (0, 0))
        per[int(w)] = (n + 1, t + int(c))
    n_all = sum(n for n, _t in per.values())
    total_all = sum(t for _n, t in per.values())
    return [
        (w, n, t, t // n, (t * n_all * 1000) // (n * total_all))
        for w, (n, t) in sorted(per.items())
    ]


def test_seasonality_matches_python_recompute(spark, sf_dir):
    rows = queries()["orders_seasonality_weekday"](spark, sf_dir).collect()
    got = [
        (r["weekday"], r["n_orders"], r["total_cents"], r["mean_cents"], r["index_milli"])
        for r in rows
    ]
    assert got == _seasonality_brute(sf_dir)
    # Indexes hover around 1000 permille and weekdays cover 1..7.
    assert [r[0] for r in got] == list(range(1, 8))
    n_all = sum(r[1] for r in got)
    weighted = sum(r[1] * r[4] for r in got)
    assert abs(weighted / n_all - 1000) < 10


def _jsd_brute(pairs):
    """pairs: list of (source, text). Mirrors the operator's exact IEEE
    expression order per term."""
    import math

    sc: Counter = Counter()
    for s, t in pairs:
        for w in re.findall(r"[a-z]+", t.lower()):
            sc[(s, w)] += 1
    vocab: Counter = Counter()
    srcs: Counter = Counter()
    for (s, w), c in sc.items():
        vocab[w] += c
        srcs[s] += c
    n = sum(vocab.values())
    out = {}
    for s in srcs:
        ns = srcs[s]
        tot, active = 0, 0
        for w, cw in vocab.items():
            c = sc.get((s, w))
            if c is not None:
                active += 1
                p_term = (c / ns) * math.log((c / ns) / ((c / ns + cw / n) / 2))
            else:
                p_term = 0.0
            q_term = (cw / n) * math.log(
                (cw / n) / (((c if c is not None else 0.0) / ns + cw / n) / 2)
            )
            tot += math.floor((p_term + q_term) * 50_000_000)
        out[s] = (ns, active, tot)
    return out


def test_jsd_matches_python_recompute(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    brute = _jsd_brute(list(zip(docs["source"], docs["text"])))
    rows = queries()["text_js_divergence_sources"](spark, sf_dir).collect()
    got = {r["source"]: (r["n_tokens"], r["n_terms_active"], r["jsd_e8"]) for r in rows}
    assert got == brute


def test_jsd_bounds_and_zero_identity(spark, sf_dir):
    import math

    from gluettalax_spark.operators.text import js_divergence_by_source

    ln2_e8 = math.log(2) * 1e8
    for r in queries()["text_js_divergence_sources"](spark, sf_dir).collect():
        # Floor-quantization can dip a hair below 0 per term; the corpus
        # total stays within vocab-count of the true bound.
        assert -r["n_terms_active"] * 2 <= r["jsd_e8"] <= ln2_e8 + 1
    # A single-source corpus IS the corpus distribution: JSD == 0 exactly
    # (every term is ln(1) = 0 before quantization).
    df = spark.createDataFrame(
        [("only", "a b c a b a")], "source string, text string"
    )
    r = js_divergence_by_source(df).collect()[0]
    assert r["jsd_e8"] == 0 and r["n_terms_active"] == 3


def test_seasonality_and_jsd_plan_shapes(spark, sf_dir):
    for name in ("orders_seasonality_weekday", "text_js_divergence_sources"):
        plan = physical_plan(queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------------------------------
# events_interarrival_by_type
# --------------------------------------------------------------------------


def _interarrival_brute(sf_dir: str):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "ts", "user_id", "event_type"])
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    gaps: dict[str, list[int]] = {}
    for (_u, et), g in ev.groupby(["user_id", "event_type"]):
        us = [int(v) for v in g.sort_values(["us", "event_id"])["us"]]
        gaps.setdefault(str(et), []).extend(b - a for a, b in zip(us, us[1:]))
    out = []
    for et in sorted(gaps):
        gs = sorted(gaps[et])
        n = len(gs)

        def q(p):
            pos = p * (n - 1)
            lo, hi = int(pos), min(int(pos) + 1, n - 1)
            return round(gs[lo] + (pos - lo) * (gs[hi] - gs[lo]), 2)

        out.append((et, n, sum(gs) // n, q(0.5), q(0.9), gs[-1]))
    return out


def test_interarrival_matches_python_recompute(spark, sf_dir):
    rows = queries()["events_interarrival_by_type"](spark, sf_dir).collect()
    got = [
        (r["event_type"], r["n_gaps"], r["mean_gap_us"], r["p50_gap_us"],
         r["p90_gap_us"], r["max_gap_us"])
        for r in rows
    ]
    assert got == _interarrival_brute(sf_dir)
    for r in rows:
        assert 0 <= r["p50_gap_us"] <= r["p90_gap_us"] <= r["max_gap_us"]


def test_interarrival_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["events_interarrival_by_type"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# text_lexical_diversity + label_quality_profile
# --------------------------------------------------------------------------


def test_lexical_diversity_matches_python_recompute(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    per: dict[str, Counter] = {}
    for s, t in zip(docs["source"], docs["text"]):
        per.setdefault(s, Counter()).update(re.findall(r"[a-z]+", t.lower()))
    brute = sorted(
        (s,
         sum(c.values()),
         len(c),
         len(c) * 1_000_000 // sum(c.values()),
         sum(1 for v in c.values() if v == 1),
         sum(1 for v in c.values() if v == 1) * 1_000_000 // len(c))
        for s, c in per.items()
    )
    rows = queries()["text_lexical_diversity"](spark, sf_dir).collect()
    got = [
        (r["source"], r["n_tokens"], r["n_types"], r["ttr_ppm"], r["n_hapax"], r["hapax_ppm"])
        for r in rows
    ]
    assert got == brute
    for r in rows:
        assert 0 <= r["hapax_ppm"] <= 1_000_000 and 0 < r["ttr_ppm"] <= 1_000_000


def test_label_quality_matches_python_recompute(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "label"])
    merged = docs.merge(emb, left_on="doc_id", right_on="vec_id")
    brute = sorted(
        (int(lab),
         len(g),
         sum(int(_quality_score_py(t) * 10000 + 0.5) for t in g["text"]) // len(g),
         int(g["n_chars"].sum()) // len(g),
         g["lang"].nunique())
        for lab, g in merged.groupby("label")
    )
    # floor(q*1e4 + 0.5) on the already-4dp score == int(q*1e4 + 0.5) for q >= 0
    rows = queries()["label_quality_profile"](spark, sf_dir).collect()
    got = [
        (r["label"], r["n_docs"], r["mean_quality_e4"], r["mean_chars"], r["n_langs"])
        for r in rows
    ]
    assert got == brute
    assert sum(r["n_docs"] for r in rows) == len(merged)


def test_lexdiv_and_label_quality_plan_shapes(spark, sf_dir):
    for name in ("text_lexical_diversity", "label_quality_profile"):
        plan = physical_plan(queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------------------------------
# similarity_topk_hamming + graph_assortativity
# --------------------------------------------------------------------------


def _hamming_brute(sf_dir: str):
    from gluettalax_spark.operators.similarity import N_QUERIES, TOPK

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    sk = {}
    for vid, vec in zip(emb["vec_id"], emb["embedding"]):
        bits = 0
        for d, x in enumerate(vec):
            if float(x) >= 0:
                bits |= 1 << d
        sk[int(vid)] = bits
    out = []
    for q in sorted(v for v in sk if v < N_QUERIES):
        scored = sorted(
            (bin(sk[q] ^ s).count("1"), v) for v, s in sk.items() if v != q
        )
        for rk, (h, v) in enumerate(scored[:TOPK], start=1):
            out.append((q, v, h, rk))
    return out


def test_hamming_matches_python_recompute(spark, sf_dir):
    rows = queries()["similarity_topk_hamming"](spark, sf_dir).collect()
    got = [(r["query_id"], r["neighbor_id"], r["hamming"], r["rank"]) for r in rows]
    assert got == _hamming_brute(sf_dir)


def test_hamming_correlates_with_cosine(spark, sf_dir):
    """The 1-bit sketch is a pre-filter, not an oracle — but its top-k
    must overlap the true cosine top-k far above chance, and distances
    stay in [0, 64]."""
    ham = {}
    for r in queries()["similarity_topk_hamming"](spark, sf_dir).collect():
        assert 0 <= r["hamming"] <= 64
        ham.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    cos = {}
    for r in queries()["similarity_topk"](spark, sf_dir).collect():
        cos.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(ham[q] & cos[q]) for q in cos)
    total = sum(len(cos[q]) for q in cos)
    n_vectors = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id"]).shape[0]
    chance = 5.0 / max(n_vectors - 1, 1)
    assert hits / total > max(5 * chance, 0.05), (hits, total)


def _assort_brute_from_edges(edges):
    import math

    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    return (
        len(deg),
        m // 2,
        round(float(m * sxy - sx * sy)
              / math.sqrt(float(m * sxx - sx * sx) * float(m * syy - sy * sy)), 6),
    )


def test_assortativity_matches_python_recompute(spark, sf_dir):
    from tests.test_round6_ops import _cooccurrence_edges_brute

    edges = sorted(_cooccurrence_edges_brute(sf_dir))
    r = queries()["graph_assortativity"](spark, sf_dir).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["assortativity"]) == _assort_brute_from_edges(edges)
    assert -1.0 <= r["assortativity"] <= 1.0


def test_assortativity_star_is_minus_one(spark):
    """A star graph is the textbook maximally disassortative case:
    every edge joins the hub (degree n) to a leaf (degree 1), so
    r = -1 exactly."""
    from gluettalax_spark.operators.graph import assortativity_from_edges

    edges = [(0, i) for i in range(1, 21)]
    df = spark.createDataFrame(edges, "pa long, pb long")
    r = assortativity_from_edges(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["assortativity"]) == (21, 20, -1.0)


def test_hamming_and_assortativity_plan_shapes(spark, sf_dir):
    for name in ("similarity_topk_hamming", "graph_assortativity"):
        plan = physical_plan(queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------------------------------
# events_activity_streaks
# --------------------------------------------------------------------------


def _streaks_brute(sf_dir: str):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    ev["day"] = ev["ts"].dt.floor("D")
    per_user: dict[int, tuple[int, int, int]] = {}
    for uid, g in ev.groupby("user_id"):
        days = sorted({d.toordinal() for d in g["day"].dt.date})
        lens, run = [], 1
        for a, b in zip(days, days[1:]):
            if b == a + 1:
                run += 1
            else:
                lens.append(run)
                run = 1
        lens.append(run)
        per_user[int(uid)] = (max(lens), len(lens), sum(lens))
    hist: dict[int, list[int]] = {}
    for best, n_streaks, active in per_user.values():
        h = hist.setdefault(best, [0, 0, 0])
        h[0] += 1
        h[1] += active
        h[2] += n_streaks
    return sorted((b, h[0], h[1], h[2]) for b, h in hist.items())


def test_streaks_matches_python_recompute(spark, sf_dir):
    rows = queries()["events_activity_streaks"](spark, sf_dir).collect()
    got = [(r["best_streak"], r["n_users"], r["active_days"], r["n_streaks"]) for r in rows]
    assert got == _streaks_brute(sf_dir)
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    assert sum(r["n_users"] for r in rows) == ev["user_id"].nunique()


def test_streaks_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["events_activity_streaks"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# orders_abc_analysis
# --------------------------------------------------------------------------


def _abc_brute(sf_dir: str):
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_partkey", "l_extendedprice", "l_discount"]
    )
    import numpy as np

    # floor(x + 0.5), not pandas .round(): Spark round() is HALF_UP on
    # positives while numpy/pandas round half-even — they differ exactly
    # on the .5-cent boundaries discounts produce.
    cents_col = np.floor(
        (li["l_extendedprice"] * (1 - li["l_discount"]) * 100) + 0.5
    ).astype("int64")
    per: Counter = Counter()
    for pk, c in zip(li["l_partkey"], cents_col):
        per[int(pk)] += int(c)
    ranked = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    t = sum(per.values())
    agg: dict[str, list[int]] = {}
    r = 0
    for _pk, c in ranked:
        r += c
        cls = "A" if r * 100 <= t * 80 else ("B" if r * 100 <= t * 95 else "C")
        a = agg.setdefault(cls, [0, 0])
        a[0] += 1
        a[1] += c
    return sorted((cls, a[0], a[1], a[1] * 1_000_000 // t) for cls, a in agg.items())


def test_abc_matches_python_recompute(spark, sf_dir):
    rows = queries()["orders_abc_analysis"](spark, sf_dir).collect()
    got = [(r["abc_class"], r["n_parts"], r["revenue_cents"], r["share_ppm"]) for r in rows]
    assert got == _abc_brute(sf_dir)
    # Class shares honor the cuts (the fixture's revenue is fairly
    # uniform across parts, so don't assert Pareto-shaped counts).
    by = {r["abc_class"]: r for r in rows}
    if "A" in by:
        assert by["A"]["share_ppm"] <= 800_000
    assert sum(r["share_ppm"] for r in rows) >= 1_000_000 - len(rows)


def test_abc_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["orders_abc_analysis"](spark, sf_dir))
    # The running sum rides the grouped_running_sums machinery (frozen
    # range-partitioned run), never an unpartitioned data-scale window.
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# sql_pipe_syntax
# --------------------------------------------------------------------------


def test_pipe_syntax_equals_classic_plan(spark, sf_dir):
    """The pipe form must land on the same rows AND the same physical
    plan shape as the classic SQL it desugars to."""
    rows = queries()["sql_pipe_syntax"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 5
    classic = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM gx_pipe_lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY revenue_cents DESC, l_returnflag, l_linestatus
        LIMIT 5
        """
    ).collect()
    assert rows == classic
    revs = [r["revenue_cents"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_pipe_syntax_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["sql_pipe_syntax"](spark, sf_dir))
    # Desugars to the classic shape: pushed filter, partial agg, top-k.
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# dedup_minhash_accuracy
# --------------------------------------------------------------------------


def _minhash_accuracy_brute(sf_dir: str):
    import hashlib

    from gluettalax_spark.operators.dedup import (
        MAX_BAND_BUCKET, N_BANDS, N_HASHES, ROWS_PER_BAND,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    sigs, hsets = {}, {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        toks = [t for t in re.split(r"\s+", text.lower()) if t]
        if len(toks) < 3:
            continue
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        h1h2hs = []
        for s in shingles:
            m = hashlib.md5(s.encode()).hexdigest()
            h1h2hs.append((int(m[0:8], 16), int(m[8:16], 16), int(m[0:15], 16)))
        sigs[int(did)] = [
            min(h1 + i * h2 for h1, h2, _ in h1h2hs) for i in range(N_HASHES)
        ]
        hsets[int(did)] = {hs for _h1, _h2, hs in h1h2hs}
    buckets: dict[tuple[int, str], list[int]] = {}
    for did, sig in sigs.items():
        for b in range(N_BANDS):
            val = hashlib.md5(
                ",".join(str(sig[b * ROWS_PER_BAND + r]) for r in range(ROWS_PER_BAND)).encode()
            ).hexdigest()
            buckets.setdefault((b, val), []).append(did)
    cand = set()
    for members in buckets.values():
        if len(members) > MAX_BAND_BUCKET:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
    ests, trues = [], []
    for a, b in sorted(cand):
        matches = sum(1 for i in range(N_HASHES) if sigs[a][i] == sigs[b][i])
        inter = len(hsets[a] & hsets[b])
        union = len(hsets[a]) + len(hsets[b]) - inter
        ests.append(matches * 62500)
        trues.append(inter * 1_000_000 // union)
    n = len(ests)
    errs = [abs(e - t) for e, t in zip(ests, trues)]
    return (
        n,
        sum(errs) // n,
        (sum(ests) - sum(trues)) // n,
        max(errs),
        sum(trues) // n,
    )


def test_minhash_accuracy_matches_python_recompute(spark, sf_dir):
    r = queries()["dedup_minhash_accuracy"](spark, sf_dir).collect()[0]
    assert (
        r["n_pairs"], r["mae_ppm"], r["bias_ppm"], r["max_err_ppm"], r["mean_true_ppm"]
    ) == _minhash_accuracy_brute(sf_dir)
    # On LSH-SELECTED pairs the estimator is biased up by construction
    # (a candidate needs >= 1 full band match, so est >= 250k ppm even
    # when true similarity is low) — the audit exists to measure exactly
    # that. Pin the structural floor and the positive selection bias.
    assert r["n_pairs"] > 0
    assert 250_000 <= r["mae_ppm"] + r["mean_true_ppm"]
    assert r["bias_ppm"] > 0
    assert 0 <= r["max_err_ppm"] <= 1_000_000


def test_minhash_accuracy_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["dedup_minhash_accuracy"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# events_dau_mau_stickiness
# --------------------------------------------------------------------------


def _stickiness_brute(sf_dir: str):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    pairs = {(d.toordinal(), int(u)) for d, u in zip(ev["ts"].dt.date, ev["user_id"])}
    days = sorted({d for d, _u in pairs})
    out = []
    for d in days:
        dau = {u for dd, u in pairs if dd == d}
        mau = {u for dd, u in pairs if d - 27 <= dd <= d}
        out.append((
            pd.Timestamp.fromordinal(d).strftime("%Y-%m-%d"),
            len(dau), len(mau), len(dau) * 1000 // len(mau),
        ))
    return out


def test_stickiness_matches_python_recompute(spark, sf_dir):
    rows = queries()["events_dau_mau_stickiness"](spark, sf_dir).collect()
    got = [(r["day"], r["dau"], r["mau28"], r["stickiness_milli"]) for r in rows]
    assert got == _stickiness_brute(sf_dir)
    for r in rows:
        assert r["dau"] <= r["mau28"]
        assert 0 <= r["stickiness_milli"] <= 1000
    # MAU is monotone while the trailing window is still filling.
    maus = [r["mau28"] for r in rows[:27]]
    assert maus == sorted(maus)


def test_stickiness_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["events_dau_mau_stickiness"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# events_ks_test
# --------------------------------------------------------------------------


def _ks_brute(sf_dir: str):
    from gluettalax_spark.operators.stats import _KS_A, _KS_B

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev = ev[ev["event_type"].isin([_KS_A, _KS_B]) & ev["value"].notna()]
    ca: Counter = Counter()
    cb: Counter = Counter()
    for t, v in zip(ev["event_type"], ev["value"]):
        (ca if t == _KS_A else cb)[float(v)] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    ra = rb = 0
    best = None
    for v in sorted(set(ca) | set(cb)):
        ra += ca.get(v, 0)
        rb += cb.get(v, 0)
        d = abs(ra * nb - rb * na)
        key = (-d, v)
        if best is None or key < best[0]:
            best = (key, (na, nb, d * 1_000_000 // (na * nb), round(v, 4)))
    return best[1]


def test_ks_matches_python_recompute(spark, sf_dir):
    r = queries()["events_ks_test"](spark, sf_dir).collect()[0]
    assert (r["n_a"], r["n_b"], r["ks_d_ppm"], r["ks_at_value"]) == _ks_brute(sf_dir)
    assert 0 <= r["ks_d_ppm"] <= 1_000_000


def test_ks_detects_shifted_distribution(spark):
    """Same-distribution samples score near 0; a shifted sample scores
    near 1e6 — driven through the registry builder's own code path via a
    temp parquet fixture."""
    import math

    from gluettalax_spark.operators.stats import events_ks_test

    import datetime
    import tempfile

    rows = []
    ts = datetime.datetime(2024, 1, 1)
    for i in range(500):
        rows.append((i, ts, i % 7, "purchase", 10.0 + (i % 50), "{}"))
        rows.append((10_000 + i, ts, i % 7, "view", 200.0 + (i % 50), "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        r = events_ks_test(spark, d).collect()[0]
    # Disjoint supports: the ECDF gap reaches exactly 1.
    assert r["ks_d_ppm"] == 1_000_000
    assert math.isclose(r["ks_at_value"], 59.0, abs_tol=0.01)


def test_ks_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["events_ks_test"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Scan ExistingRDD" in plan  # running sums ride the frozen range run
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# events_rolling_zscore
# --------------------------------------------------------------------------


def _rolling_z_brute(sf_dir: str):
    import numpy as np

    from gluettalax_spark.operators.stats import _ZK, _ZWIN

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["c"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    per: dict[str, list[int]] = {}
    for (_u, et), g in ev.groupby(["user_id", "event_type"]):
        cs = [int(c) for c in g.sort_values(["ts", "event_id"])["c"]]
        stats = per.setdefault(str(et), [0, 0])
        for i, x in enumerate(cs):
            lo = max(0, i - _ZWIN)
            wnd = cs[lo:i]
            n = len(wnd)
            if n < 4:
                continue
            stats[0] += 1
            s1, s2 = sum(wnd), sum(v * v for v in wnd)
            if (n * x - s1) ** 2 * n > _ZK * _ZK * (n * s2 - s1 * s1) * n:
                stats[1] += 1
    return sorted(
        (et, sc, an, an * 1_000_000 // sc if sc else None)
        for et, (sc, an) in per.items()
    )


def test_rolling_z_matches_python_recompute(spark, sf_dir):
    rows = queries()["events_rolling_zscore"](spark, sf_dir).collect()
    got = sorted(
        (r["event_type"], r["n_scored"], r["n_anomalies"], r["anomaly_ppm"]) for r in rows
    )
    assert got == _rolling_z_brute(sf_dir)


def test_rolling_z_flags_injected_spike(spark):
    """A user with a flat history and one 100x spike: exactly that one
    point is an anomaly — driven through the builder's own path via a
    temp events fixture."""
    import datetime
    import tempfile

    from gluettalax_spark.operators.stats import events_rolling_zscore

    rows = []
    ts = datetime.datetime(2024, 1, 1)
    vals = [10.0, 11.0, 10.0, 12.0, 11.0, 10.0, 11.0, 1000.0, 10.0, 11.0]
    for i, v in enumerate(vals):
        rows.append((i, ts + datetime.timedelta(minutes=i), 1, "purchase", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        r = events_rolling_zscore(spark, d).collect()[0]
    # 10 points, the first 4 have windows < 4 -> 6 scored; the spike is
    # the only flag (the post-spike windows inflate their own variance).
    assert (r["n_scored"], r["n_anomalies"]) == (6, 1)


def test_rolling_z_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["events_rolling_zscore"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# text_char_entropy
# --------------------------------------------------------------------------


def _char_entropy_brute(sf_dir: str):
    import math

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    per: dict[str, Counter] = {}
    for s, t in zip(docs["source"], docs["text"]):
        per.setdefault(s, Counter()).update(t)
    out = []
    for s in sorted(per):
        cnt = per[s]
        n = sum(cnt.values())
        e = sum(
            math.floor((c / n) * math.log(n / c) * 100_000_000) for c in cnt.values()
        )
        out.append((s, n, len(cnt), e))
    return out


def test_char_entropy_matches_python_recompute(spark, sf_dir):
    import math

    rows = queries()["text_char_entropy"](spark, sf_dir).collect()
    got = [(r["source"], r["n_chars"], r["n_distinct_chars"], r["entropy_e8"]) for r in rows]
    assert got == _char_entropy_brute(sf_dir)
    for r in rows:
        # 0 <= H <= ln(k); floor-quantization dips at most 1 per term.
        assert -r["n_distinct_chars"] <= r["entropy_e8"]
        assert r["entropy_e8"] <= math.log(r["n_distinct_chars"]) * 1e8 + 1


def test_char_entropy_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["text_char_entropy"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# shard_balance_audit
# --------------------------------------------------------------------------


def _shard_balance_brute(sf_dir: str):
    import hashlib

    from gluettalax_spark.operators.pipeline import _N_SHARDS

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"])
    per: dict[int, list[int]] = {}
    for did, nc in zip(docs["doc_id"], docs["n_chars"]):
        sh = int(hashlib.md5(str(int(did)).encode()).hexdigest()[:8], 16) % _N_SHARDS
        a = per.setdefault(sh, [0, 0])
        a[0] += 1
        a[1] += int(nc)
    n = len(per)
    td = sum(a[0] for a in per.values())
    tc = sum(a[1] for a in per.values())
    md = max(a[0] for a in per.values())
    mc = max(a[1] for a in per.values())
    return (n, td, md, md * n * 1_000_000 // td, tc, mc, mc * n * 1_000_000 // tc)


def test_shard_balance_matches_python_recompute(spark, sf_dir):
    r = queries()["shard_balance_audit"](spark, sf_dir).collect()[0]
    assert (
        r["n_shards"], r["total_docs"], r["max_shard_docs"], r["doc_balance_ppm"],
        r["total_chars"], r["max_shard_chars"], r["chars_balance_ppm"],
    ) == _shard_balance_brute(sf_dir)
    # A max can never sit below the mean.
    assert r["doc_balance_ppm"] >= 1_000_000 - r["n_shards"]
    assert r["chars_balance_ppm"] >= 1_000_000 - r["n_shards"]


def test_shard_balance_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["shard_balance_audit"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# agg_weighted_median + events_benford_audit
# --------------------------------------------------------------------------


def _wmedian_brute(sf_dir: str):
    import numpy as np

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_extendedprice", "l_quantity"])
    vw: Counter = Counter()
    for p, q in zip(li["l_extendedprice"], li["l_quantity"]):
        vw[int(np.floor(p * 100 + 0.5))] += int(q)
    tw = sum(vw.values())
    cw, med, p25, p75 = 0, None, None, None
    for v in sorted(vw):
        cw += vw[v]
        if p25 is None and cw * 4 >= tw:
            p25 = v
        if med is None and cw * 2 >= tw:
            med = v
        if p75 is None and cw * 4 >= tw * 3:
            p75 = v
    return (tw, med, p25, p75)


def test_weighted_median_matches_python_recompute(spark, sf_dir):
    r = queries()["agg_weighted_median"](spark, sf_dir).collect()[0]
    assert (
        r["total_weight"], r["wmedian_cents"], r["wp25_cents"], r["wp75_cents"]
    ) == _wmedian_brute(sf_dir)
    assert r["wp25_cents"] <= r["wmedian_cents"] <= r["wp75_cents"]


def test_benford_matches_python_recompute(spark, sf_dir):
    import numpy as np

    from gluettalax_spark.operators.stats import _BENFORD_PPM

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    digits = Counter(
        int(str(int(np.floor(p * 100 + 0.5)))[0])
        for p in orders["o_totalprice"]
        if p > 0
    )
    total = sum(digits.values())
    brute = sorted(
        (d, n, n * 1_000_000 // total, _BENFORD_PPM[d - 1],
         abs(n * 1_000_000 // total - _BENFORD_PPM[d - 1]))
        for d, n in digits.items()
    )
    rows = queries()["events_benford_audit"](spark, sf_dir).collect()
    got = [
        (r["digit"], r["n"], r["observed_ppm"], r["benford_ppm"], r["dev_ppm"])
        for r in rows
    ]
    assert got == brute
    # The Benford constants themselves sum to ~1e6.
    assert 999_990 <= sum(_BENFORD_PPM) <= 1_000_000


def test_benford_accepts_organic_and_flags_uniform(spark):
    """A log-uniform (organic-like) sample must sit close to Benford;
    a uniform[10, 20) sample must blow the digit-1 bucket out — the
    audit's two calibration points."""
    import math
    import random

    rng = random.Random(3)
    organic = [(i, math.exp(rng.uniform(0, math.log(10) * 6))) for i in range(4000)]
    df = spark.createDataFrame(organic, "o_orderkey long, o_totalprice double")

    def audit(frame):
        d = frame.filter(F_col("o_totalprice") > 0).selectExpr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT) AS digit"
        )
        g = d.groupBy("digit").count()
        n = {r["digit"]: r["count"] for r in g.collect()}
        t = sum(n.values())
        return {d_: c * 1_000_000 // t for d_, c in n.items()}

    from pyspark.sql.functions import col as F_col

    from gluettalax_spark.operators.stats import _BENFORD_PPM

    obs = audit(df)
    for d_ in range(1, 10):
        assert abs(obs.get(d_, 0) - _BENFORD_PPM[d_ - 1]) < 40_000, d_
    uniform = [(i, rng.uniform(10.0, 20.0)) for i in range(2000)]
    obs_u = audit(spark.createDataFrame(uniform, "o_orderkey long, o_totalprice double"))
    assert obs_u.get(1, 0) > 900_000  # everything starts with '1'


def test_wmedian_benford_plan_shapes(spark, sf_dir):
    for name in ("agg_weighted_median", "events_benford_audit"):
        plan = physical_plan(queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------------------------------
# orders_repeat_cohort
# --------------------------------------------------------------------------


def _repeat_cohort_brute(sf_dir: str):
    import numpy as np

    orders = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    per: dict[int, list] = {}
    for ck, d, p in zip(orders["o_custkey"], orders["o_orderdate"], orders["o_totalprice"]):
        a = per.setdefault(int(ck), [None, 0, 0])
        if a[0] is None or d < a[0]:
            a[0] = d
        a[1] += 1
        a[2] += int(np.floor(p * 100 + 0.5))
    coh: dict[str, list[int]] = {}
    for first, n, cents in per.values():
        c = coh.setdefault(first.strftime("%Y-%m"), [0, 0, 0, 0])
        c[0] += 1
        c[1] += 1 if n >= 2 else 0
        c[2] += n
        c[3] += cents
    return sorted(
        (m, c[0], c[1], c[1] * 1000 // c[0], c[2] * 1000 // c[0], c[3] // c[0])
        for m, c in coh.items()
    )


def test_repeat_cohort_matches_python_recompute(spark, sf_dir):
    rows = queries()["orders_repeat_cohort"](spark, sf_dir).collect()
    got = [
        (r["cohort"], r["n_customers"], r["n_repeat"], r["repeat_milli"],
         r["orders_per_cust_milli"], r["ltv_cents"])
        for r in rows
    ]
    assert got == _repeat_cohort_brute(sf_dir)
    for r in rows:
        assert 0 <= r["repeat_milli"] <= 1000
        assert r["orders_per_cust_milli"] >= 1000  # every customer has >= 1 order


def test_repeat_cohort_plan_shape(spark, sf_dir):
    plan = physical_plan(queries()["orders_repeat_cohort"](spark, sf_dir))
    assert "Window" not in plan  # one aggregate computes cohort + counts
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
