"""Property-based invariants (hypothesis) — the structural laws that
must hold for ANY input, not just the test corpus."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parking_bigdata_spark.operators import features, profile
from parking_bigdata_spark.queries.a_stats import trimmed_mean_price_pandas

SLOW = dict(deadline=None, max_examples=12,
            suppress_health_check=[HealthCheck.function_scoped_fixture,
                                   HealthCheck.too_slow])


@given(vals=st.lists(st.floats(min_value=-1e4, max_value=1e4,
                               allow_nan=False), min_size=1, max_size=40))
@settings(**SLOW)
def test_histogram_partitions_all_rows(spark, vals):
    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    hist = profile.histogram(df, "x", lo=-1e4, width=1000.0, n_buckets=21)
    rows = hist.collect()
    assert sum(r["n"] for r in rows) == len(vals)   # every row lands in a bucket
    assert all(0 <= r["bucket"] <= 20 for r in rows)  # clamped


@given(vals=st.lists(st.tuples(st.sampled_from(["a", "b", "c"]),
                               st.integers(0, 100)),
                     min_size=1, max_size=40))
@settings(**SLOW)
def test_pivot_preserves_total(spark, vals):
    df = spark.createDataFrame(pd.DataFrame(vals, columns=["k", "v"]))
    pv = features.pivot_wider(df, "k", "k", "v", ["a", "b", "c"],
                              agg="sum", prefix="c_")
    total = pv.select(
        F.sum(F.col("c_a") + F.col("c_b") + F.col("c_c")).alias("s")
    ).collect()[0]["s"]
    assert total == sum(v for _, v in vals)  # pivot never loses mass


@given(vals=st.lists(st.floats(min_value=-1e3, max_value=1e3,
                               allow_nan=False), min_size=2, max_size=30),
       lo=st.floats(min_value=-100, max_value=0),
       hi=st.floats(min_value=1, max_value=100))
@settings(**SLOW)
def test_bin_clamp_bounds(spark, vals, lo, hi):
    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    out = features.bin_clamp(df, "x", "b", scale=0, lo=lo, hi=hi).collect()
    assert all(lo <= r["b"] <= hi for r in out)


@given(base=st.text(alphabet="abcdef ", min_size=30, max_size=60),
       prefix=st.text(alphabet="xyz ", min_size=0, max_size=20),
       suffix=st.text(alphabet="uvw ", min_size=0, max_size=20))
@settings(deadline=None, max_examples=8,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_winnowing_guarantee_shared_substring(spark, base, prefix, suffix):
    """Schleimer's winnowing guarantee: two documents sharing a
    substring of length >= k + window - 1 MUST share at least one
    fingerprint (here the shared block is far longer than k+w-1)."""
    from parking_bigdata_spark.operators import text as text_ops
    d1, d2 = base, prefix + base + suffix
    df = spark.createDataFrame([(1, d1), (2, d2)],
                               "doc_id long, text string")
    out = {r["doc_id"]: set(r["winnow_fps"]) for r in
           text_ops.winnow_fingerprints(df, k=8, window=4).collect()}
    assert out[1] & out[2], "shared block produced no common fingerprint"


@given(n_shared=st.integers(min_value=0, max_value=20))
@settings(deadline=None, max_examples=6,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_minhash_estimate_tracks_jaccard(spark, n_shared):
    """MinHash property: the banded-signature estimate of Jaccard
    similarity must track the exact value — identical sets agree on
    every permutation; disjoint sets agree on (almost) none; partial
    overlap lands in between, monotonically."""
    from parking_bigdata_spark.operators import dedup

    words_a = [f"tok{i}" for i in range(20)]
    words_b = [f"tok{i}" for i in range(20 - n_shared, 40 - n_shared)]
    # build texts whose 3-gram sets overlap in proportion to n_shared
    df = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b))],
        "doc_id long, text string")
    sig = dedup.minhash_signatures(df, n_perm=32, ngram=3)
    rows = {r["doc_id"]: [r[f"mh{i}"] for i in range(32)]
            for r in sig.collect()}
    agree = sum(a == b for a, b in zip(rows[1], rows[2])) / 32.0

    g = dedup.word_ngrams(df, n=3)
    gs = {r["doc_id"]: set(r["grams"]) for r in g.collect()}
    inter = len(gs[1] & gs[2])
    union = len(gs[1] | gs[2])
    exact = inter / union if union else 1.0
    assert abs(agree - exact) <= 0.35  # 32 perms: ±1.96/sqrt(32) ≈ 0.35


def test_grouped_quantiles_matches_exact_percentile(spark):
    """Adversarial check of the bracket-refine quantile machinery:
    heavy ties, skewed group sizes, and both code paths — accuracy=16
    forces wide brackets (real refinement work), accuracy=10000 forces
    the small-group all-candidates path."""
    import numpy as np
    import pyspark.sql.functions as F

    from parking_bigdata_spark.operators.stats import grouped_quantiles

    rng = np.random.default_rng(7)
    rows = []
    for g, n in [("a", 7), ("b", 50), ("c", 333), ("d", 1000)]:
        # half the values drawn from a tiny tie-heavy set, half continuous
        ties = rng.choice([1.0, 2.5, 2.5, 99.0], size=n // 2)
        cont = rng.uniform(-50, 50, size=n - n // 2).round(2)
        rows += [(g, float(v)) for v in np.concatenate([ties, cont])]
    df = spark.createDataFrame(rows, ["g", "v"])

    fr = [0.05, 0.25, 0.5, 0.75, 0.95]
    names = [f"q{int(p*100)}" for p in fr]
    exact = {r["g"]: [r[n] for n in names]
             for r in df.groupBy("g").agg(
                 *[F.percentile("v", F.lit(p)).alias(n)
                   for p, n in zip(fr, names)]).collect()}
    for accuracy in (16, 10000):
        got = {r["g"]: [r[n] for n in names]
               for r in grouped_quantiles(df, "g", "v", fr, names,
                                          accuracy=accuracy).collect()}
        assert set(got) == set(exact)
        for g in exact:
            for a, b in zip(got[g], exact[g]):
                assert abs(a - b) < 1e-9, (accuracy, g, a, b)


def test_grouped_trimmed_mean_exact(spark):
    """Rank-trim parity vs numpy across tie-heavy, tiny, and large
    groups, on both the bracket-refine and all-candidates paths."""
    import numpy as np

    from parking_bigdata_spark.operators.stats import grouped_trimmed_mean

    rng = np.random.default_rng(11)
    data = {
        "tiny": [5.0],                          # k=0 → plain mean
        "nine": list(range(9)),                 # k=0 boundary (n<10)
        "ties": [1.0] * 40 + [2.0] * 30 + [9.0] * 30,  # cutoff inside tie blocks
        "big": rng.uniform(-100, 100, 2500).round(3).tolist(),
        "const": [7.0] * 100,
    }
    rows = [(g, float(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    for accuracy in (64, 10000):
        got = {r["g"]: (r["tm"], r["n"])
               for r in grouped_trimmed_mean(df, "g", "v", trim=0.1,
                                             alias="tm",
                                             accuracy=accuracy).collect()}
        for g, vs in data.items():
            a = np.sort(np.asarray(vs))
            k = int(len(a) * 0.1)
            exp = float(a[k: len(a) - k].mean())
            assert got[g][1] == len(vs)
            assert abs(got[g][0] - exp) < 1e-9, (accuracy, g, got[g][0], exp)


def test_trimmed_mean_registered_query_has_no_python(spark, sf_dir):
    # the registered query must be pure JVM; the pandas-UDF twin is the
    # only sanctioned Python form and must agree with it
    from parking_bigdata_spark import queries as Q
    from parking_bigdata_spark.plans import audit

    df = Q.queries()["trimmed_mean_price"](spark, sf_dir)
    a = audit(df)
    assert a.python_evals == 0 and a.arrow_evals == 0
    got = {r["l_returnflag"]: (r["trimmed_mean_price"], r["n"])
           for r in df.collect()}
    twin = {r["l_returnflag"]: (r["trimmed_mean_price"], r["n"])
            for r in trimmed_mean_price_pandas(spark, sf_dir).collect()}
    assert got == twin


def _mutate_words(text: str, every: int) -> str:
    toks = text.split()
    return " ".join("zzqx%d" % i if i % every == 0 else t
                    for i, t in enumerate(toks))


def test_minhash_lsh_recall_precision_vs_exact_jaccard(spark, sf_dir):
    """The LSH candidate generator must actually FIND near-duplicates:
    recall/precision measured against exact n-gram Jaccard on a corpus
    with planted near-dups (VERDICT r01 next-round #6).

    Banding theory: threshold t ≈ (1/b)^(1/r). The default (r=4, b=8,
    t≈0.59) is asserted at strong similarity; the r=2, b=16 (t≈0.25)
    tuning is asserted to reach ≥0.9 recall at jaccard ≥ 0.5 — the
    documented knob for lower-threshold sweeps.
    """
    import itertools

    from pyspark.sql import functions as F

    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.operators import dedup

    docs = (load_table(spark, sf_dir, "documents")
            .where(F.size(F.split("text", r"\s+")) >= 60)
            .select("doc_id", "text").limit(60).collect())
    rows = []
    for r in docs:
        rows.append((r["doc_id"], r["text"]))
        rows.append((r["doc_id"] + 100000, _mutate_words(r["text"], 20)))
        rows.append((r["doc_id"] + 200000, _mutate_words(r["text"], 8)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # exact 3-gram jaccard over all gram-sharing pairs = ground truth
    exact = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()}

    def rec_prec(cand_pairs, truth_thr, cand_floor):
        truth = {p for p, j in exact.items() if j >= truth_thr}
        hits = truth & cand_pairs
        recall = len(hits) / len(truth) if truth else 1.0
        good = sum(1 for p in cand_pairs if exact.get(p, 0.0) >= cand_floor)
        precision = good / len(cand_pairs) if cand_pairs else 1.0
        return recall, precision, len(truth)

    # default banding: strong near-dups (mild mutation, j >= 0.7)
    cand4 = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_pairs(df).collect()}
    r4, p4, n4 = rec_prec(cand4, 0.7, 0.3)
    assert n4 >= 40  # the planted mild mutations land here
    assert r4 >= 0.9, (r4, n4)
    assert p4 >= 0.8, p4

    # low-threshold tuning: r=2, b=16 must reach j >= 0.5 near-dups
    cand2 = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_pairs(df, band_size=2).collect()}
    r2, _, n2 = rec_prec(cand2, 0.5, 0.0)
    assert n2 >= 60  # mild + most moderate mutations
    assert r2 >= 0.9, (r2, n2)


def test_simhash_separates_near_dups(spark, sf_dir):
    """SimHash quality: hamming distance between planted near-dup pairs
    must sit far below random-pair distance, and 16-bit chunk banding
    must recover ≥80% of strong pairs (pigeonhole: hamming ≤ 3 ⇒ some
    chunk equal)."""
    from pyspark.sql import functions as F

    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.operators import dedup

    docs = (load_table(spark, sf_dir, "documents")
            .where(F.size(F.split("text", r"\s+")) >= 60)
            .select("doc_id", "text").limit(60).collect())
    rows = []
    for r in docs:
        rows.append((r["doc_id"], r["text"]))
        rows.append((r["doc_id"] + 100000, _mutate_words(r["text"], 20)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    near = [hamming(sig[r["doc_id"]], sig[r["doc_id"] + 100000])
            for r in docs]
    rnd = [hamming(sig[a["doc_id"]], sig[b["doc_id"]])
           for a, b in zip(docs[::2], docs[1::2])]
    assert sorted(near)[len(near) // 2] < sorted(rnd)[len(rnd) // 2] - 10
    chunk_hit = sum(
        1 for r in docs
        if any(((sig[r["doc_id"]] >> (16 * c)) & 0xFFFF)
               == ((sig[r["doc_id"] + 100000] >> (16 * c)) & 0xFFFF)
               for c in range(4)))
    assert chunk_hit / len(docs) >= 0.8


def test_minhash_hot_bucket_cap(spark):
    """Adversarial constant-text corpus: every doc lands in ONE bucket
    per band; the cap must bound the pair expansion to
    n_bands·cap·(cap−1)/2 instead of O(n²) (VERDICT r01 next-round #7)."""
    from parking_bigdata_spark.operators import dedup

    n = 400
    df = spark.createDataFrame(
        [(i, "the same boilerplate text repeated for every document "
             "in this adversarial flood corpus") for i in range(n)],
        "doc_id long, text string")
    cap = 16
    pairs = dedup.minhash_lsh_pairs(df, bucket_cap=cap)
    cnt = pairs.count()
    n_bands = 32 // 4
    assert 0 < cnt <= n_bands * cap * (cap - 1) // 2, cnt
    # uncapped control would explode: n*(n-1)/2 pairs
    assert cnt < n * (n - 1) // 2 / 10


def test_embedding_lsh_recall_at_high_cosine(spark):
    """Bucketed embedding near-dup (the registered scale path) must
    recover ≥90% of strong pairs (cosine ≥ 0.9) found by the exact
    kernel — the banded-LSH recall curve is tuned for high-threshold
    dedup work."""
    import numpy as np

    from parking_bigdata_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    base = rng.normal(size=(80, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        w = v + rng.normal(scale=0.08, size=64)  # cosine ≈ 0.95+
        rows.append((i + 1000, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in sim.embedding_near_dup_pairs(df, threshold=0.9).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in sim.embedding_near_dup_pairs_lsh(
               df, threshold=0.9, n_tables=4, n_planes=8).collect()}
    truth = set(exact)
    assert len(truth) >= 60
    assert len(truth & lsh) / len(truth) >= 0.9, \
        (len(truth & lsh), len(truth))


@given(vals=st.lists(st.tuples(st.sampled_from(["a", "b"]),
                               st.floats(min_value=-1e4, max_value=1e4,
                                         allow_nan=False)),
                     min_size=4, max_size=60),
       trim=st.sampled_from([0.05, 0.1, 0.25]))
@settings(**SLOW)
def test_grouped_trimmed_mean_matches_numpy_property(spark, vals, trim):
    """Hypothesis sweep of the rank-trim identity: for ANY group sizes,
    tie structure and trim fraction, the bracket-refine form equals the
    sort-and-slice definition."""
    import numpy as np

    from parking_bigdata_spark.operators.stats import grouped_trimmed_mean

    df = spark.createDataFrame(pd.DataFrame(vals, columns=["g", "v"]))
    got = {r["g"]: r["tm"]
           for r in grouped_trimmed_mean(df, "g", "v", trim=trim,
                                         alias="tm", accuracy=16).collect()}
    for g in {k for k, _ in vals}:
        a = np.sort(np.asarray([v for k, v in vals if k == g]))
        k = int(len(a) * trim)
        exp = float(a[k: len(a) - k].mean())
        assert abs(got[g] - exp) < 1e-9, (g, got[g], exp)


@given(vals=st.lists(st.floats(min_value=-1e4, max_value=1e4,
                               allow_nan=False), min_size=2, max_size=50),
       dup=st.integers(min_value=1, max_value=3))
@settings(**SLOW)
def test_tie_avg_ranks_match_numpy_property(spark, vals, dup):
    """tie_avg_ranks (the range-partitioned rank machinery under
    spearman/kruskal/mannwhitney) must reproduce scipy-style average
    ranks for arbitrary duplicate structure."""
    import numpy as np

    from parking_bigdata_spark.operators.stats import tie_avg_ranks

    data = vals * dup  # force ties across partitions
    cnt = pd.Series(data).value_counts()
    counts_df = spark.createDataFrame(
        pd.DataFrame({"v": cnt.index.to_numpy(dtype=float),
                      "t": cnt.to_numpy(dtype="int64")}))
    got = {r["v"]: r["avg_rank"]
           for r in tie_avg_ranks(counts_df, "v").collect()}
    arr = np.asarray(data)
    order = np.argsort(arr, kind="stable")
    ranks = np.empty(len(arr), dtype=float)
    ranks[order] = np.arange(1, len(arr) + 1)
    for v in set(data):
        mask = arr == v
        assert abs(got[v] - ranks[mask].mean()) < 1e-9, v


@given(vals=st.lists(st.tuples(st.floats(min_value=0, max_value=10,
                                         allow_nan=False),
                               st.floats(min_value=-100, max_value=100,
                                         allow_nan=False)),
                     min_size=8, max_size=50))
@settings(**SLOW)
def test_loess_curve_matches_numpy_property(spark, vals):
    """The fused-aggregate LOESS must equal a direct numpy weighted
    least squares at every grid point (tricube weights, local linear)."""
    import numpy as np

    from parking_bigdata_spark.operators.stats import loess_curve

    xs = np.array([v[0] for v in vals])
    ys = np.array([v[1] for v in vals])
    grid, h = [2.0, 5.0, 8.0], 6.0
    df = spark.createDataFrame(pd.DataFrame({"x": xs, "y": ys}))
    got = {r["grid_x"]: (r["fit"], r["n_local"])
           for r in loess_curve(df, "x", "y", grid, h,
                                alias="fit", round_to=6).collect()}
    for g in grid:
        u = np.abs(xs - g) / h
        w = np.where(u < 1, (1 - u ** 3) ** 3, 0.0)
        sw, swx, swy = w.sum(), (w * xs).sum(), (w * ys).sum()
        swxx, swxy = (w * xs * xs).sum(), (w * xs * ys).sum()
        den = sw * swxx - swx * swx
        if abs(den) < 1e-9:
            continue  # degenerate window (all x equal) — fit undefined
        b = (sw * swxy - swx * swy) / den
        a = (swy - b * swx) / sw
        exp = a + b * g
        fit, n_local = got[g]
        assert n_local == int((u < 1).sum())
        if fit is not None and np.isfinite(exp):
            assert abs(fit - exp) < 1e-4, (g, fit, exp)


@given(vals=st.lists(st.tuples(
    st.floats(min_value=-100, max_value=100, allow_nan=False,
              allow_infinity=False),
    st.integers(min_value=1, max_value=5)), min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_isotonic_minimax_equals_pava(vals):
    """The Barlow minimax characterization fit_k = max_{i<=k}
    min_{j>=k} wavg(i..j) — the form the isotonic_price_by_qty query
    computes because it IS SQL-expressible — must equal the classic
    weighted PAVA on any series. Two independent algorithms, one
    function."""
    import numpy as np
    y = np.array([v for v, _ in vals], dtype=float)
    w = np.array([c for _, c in vals], dtype=float)
    n = len(y)
    # minimax form
    pre_y = np.concatenate([[0.0], np.cumsum(w * y)])
    pre_w = np.concatenate([[0.0], np.cumsum(w)])
    wavg = lambda i, j: (pre_y[j + 1] - pre_y[i]) / (pre_w[j + 1] - pre_w[i])
    minimax = np.array([
        max(min(wavg(i, j) for j in range(k, n)) for i in range(k + 1))
        for k in range(n)])
    # weighted PAVA
    blocks = [[y[i], w[i]] for i in range(n)]
    out = []
    for b in blocks:
        out.append(list(b))
        while len(out) > 1 and out[-2][0] >= out[-1][0] - 1e-15:
            v2, w2 = out.pop()
            v1, w1 = out.pop()
            out.append([(v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2])
    pava = np.empty(n)
    pos = 0
    for v, wt in out:
        cnt, acc = 0, 0.0
        while pos + cnt < n and acc < wt - 1e-9:
            acc += w[pos + cnt]
            cnt += 1
        pava[pos:pos + cnt] = v
        pos += cnt
    assert np.allclose(minimax, pava, atol=1e-8)
