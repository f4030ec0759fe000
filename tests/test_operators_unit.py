"""Hand-computable unit expectations per operator family (the
reference's own validation style: re-describe after each transform)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from parking_bigdata_spark.io import load_table, read_clean_csv
from parking_bigdata_spark.operators import clean, dedup, features, ml, profile
from parking_bigdata_spark.operators import similarity as sim
from parking_bigdata_spark.queries.b_llm import sketch_hll_union


def test_read_clean_csv_sentinels(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,deposit,rent\n1,100,-\n2,,50\n3,-,NA\n4,200,75\n")
    df = read_clean_csv(spark, str(p),
                        numeric_sentinel_cols=["deposit", "rent"],
                        renames={"id": "code"})
    rows = {r["code"]: r for r in df.collect()}
    assert rows[1]["deposit"] == 100.0 and rows[1]["rent"] is None
    assert rows[2]["deposit"] is None and rows[2]["rent"] == 50.0
    assert rows[3]["deposit"] is None and rows[3]["rent"] is None
    assert rows[4]["deposit"] == 200.0 and rows[4]["rent"] == 75.0


def test_read_clean_csv_euc_kr_roundtrip(spark, tmp_path):
    # the reference detects UTF-8 vs EUC-KR before reading its Korean
    # CSVs (R:68-73) — write an EUC-KR file, read with encoding=, and
    # assert the Korean values survive byte-exact
    p = tmp_path / "kr.csv"
    rows = [("1", "아파트", "100"), ("2", "상가", "200")]
    body = "code,유형,보증금\n" + "\n".join(",".join(r) for r in rows)
    p.write_bytes(body.encode("euc-kr"))
    df = read_clean_csv(spark, str(p), encoding="EUC-KR",
                        renames={"유형": "kind", "보증금": "deposit"})
    got = {r["code"]: (r["kind"], r["deposit"]) for r in df.collect()}
    assert got == {1: ("아파트", 100), 2: ("상가", 200)}
    # same bytes read as the UTF-8 default mojibake (sanity: the
    # encoding option is load-bearing, not a no-op)
    bad = read_clean_csv(spark, str(p))
    assert "아파트" not in {r[1] for r in bad.collect()}


def test_bin_clamp_matches_reference_semantics(spark):
    # R: round(x, -1) then pmin(100) pmax(10)  (R:292-296)
    df = spark.createDataFrame([(4.0,), (15.0,), (104.0,), (55.0,)], ["x"])
    out = [r["b"] for r in
           features.bin_clamp(df, "x", "b", -1, 10.0, 100.0)
           .orderBy("x").collect()]
    assert out == [10.0, 20.0, 60.0, 100.0]


def test_ordinal_bucket(spark):
    # R:431-434 bus bins: <2→0, <4→1, <6→2, <9→3, else 4
    df = spark.createDataFrame([(0,), (2,), (5,), (8,), (12,)], ["x"])
    got = [r["b"] for r in
           features.ordinal_bucket(df, "x", "b", [2, 4, 6, 9])
           .orderBy("x").collect()]
    assert got == [0, 1, 2, 3, 4]


def test_impute_group_weighted_mean(spark):
    df = spark.createDataFrame(
        [("g1", None, 1.0), ("g1", 10.0, 2.0), ("g1", 40.0, 1.0),
         ("g2", None, 5.0)],
        "g string, x double, w double")
    out = clean.impute_group_weighted_mean(df, "g", "x", "w")
    g1 = sorted(r["x"] for r in out.where("g = 'g1'").collect())
    # g1 weighted mean = (10*2 + 40*1) / 3 = 20 fills the NULL row
    assert g1 == [10.0, 20.0, 40.0]
    assert out.where("g = 'g2'").collect()[0]["x"] is None  # all-NULL group stays NULL


def test_impute_group_weighted_mean_null_key(spark):
    # NULL group keys form their own group (eqNullSafe join): the two
    # NULL-key rows impute from each other, not stay NULL
    df = spark.createDataFrame(
        [(None, None, 1.0), (None, 30.0, 3.0), ("g1", 7.0, 1.0)],
        "g string, x double, w double")
    out = clean.impute_group_weighted_mean(df, "g", "x", "w")
    nk = sorted(r["x"] for r in out.where("g IS NULL").collect())
    assert nk == [30.0, 30.0]


def test_grouped_median_ignores_nulls_in_small_groups(spark):
    # small-group (n <= accuracy) path: NULL values must not enter the
    # candidate window — they'd rank first and shift the selection
    from parking_bigdata_spark.operators.stats import grouped_median
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("a", 1.0), ("a", 2.0), ("a", 9.0)],
        "g string, v double")
    got = grouped_median(df, "g", "v").collect()[0]["med"]
    assert got == 2.0


def test_ols_matches_numpy(spark, sf_dir):
    from parking_bigdata_spark.io import load_table
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_quantity", "l_discount", "l_extendedprice").toPandas()
    fit = ml.ols_fit(load_table(spark, sf_dir, "lineitem"),
                     ["l_quantity", "l_discount"], "l_extendedprice")
    X = np.column_stack([np.ones(len(li)), li["l_quantity"], li["l_discount"]])
    beta = np.linalg.lstsq(X, li["l_extendedprice"].to_numpy(), rcond=None)[0]
    assert math.isclose(fit["intercept"], beta[0], rel_tol=1e-6)
    assert math.isclose(fit["coef_l_quantity"], beta[1], rel_tol=1e-6)
    assert math.isclose(fit["coef_l_discount"], beta[2], rel_tol=1e-6)


def test_pca_matches_numpy(spark, sf_dir):
    from parking_bigdata_spark.io import load_table
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols).toPandas()
    vals, vecs, means, stds = ml.pca_fit(
        load_table(spark, sf_dir, "lineitem"), cols)
    C = np.corrcoef(li.to_numpy(), rowvar=False)
    expect = np.sort(np.linalg.eigvalsh(C))[::-1]
    assert np.allclose(vals, expect, rtol=1e-8)


def test_vif_detects_collinearity(spark):
    rng = np.random.RandomState(0)
    x1 = rng.randn(500)
    x2 = x1 * 2 + rng.randn(500) * 0.01   # nearly collinear with x1
    x3 = rng.randn(500)
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({"x1": x1, "x2": x2, "x3": x3}))
    rows = {r["feature"]: r["vif"] for r in
            ml.vif_scores(df, ["x1", "x2", "x3"]).collect()}
    assert rows["x1"] > 100 and rows["x2"] > 100
    assert rows["x3"] < 2


def test_minhash_similar_docs_collide(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra tail words here"),
         (3, "completely different content about spark shuffles and joins "
             "partitions executors stages tasks " * 8)],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_pairs(docs, n_perm=32, band_size=4)
             .collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_hamming_locality(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    docs = spark.createDataFrame(
        [(1, base), (2, base + " iota"),
         (3, "totally unrelated words about query optimizers and columnar "
             "storage engines vectorized execution " * 6)],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_cosine_topk_self_similarity(spark):
    import pandas as pd
    rng = np.random.RandomState(1)
    vecs = rng.randn(20, 8).astype("float32")
    vecs[5] = vecs[0] * 0.9  # near-duplicate of vector 0
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(20), "embedding": [v.tolist() for v in vecs]}))
    out = sim.cosine_topk(df, df.where(F.col("vec_id") == 0), k=1)
    top = out.collect()[0]
    assert top["cand_id"] == 5 and top["score"] >= 0.999


def test_ann_lsh_bucket_recall(spark):
    import pandas as pd
    rng = np.random.RandomState(2)
    vecs = rng.randn(50, 64).astype("float32")
    vecs[7] = vecs[3] + rng.randn(64).astype("float32") * 0.01
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(50), "embedding": [v.tolist() for v in vecs]}))
    out = sim.ann_lsh_topk(df, df.where(F.col("vec_id") == 3), k=1,
                           n_planes=4)
    rows = out.collect()
    assert rows and rows[0]["cand_id"] == 7  # near-dup lands in same bucket


def test_zscore_window_matches_apply_in_pandas(spark, sf_dir):
    """The window-based z-score (JVM, shuffle-on-group) must equal the
    grouped-map pandas formulation — documents that the Spark-first
    path is a drop-in for the classic applyInPandas normalize."""
    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.queries.a_core import zscore_by_segment
    import pandas as pd

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["c_acctbal"]
        return pd.DataFrame({
            "c_custkey": pdf["c_custkey"],
            "c_mktsegment": pdf["c_mktsegment"],
            "bal_z": ((s - s.mean()) / s.std(ddof=1)).round(4),
        })

    cust = load_table(spark, sf_dir, "customer")
    via_pandas = {r["c_custkey"]: r["bal_z"] for r in
                  cust.groupBy("c_mktsegment")
                      .applyInPandas(normalize,
                                     "c_custkey long, c_mktsegment string, "
                                     "bal_z double")
                      .collect()}
    via_window = {r["c_custkey"]: r["bal_z"] for r in
                  zscore_by_segment(spark, sf_dir).collect()}
    assert via_window == via_pandas


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length ≥
    k+window-1 share at least one fingerprint; unrelated docs share
    ~none."""
    from parking_bigdata_spark.operators import text as text_ops
    shared = "a long common passage that appears verbatim in both documents"
    docs = spark.createDataFrame(
        [(1, f"prefix one {shared} suffix alpha"),
         (2, f"different opening {shared} other ending"),
         (3, "entirely unrelated content with no overlap at all here")],
        "doc_id long, text string")
    fps = {r["doc_id"]: set(r["winnow_fps"]) for r in
           text_ops.winnow_fingerprints(docs, k=8, window=4).collect()}
    assert len(fps[1] & fps[2]) > 0
    assert len(fps[1] & fps[3]) == 0


def test_streaming_dedup_within_watermark(spark, sf_dir):
    from parking_bigdata_spark.streaming import events as se
    ev = se.read_events_stream(spark, sf_dir)
    union = ev.union(ev)  # simulate a replayed source: every event twice
    q = (se.dedup_stream(union)
         .writeStream.format("memory").queryName("t_dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    from parking_bigdata_spark.io import load_table
    n_unique = load_table(spark, sf_dir, "events").count()
    assert spark.table("t_dedup_stream").count() == n_unique


def test_describe_profile_values(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,)], "x double")
    r = profile.describe_table(df, ["x"]).collect()[0]
    assert r["n"] == 3 and r["n_nulls"] == 1 and r["n_distinct"] == 3
    assert r["mean"] == 2.0 and r["min_val"] == 1.0 and r["max_val"] == 3.0


def test_pii_redact_masks_and_counts(spark):
    from parking_bigdata_spark.operators import text as text_ops
    df = spark.createDataFrame(
        [(1, "mail a.b+c@example.co.uk or call 555-123-4567 now"),
         (2, "двa emails: x@y.io and snake_case%ok@sub.domain.org"),
         (3, "no pii here, just 12345 and a-b-c"),
         (4, "edge 555-1234-4567@host.com stays one email")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_ops.pii_redact(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert "<EMAIL>" in out[1]["redacted"] and "<PHONE>" in out[1]["redacted"]
    assert "555-123-4567" not in out[1]["redacted"]
    assert out[2]["n_emails"] == 2 and out[2]["n_phones"] == 0
    assert out[3]["n_emails"] == 0 and out[3]["n_phones"] == 0
    # email is masked first, so the embedded phone-shaped prefix is
    # consumed by the email match — attributed to exactly one category
    assert out[4]["n_emails"] == 1 and out[4]["n_phones"] == 0


def test_repetition_signals_values(spark):
    from parking_bigdata_spark.operators import text as text_ops
    df = spark.createDataFrame(
        [(1, "a a a a"),            # 1 distinct of 4 words -> 0.75
         (2, "w x y z"),            # all distinct -> 0.0
         (3, "solo")],              # single word: no bigrams
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           text_ops.repetition_signals(df).collect()}
    assert abs(out[1]["dup_word_ratio"] - 0.75) < 1e-12
    assert out[1]["__bigrams"] == ["a a", "a a", "a a"]
    assert out[2]["dup_word_ratio"] == 0.0
    assert out[3]["__bigrams"] == []


def test_connected_components_min_label(spark):
    # two components {1,2,3,4} (chain) and {10, 11}; 4-3-2-1 forces
    # multi-round propagation
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (10, 11)], "src long, dst long")
    out = {r["node"]: r["lbl"]
           for r in dedup.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_decontaminate_flags_shared_grams(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "totally unrelated content words here"),
         (3, "quick brown fox ran off")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "a quick brown fox story")], "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in dedup.decontaminate(corpus, ev, ngram=3).collect()}
    # doc 1 shares "quick brown fox"; doc 3 shares "quick brown fox";
    # doc 2 shares nothing and is absent
    assert set(out) == {1, 3}
    assert out[1]["n_shared_grams"] == 1 and out[1]["n_eval_docs"] == 1


def test_bigram_pmi_counts(spark):
    from parking_bigdata_spark.operators import text as text_ops
    df = spark.createDataFrame(
        [(1, "new york new york new york"),
         (2, "new york city"),
         (3, "old york town")],
        "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           text_ops.bigram_pmi(df, min_count=2, top_k=10).collect()}
    # "new york": pair count 4 (3 in doc1 + 1 in doc2)
    assert out[("new", "york")]["n_pair"] == 4
    # c(new)=4, c(york)=5, N=12 -> pmi = ln(4*12/(4*5))
    assert abs(out[("new", "york")]["pmi"]
               - round(math.log(4 * 12 / 20), 4)) < 1e-9


def test_chunk_tokens_windows_and_short_docs(spark):
    from parking_bigdata_spark.operators import text as text_ops
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"),   # 7 tokens
         (2, "x y"),             # shorter than one window
         (3, "")],               # degenerate: split('') -> ['']
        "doc_id long, text string")
    out = text_ops.chunk_tokens(docs, size=4, stride=2)
    rows = sorted((r["doc_id"], r["chunk_start"], r["n_tokens"])
                  for r in out.collect())
    # doc 1: starts at 1 and 3 (full windows) — sequence caps at n-size+1=4,
    # stride 2 gives [1, 3]; each window is the full 4 tokens
    assert rows == [(1, 1, 4), (1, 3, 4), (2, 1, 2), (3, 1, 1)]
    # content check: window at start 3 of doc 1 is "c d e f"
    import hashlib
    md5s = {(r["doc_id"], r["chunk_start"]): r["chunk_md5"]
            for r in out.collect()}
    assert md5s[(1, 3)] == hashlib.md5(b"c d e f").hexdigest()


def test_unigram_surprisal_hand_computed(spark):
    import math
    from parking_bigdata_spark.operators import text as text_ops
    # corpus: tokens a(3), b(1); N=4 -> p(a)=0.75, p(b)=0.25
    docs = spark.createDataFrame(
        [(1, "a a", "s1"), (2, "a b", "s1")],
        "doc_id long, text string, source string")
    out = {r["source"]: r for r in
           text_ops.unigram_surprisal(docs).collect()}
    nll1 = -math.log(0.75)                       # doc 1: mean(-ln .75)
    nll2 = (-math.log(0.75) - math.log(0.25)) / 2
    assert out["s1"]["n_docs"] == 2
    assert out["s1"]["avg_surprisal"] == round((nll1 + nll2) / 2, 4)
    assert out["s1"]["max_surprisal"] == round(nll2, 4)


def test_hll_sketch_union_accuracy(spark, sf_dir):
    # per-source HLL estimates and their union must land within 5% of
    # the exact distinct counts (lgConfigK=12 keeps error ~1.6% rse);
    # since round 7 the query carries that bound IN-OUTPUT as the
    # hll_within_5pct boolean next to the exact audit count — assert
    # the booleans hold and the audit counts match an independent
    # exact computation
    import pyspark.sql.functions as F

    out = {r["source"]: r
           for r in sketch_hll_union(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.col("text"), r"\s+", " "))
    exact = {r["source"]: r["n"]
             for r in (docs.select("source", fp.alias("fp"))
                           .groupBy("source")
                           .agg(F.countDistinct("fp").alias("n")).collect())}
    exact["__all__"] = (docs.select(fp.alias("fp"))
                            .agg(F.countDistinct("fp").alias("n"))
                            .collect()[0]["n"])
    assert set(out) == set(exact)
    for src, n in exact.items():
        assert out[src]["n_distinct_exact"] == n, src
        assert out[src]["hll_within_5pct"] is True, src


def test_decile_formula_matches_ntile_on_uneven_n(spark, sf_dir):
    # the distributed NTILE arithmetic must agree with the window ntile
    # when n % 10 != 0 (first rem buckets take one extra row) — the
    # testdata row counts divide evenly, so force an uneven subset
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from parking_bigdata_spark.io import load_table

    cust = (load_table(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % 7 == 0)
            .select("c_acctbal", "c_custkey"))
    n = cust.count()
    assert n % 10 != 0, "subset must exercise the uneven branch"

    w = Window.orderBy("c_acctbal", "c_custkey")
    expected = {r["c_custkey"]: r["d"]
                for r in cust.withColumn("d", F.ntile(10).over(w)).collect()}

    d = (cust.repartitionByRange(4, F.col("c_acctbal"), F.col("c_custkey"))
             .withColumn("__pid", F.spark_partition_id()))
    wl = Window.partitionBy("__pid").orderBy("c_acctbal", "c_custkey")
    local = d.withColumn("__rn", F.row_number().over(wl))
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (local.groupBy("__pid").agg(F.max("__rn").alias("__t"))
           .withColumn("__off", F.coalesce(F.sum("__t").over(wo), F.lit(0))))
    tot = off.agg(F.sum("__t").alias("__n"))
    r = F.col("__off") + F.col("__rn")
    q = F.floor(F.col("__n") / 10)
    rem = F.col("__n") % 10
    cutoff = rem * (q + 1)
    decile = (F.when(F.col("__n") < 10, r)
               .when(r <= cutoff, F.floor((r + q) / (q + 1)))
               .otherwise(rem + F.floor((r - cutoff + q - 1) / q)))
    got = {row["c_custkey"]: row["d"] for row in
           (local.join(F.broadcast(off.select("__pid", "__off")), "__pid")
                 .crossJoin(F.broadcast(tot))
                 .withColumn("d", decile.cast("int")).collect())}
    assert got == expected


def test_tie_avg_ranks_by_group_matches_naive_window(spark):
    """Range-partitioned per-group tie ranks must equal the naive
    Window.partitionBy(group).orderBy(value) construction, including
    ties and groups that span range-partition boundaries."""
    from pyspark.sql import Window
    from parking_bigdata_spark.operators import stats

    rows = []
    # two groups, shared values (ties within group), interleaved so
    # range partitioning by value splits each group across partitions
    for g in ("a", "b"):
        for v, t in [(1.0, 3), (2.0, 1), (5.0, 2), (9.0, 1)]:
            if not (g == "b" and v == 2.0):  # asymmetric groups
                rows.append((g, v, t))
    counts = spark.createDataFrame(rows, ["g", "v", "t"]) \
                  .repartition(8)
    got = {(r["g"], r["v"]): r["r"]
           for r in stats.tie_avg_ranks_by_group(
               counts, "g", "v", "t", alias="r").collect()}
    # naive: explode counts to rows, average rank of tied rows
    w = Window.partitionBy("g").orderBy("v") \
              .rowsBetween(Window.unboundedPreceding, 0)
    naive = {(r["g"], r["v"]): r["r"]
             for r in counts.withColumn("cum", F.sum("t").over(w))
                            .select("g", "v",
                                    (F.col("cum") - (F.col("t") - 1) / 2.0)
                                    .alias("r")).collect()}
    assert got == naive
    # hand-check one group: a has rows [1,1,1,2,5,5,9]
    assert got[("a", 1.0)] == 2.0   # ranks 1,2,3 -> avg 2
    assert got[("a", 2.0)] == 4.0
    assert got[("a", 5.0)] == 5.5   # ranks 5,6
    assert got[("a", 9.0)] == 7.0


def test_range_cumsum_matches_naive_window(spark):
    """Range-partitioned cumulative sums must equal the naive global
    ordered window for multiple columns, including duplicate order
    keys split across partitions."""
    from pyspark.sql import Window
    from parking_bigdata_spark.operators import stats

    rows = [(float(v), v % 3, 2 * (v % 5)) for v in range(50)]
    rows += [(7.0, 10, 1), (7.0, 0, 2)]  # ties on the order column
    df = spark.createDataFrame(rows, ["v", "a", "b"]).repartition(7)
    got = stats.range_cumsum(df, "v", ["a", "b"])
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    naive = (df.withColumn("cum_a", F.sum("a").over(w))
               .withColumn("cum_b", F.sum("b").over(w)))
    # compare per distinct order value at the value's LAST position:
    # within-tie ordering differs, so check the tie-group totals
    agg = lambda d: {r["v"]: (r["ca"], r["cb"])
                     for r in d.groupBy("v")
                               .agg(F.max("cum_a").alias("ca"),
                                    F.max("cum_b").alias("cb")).collect()}
    assert agg(got) == agg(naive)
    assert set(got.columns) == {"v", "a", "b", "cum_a", "cum_b"}


def test_grouped_quantiles_many_groups(spark):
    """ADVICE r03 lineage: a high-cardinality group column must never
    reach the driver. Since the round-10 fused rewrite NOTHING about
    the bracket table is driver-side by construction (no collect, no
    checkpoint — one consumer, AQE-picked join), so this now just
    asserts exactness across many groups and multiple fractions on the
    single remaining code path."""
    from parking_bigdata_spark.operators import stats

    rows = [(f"g{g}", float(v)) for g in range(10) for v in range(1, 20)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    got = {r["g"]: (r["p25"], r["p50"], r["p75"])
           for r in stats.grouped_quantiles(
               df, "g", "v", [0.25, 0.5, 0.75],
               ["p25", "p50", "p75"]).collect()}
    assert len(got) == 10
    # percentile_cont over 1..19: p25=5.5, p50=10, p75=14.5
    for g in got:
        assert got[g] == (5.5, 10.0, 14.5), (g, got[g])
    tm = {r["g"]: r["trimmed_mean"]
          for r in stats.grouped_trimmed_mean(df, "g", "v").collect()}
    # trim=0.1: floor(19*0.1)=1 row off each end -> mean(2..18) = 10
    assert all(abs(v - 10.0) < 1e-9 for v in tm.values())


def test_grouped_quantiles_pseudo_run_below_counts(spark):
    """Round-10 fused rewrite: below-bracket rows travel as ONE
    NULL-valued pseudo-run whose count seeds the rank cumulation. Use
    a low accuracy (narrow candidate window around each fraction, so
    below-counts are large and the pseudo-run path is load-bearing),
    heavy ties AT a bracket edge, negative values, and n >> accuracy
    (the non-small path), against a numpy percentile_cont reference."""
    import numpy as np

    from parking_bigdata_spark.operators import stats

    rng = np.random.default_rng(42)
    vals = {
        "x": np.round(rng.normal(0.0, 50.0, 4000), 1),   # negatives, ties
        "y": np.repeat(np.arange(40.0), 100),            # massive ties
    }
    rows = [(g, float(v)) for g, a in vals.items() for v in a]
    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    fracs = [0.1, 0.5, 0.9]
    got = {r["g"]: [r["q0"], r["q1"], r["q2"]]
           for r in stats.grouped_quantiles(
               df, "g", "v", fracs, ["q0", "q1", "q2"],
               accuracy=200).collect()}
    for g, a in vals.items():
        want = [float(np.percentile(a, 100 * p, method="linear"))
                for p in fracs]
        assert np.allclose(got[g], want, rtol=0, atol=1e-9), (g, got[g], want)
    # trimmed mean through the same fused machinery (out-count
    # pseudo-runs on BOTH sides)
    tm = {r["g"]: (r["trimmed_mean"], r["n"])
          for r in stats.grouped_trimmed_mean(
              df, "g", "v", trim=0.1, accuracy=200).collect()}
    for g, a in vals.items():
        k = int(np.floor(len(a) * 0.1))
        want = float(np.sort(a)[k:len(a) - k].mean())
        assert abs(tm[g][0] - want) < 1e-9 and tm[g][1] == len(a)


def test_operators_handle_empty_input(spark):
    """Empty-input hardening: the round-2 operators must return empty
    (or all-NULL-fit) frames, never throw, when the source is empty."""
    from parking_bigdata_spark.operators import similarity as sim
    from parking_bigdata_spark.operators.stats import (grouped_trimmed_mean,
                                                       loess_curve)

    empty_num = spark.createDataFrame([], "g string, v double")
    assert grouped_trimmed_mean(empty_num, "g", "v").count() == 0

    fits = loess_curve(empty_num.withColumnRenamed("v", "x")
                       .withColumn("y", F.lit(None).cast("double")),
                       "x", "y", [1.0, 2.0], 1.0).collect()
    assert len(fits) == 2 and all(r["loess_fit"] is None for r in fits)

    empty_vec = spark.createDataFrame([], "vec_id long, embedding array<double>")
    one_vec = spark.createDataFrame([(1, [1.0] * 64)],
                                    "vec_id long, embedding array<double>")
    assert sim.embedding_near_dup_pairs_lsh(one_vec).count() == 0
    assert sim.cosine_topk(one_vec, empty_vec).count() == 0
    assert sim.cosine_topk(empty_vec, one_vec).count() == 0
